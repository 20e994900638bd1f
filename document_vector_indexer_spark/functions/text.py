"""Text column expressions — the reference's string pipeline, JVM-side.

Everything here is a pure ``pyspark.sql.functions`` composition (no
Python UDFs): whole-stage-codegen friendly, vectorized, and runs at
full JVM speed on a 1000-executor cluster. Each function documents the
reference behavior it reproduces (cites into
``/root/reference/index_documents.py``).

Unicode note: Spark SQL strings are UTF8String with CODE-POINT
semantics for length/substring (unlike java.lang.String's UTF-16 code
units), so chunk offsets match Python exactly even for astral-plane
characters — verified by tests/test_chunkers_golden.py::
test_unicode_codepoint_parity.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Python's str whitespace set (str.isspace), written as an explicit
# Java-regex class: the reference strips/splits with Python semantics,
# where \s and .strip() cover Unicode whitespace (NBSP, ideographic
# space, ...), while Java's bare \s is ASCII-only. Oracle SQL may keep
# plain \s because oracle-checked queries run on cleaned ASCII corpus
# text; these expressions must match the reference on *raw* input too.
PY_WS = "\\s\\x1c-\\x1f\\x85\\xa0\\u1680\\u2000-\\u200a\\u2028\\u2029\\u202f\\u205f\\u3000"
_WS_EDGE = f"^[{PY_WS}]+|[{PY_WS}]+$"


def strip(col: Column | str) -> Column:
    """Python ``str.strip()`` equivalent (all whitespace, both ends).

    Spark's ``trim`` only removes ' ' — this removes tabs/newlines too,
    matching the reference's pervasive ``.strip()`` calls
    (index_documents.py:63,70,77,93).
    """
    return F.regexp_replace(F.col(col) if isinstance(col, str) else col, _WS_EDGE, "")


def clean_text(col: Column | str) -> Column:
    """Reference ``clean_text`` (index_documents.py:58-63) as one expr:

    1. NBSP -> space
    2. runs of spaces/tabs -> single space
    3. 3+ newlines -> exactly 2
    4. strip
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, " ", " ")
    c = F.regexp_replace(c, "[ \t]+", " ")
    c = F.regexp_replace(c, "\n{3,}", "\n\n")
    return strip(c)


def split_paragraphs(col: Column | str) -> Column:
    """Reference ``split_paragraphs`` (index_documents.py:69-70):
    split on blank lines, strip each, drop empties. Returns array<string>.
    """
    c = F.col(col) if isinstance(col, str) else col
    parts = F.split(c, f"\\n[{PY_WS}]*\\n")
    stripped = F.transform(parts, lambda p: F.regexp_replace(p, _WS_EDGE, ""))
    return F.filter(stripped, lambda p: p != "")


def split_sentences(col: Column | str) -> Column:
    """Reference ``split_sentences`` (index_documents.py:72-77):
    strip text, split at whitespace runs preceded by ``.!?``, strip each,
    drop empties. Returns array<string>.

    Implemented as replace-then-split (punct + ws-run -> punct + \\x01)
    rather than a lookbehind split so the exact same transformation is
    expressible in RE2-based oracles (DuckDB has no lookbehind); the
    boundary positions are identical.
    """
    c = strip(col)
    marked = F.regexp_replace(c, f"([.!?])[{PY_WS}]+", "$1\x01")
    parts = F.split(marked, "\x01")
    stripped = F.transform(parts, lambda p: F.regexp_replace(p, _WS_EDGE, ""))
    return F.filter(stripped, lambda p: p != "")


def fixed_windows(col: Column | str, chunk_size: int, overlap: int) -> Column:
    """Reference ``chunk_fixed_with_overlap`` (index_documents.py:79-103)
    as a pure expression. Returns array<string> of stripped, non-empty
    character windows ``[k*step, k*step+chunk_size)`` where
    ``step = chunk_size - overlap``, stopping at the first window that
    reaches the end of the text (so no degenerate tail windows).

    Window count: the loop emits starts ``0, step, 2*step, ...`` up to
    and including the first ``k`` with ``k*step + chunk_size >= n``,
    i.e. ``k_max = ceil(max(0, n - chunk_size) / step)``.
    """
    if chunk_size <= 0:
        raise ValueError("chunk_size must be > 0")
    if overlap < 0 or overlap >= chunk_size:
        raise ValueError("overlap must satisfy 0 <= overlap < chunk_size")
    c = F.col(col) if isinstance(col, str) else col
    step = chunk_size - overlap
    n = F.length(c)
    k_max = F.when(n <= chunk_size, F.lit(0)).otherwise(
        F.ceil((n - F.lit(chunk_size)) / F.lit(step)).cast("int")
    )
    starts = F.sequence(F.lit(0), k_max * step, F.lit(step))
    windows = F.transform(
        starts, lambda s: F.regexp_replace(c.substr(s + 1, F.lit(chunk_size)), _WS_EDGE, "")
    )
    return F.filter(windows, lambda w: w != "")


def group_sentences(sentences: Column, chunk_size: int) -> Column:
    """Reference sentence-grouping (index_documents.py:110-129): greedily
    pack a document's sentences into buffers of up to
    ``target = max(200, chunk_size)`` chars (joined with single spaces),
    flushing *before* a sentence that would overflow a non-empty buffer.

    Implemented with the ``aggregate`` higher-order function; the
    accumulator ``struct(groups array<string>, buf string, bl int)``
    mirrors the reference's bookkeeping *exactly*, including its
    quirk: every append adds ``len(s) + 1`` (index_documents.py:125) —
    even the very first — while a flush resets to ``len(s)`` with no
    +1 (index_documents.py:122). The first buffer therefore carries a
    phantom +1 and holds one char less than later buffers; tracking
    ``length(buf)`` instead would diverge on boundary inputs.

    Sequential per document but embarrassingly parallel across
    documents — each doc's sentence array lives in one row, so the
    operator needs no shuffle at any scale.
    """
    target = max(200, chunk_size)
    zero = F.struct(
        F.array().cast("array<string>").alias("groups"),
        F.lit("").alias("buf"),
        F.lit(0).alias("bl"),
    )

    def merge(acc: Column, s: Column) -> Column:
        overflow = (acc["buf"] != "") & (
            acc["bl"] + F.length(s) + 1 > F.lit(target)
        )
        return F.when(
            overflow,
            F.struct(
                F.concat(acc["groups"], F.array(acc["buf"])).alias("groups"),
                s.alias("buf"),
                F.length(s).alias("bl"),
            ),
        ).otherwise(
            F.struct(
                acc["groups"].alias("groups"),
                F.when(acc["buf"] == "", s)
                .otherwise(F.concat_ws(" ", acc["buf"], s))
                .alias("buf"),
                (acc["bl"] + F.length(s) + 1).alias("bl"),
            )
        )

    def finish(acc: Column) -> Column:
        return F.when(
            acc["buf"] != "", F.concat(acc["groups"], F.array(acc["buf"]))
        ).otherwise(acc["groups"])

    return F.aggregate(sentences, zero, merge, finish)


def word_tokens(col: Column | str) -> Column:
    """Whitespace tokenization -> array<string>, empties dropped."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(strip(c), f"[{PY_WS}]+"), lambda w: w != "")


M31 = 2147483647  # 2^31 - 1, the portable-hash modulus; keeps the fold in long range


def char_fold(s: Column, mod: int) -> Column:
    """Portable char-fold hash of a string column:
    ``fold(chars, 0, (a, c) -> (a*131 + ascii(c)) % mod)``. Pure
    integer arithmetic, reproducible in any engine (the oracle SQL
    mirrors it), unlike murmur-based builtins. Two moduli are in use:
    ``M31`` for the dedup and sampling hashes, 1e9+7 for the CDC word
    codes (``chunking.CDC_MOD``).

    Folds over ``split(s, '')``: a per-char ``substring(s, i, 1)``
    re-seeks the UTF8 string from the start (O(i) per char, quadratic
    per string). ``ascii(c)`` is the code point either way, so the
    values are the same."""
    return F.aggregate(
        F.split(s, ""),
        F.lit(0).cast("long"),
        lambda a, c: (a * 131 + F.ascii(c)) % F.lit(mod).cast("long"),
    )


def token_count_ws(col: Column | str) -> Column:
    """Whitespace token count (long)."""
    return F.size(word_tokens(col)).cast("long")


def token_count_bpe_ish(col: Column | str) -> Column:
    """BPE-ish token estimate: count of maximal runs of word chars,
    digits, or single non-space punctuation — a deterministic regex
    proxy for subword tokenizers (long).
    """
    c = F.col(col) if isinstance(col, str) else col
    # one marker per token: letter-runs, digit-runs, single punct
    tokens = F.filter(
        F.split(F.regexp_replace(c, r"([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])", "$1\x01"), "\x01"),
        lambda w: F.regexp_replace(w, r"\s+", "") != "",
    )
    # splitting on the marker leaves inter-token whitespace attached to
    # the *next* piece; whitespace-only pieces (e.g. trailing spaces)
    # are dropped above. We only count, so the attachment is irrelevant.
    return F.size(tokens).cast("long")
