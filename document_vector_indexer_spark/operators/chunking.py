"""Document chunking as a distributed DataFrame operator.

Re-expresses the reference's three strategies
(``/root/reference/index_documents.py:67-134``: fixed / sentence /
paragraph) Spark-first: per-document arrays built with pure column
expressions (functions.text), then ``posexplode`` into a chunk table.

Scale design:
- The chunk array is built row-local (no shuffle); ``posexplode`` is a
  narrow transformation, so fixed/sentence/paragraph chunking has no
  shuffle at all (cdc repartitions once by document id).
- Chunk ordinal (``chunk_pos``) comes from ``posexplode`` — free and
  deterministic. A *global* dense id (the reference's SERIAL column,
  index_documents.py:217) is not assigned here: ``plans.pipeline.
  number_chunks`` derives it from ``(filename, split_strategy,
  chunk_pos)``. Never ``monotonically_increasing_id`` in checked
  output (unstable across retries/partitionings).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from document_vector_indexer_spark.functions import text as TX

STRATEGIES = ("fixed", "sentence", "paragraph")


def chunk_array(
    text_col: Column | str,
    strategy: str,
    chunk_size: int = 1200,
    overlap: int = 200,
) -> Column:
    """array<string> of chunks for one document's text column.

    Dispatch mirrors ``split_to_chunks`` (index_documents.py:106-134),
    including its parameter validation (index_documents.py:83-86) and
    unknown-strategy error (index_documents.py:134).
    """
    if strategy == "paragraph":
        return TX.split_paragraphs(text_col)
    if strategy == "sentence":
        return TX.group_sentences(TX.split_sentences(text_col), chunk_size)
    if strategy == "fixed":
        return TX.fixed_windows(text_col, chunk_size, overlap)
    raise ValueError(f"Unknown strategy: {strategy}")


def chunk_documents(
    df: DataFrame,
    strategy: str = "fixed",
    chunk_size: int = 1200,
    overlap: int = 200,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """documents -> chunk table ``(id_cols..., chunk_pos, chunk_text,
    split_strategy)`` with one row per chunk, document order preserved
    in ``chunk_pos`` (0-based).

    ``strategy="cdc"`` routes to the content-defined chunker (4th
    strategy beyond the reference's three): word rolling-hash
    boundaries, so chunk-level dedup stays stable under edits.
    ``chunk_size``/``overlap`` do not apply there (expected chunk
    length is CDC_DIVISOR words); single id column only.
    """
    if strategy == "cdc":
        if len(id_cols) != 1:
            raise ValueError(
                "cdc chunking keys on exactly one id column; join extra "
                f"columns back afterwards (got {id_cols})"
            )
        return (
            chunk_cdc(df, text_col=text_col, id_col=id_cols[0])
            .drop("n_words")
            .withColumn("split_strategy", F.lit("cdc"))
        )
    arr = chunk_array(F.col(text_col), strategy, chunk_size, overlap)
    return df.select(
        *id_cols, F.posexplode(arr).alias("chunk_pos", "chunk_text")
    ).withColumn("split_strategy", F.lit(strategy))


# --- content-defined chunking (CDC) ----------------------------------

# Rolling-window parameters: boundary after word i when the hash of
# the trailing CDC_WINDOW words ≡ CDC_DIVISOR-1 (mod CDC_DIVISOR) —
# expected chunk length = CDC_DIVISOR words. Plain Rabin-style CDC
# (no min/max clamps — FastCDC's clamps need a sequential scan; the
# unclamped form is stateless per position, hence exactly
# SQL-expressible AND embarrassingly parallel).
CDC_WINDOW = 4
CDC_DIVISOR = 64
CDC_BASE = 257
# Word codes are the full char fold (TX.char_fold) mod CDC_MOD, in
# lockstep with textops._SQL_CDC_CHUNKS and the tests' _py_cdc_cuts.
# The earlier len*17+first-codepoint code was too weak: a vocabulary
# sharing one first letter (caught by a planted adversarial test)
# yields so few distinct codes that the boundary condition can NEVER
# fire and CDC degrades to whole-doc chunks.
CDC_MOD = 1_000_000_007


def _cdc_window_hash(codes: Column, i: Column) -> Column:
    """Integer hash of the ≤CDC_WINDOW word CODES ending at 1-based
    ``i`` — fold (acc*B + code) % M, bit-identical in any engine.
    Unrolled to CDC_WINDOW O(1) ``element_at`` lookups on the
    precomputed code array; out-of-range leading positions contribute
    0, which is fold-identity ((0*B + 0) % M == 0), so short prefixes
    hash exactly like a clamped-slice fold. The previous
    slice+aggregate form allocated a sub-array per window POSITION —
    the r5 scaling measurement put chunk_cdc's data cost at 3.9 s for
    sf0.1 with most of it right here; hash VALUES are unchanged, so
    the SQL mirror and the pure-Python oracle are untouched."""
    mod = F.lit(CDC_MOD).cast("long")
    h = F.lit(0).cast("long")
    for back in range(CDC_WINDOW - 1, -1, -1):
        code = (
            F.when(i > back, F.element_at(codes, (i - back).cast("int")))
            .otherwise(F.lit(0))
            .cast("long")
        )
        h = (h * CDC_BASE + code) % mod
    return h


def chunk_cdc(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Content-defined chunking over word tokens: cut after word i
    whenever the rolling window hash hits the divisor target. The
    boundary depends only on a local window, so edits shift chunking
    for O(window) words instead of the whole document tail — THE
    chunker property that keeps chunk-level dedup stable under
    insertions (the failure mode of fixed-size chunking).

    Returns (id_col, chunk_pos, n_words, chunk_text). Scale: one
    Exchange barrier on the id (the lambda-boundary CSE rule —
    vocab_topk precedent: tokenizing behind the barrier keeps every
    downstream HOF referencing plain attributes), then everything is
    map-side; cost O(n_words × (word_len + window)) per document
    (codes fold once per word, window hashes fold over ints).
    """
    n = F.size(F.col("words"))
    interior = F.when(
        n > 1,
        F.filter(
            F.sequence(F.lit(1), n - 1),
            lambda i: _cdc_window_hash(F.col("codes"), i)
            % CDC_DIVISOR
            == CDC_DIVISOR - 1,
        ),
    ).otherwise(F.array().cast("array<int>"))
    cuts = F.concat(F.array(F.lit(0)), interior, F.array(n))
    chunks = F.transform(
        F.sequence(F.lit(1), F.size(F.col("cuts")) - 1),
        lambda k: F.array_join(
            F.slice(
                F.col("words"),
                F.element_at(F.col("cuts"), k) + 1,
                F.element_at(F.col("cuts"), k + 1)
                - F.element_at(F.col("cuts"), k),
            ),
            " ",
        ),
    )
    words_df = df.repartition(F.col(id_col)).select(  # CSE barrier
        F.col(id_col), TX.word_tokens(F.col(text_col)).alias("words")
    )
    # per-word codes ONCE (multi-use alias — CollapseProject keeps the
    # stage; each window position then folds 4 ints, not 4 whole words)
    coded = words_df.select(
        id_col,
        "words",
        F.transform(
            F.col("words"), lambda w: TX.char_fold(w, CDC_MOD)
        ).alias("codes"),
    )
    return (
        coded.select(id_col, "words", cuts.alias("cuts"))
        .select(id_col, F.posexplode(chunks).alias("chunk_pos", "chunk_text"))
        .filter(F.length("chunk_text") > 0)
        .select(
            id_col,
            "chunk_pos",
            TX.token_count_ws(F.col("chunk_text")).alias("n_words"),
            "chunk_text",
        )
    )
