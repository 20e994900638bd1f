"""Training-data preparation operators: deterministic splits, sequence
packing, and repetition scoring — the ops a pretraining pipeline runs
between dedup and the trainer.

Everything here is deterministic pure-column arithmetic (no RNG state,
no UDFs), so results are reproducible run-to-run, engine-portable, and
oracle-checkable — at 100 TB that determinism is what makes a split or
a pack assignment auditable and resumable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from document_vector_indexer_spark.functions import text as TX

_M31 = 2147483647  # the engine's portable-hash modulus (operators/dedup.py)


def portable_hash_fraction(key: Column, salt: str = "") -> Column:
    """Map a key to a deterministic fraction in [0, 1): char-fold hash
    of ``salt:key``, then three Lehmer/minstd scrambling rounds
    (h <- h*48271 mod M31), divided by M31. Pure integer arithmetic
    reproducible in any engine; the salt decorrelates independent uses
    (split vs sampling vs sharding) of the same key.

    The Lehmer rounds are load-bearing: the raw char fold of a short
    sequential key ('split:123' is ~9 chars) wraps the modulus only a
    few times and lands wildly non-uniform (measured deciles up to 5x
    over/under on 20k sequential ids); two full-period MLCG rounds
    already restore every decile to 1.00 +/- 0.01, three adds margin.

    Map-side only: at any scale this is a projection, no shuffle."""
    return portable_hash_units(key, salt).cast("double") / F.lit(float(_M31))


def portable_hash_units(key: Column, salt: str = "") -> Column:
    """The integer hash h in [0, M31) behind
    :func:`portable_hash_fraction` — use directly for exact
    cross-multiplied threshold tests (``h * q < p * M31`` keeps a
    probability-p decision in pure longs, no double ever)."""
    s = F.concat_ws(":", F.lit(salt), key.cast("string"))
    # split-fold, not sequence+substring: per-char substring re-seeks
    # the UTF8 string (O(i) each — the r5 CDC scaling fix); ascii(c)
    # is codepoint-identical, hash values unchanged
    h = F.aggregate(
        F.split(s, ""),
        F.lit(0).cast("long"),
        lambda a, c: (a * 131 + F.ascii(c)) % F.lit(_M31).cast("long"),
    )
    for _ in range(3):
        h = (h * 48271) % F.lit(_M31).cast("long")
    return h


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[tuple[str, float], ...] = (
        ("train", 0.8),
        ("val", 0.1),
        ("test", 0.1),
    ),
    salt: str = "split",
) -> DataFrame:
    """Assign every row to a named split by hashing its id against
    cumulative weight thresholds. Unlike ``randomSplit`` this is stable
    across runs, partitionings, and engines: a doc's split is a pure
    function of (salt, id), so re-running the pipeline on a grown
    corpus never moves an existing doc between train and test
    (the leakage-on-refresh failure mode of sampled splits).

    Adds a ``split`` column; no shuffle."""
    total = sum(w for _, w in weights)
    frac = portable_hash_fraction(F.col(id_col), salt=salt)
    expr = None
    acc = 0.0
    for name, w in weights[:-1]:
        acc += w / total
        cond = frac < F.lit(acc)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = weights[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)


def pack_sequences(
    df: DataFrame,
    context_len: int,
    token_col: Column | str,
    order_col: str = "doc_id",
    part_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign docs to fixed-budget packs by running-token offset — the
    concat-then-chunk sequence packing used to build pretraining
    batches. Pack p of stream s covers token offsets
    [p*context_len, (p+1)*context_len); a doc starts in the pack its
    cumulative offset falls into and ``straddles`` marks docs crossing
    a pack boundary (split across two training sequences).

    Deterministic: the (part_col, order_col) stream order fully fixes
    the assignment. Scale: one shuffle — the window partitions by
    ``part_col`` (stream id); production packs per shard/date stream,
    so no global ordering is ever needed. The whole assignment is one
    window cumsum, no iteration.

    Adds (tokens, pack_id, pack_offset, straddles)."""
    tokens = F.col(token_col) if isinstance(token_col, str) else token_col
    w = (
        Window.partitionBy(part_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = df.withColumn("tokens", tokens.cast("long"))
    cum_before = F.coalesce(F.sum("tokens").over(w), F.lit(0).cast("long"))
    return (
        out.withColumn("pack_offset", cum_before % context_len)
        .withColumn(
            "pack_id",
            F.concat_ws(
                ":", F.col(part_col), (cum_before / context_len).cast("long")
            ),
        )
        .withColumn(
            "straddles",
            (F.col("pack_offset") + F.col("tokens")) > F.lit(context_len),
        )
    )


def _gram_hash_rows(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, _gh) rows — one per word ``n``-gram occurrence, as int64
    char-fold hashes from the vectorized prefix-hash kernel
    (dedup._gram_hashes_arrow). The kernel computes each gram's hash
    per DOCUMENT ROW independently (two rows sharing an id never mix
    their tokens), so no window and no gram STRING ever materializes:
    per-gram string assembly over the train split was
    q_decontaminate's measured sf100 wall (273.6 s, the largest
    absolute)."""
    from document_vector_indexer_spark.operators.dedup import (
        _gram_hashes_arrow,
    )

    words = df.select(
        F.col(id_col), TX.word_tokens(F.col(text_col)).alias("_words")
    )
    return _gram_hashes_arrow(words, n, id_col)


def contamination_hits(
    df: DataFrame,
    bench_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    n: int = 5,
    bench_broadcast: bool | None = None,
    bench_broadcast_max_bytes: int = 512 << 20,
) -> DataFrame:
    """Benchmark decontamination: for each training doc sharing at
    least one word ``n``-gram with the benchmark corpus, report how
    many of its distinct n-grams are contaminated — the standard
    test-set-leakage sweep run before pretraining (13-grams on web
    documents; proportionally shorter for short docs).

    Scale shape: the benchmark side is tiny compared to the corpus
    (thousands of eval rows vs billions of train docs), so its distinct
    n-gram set is BROADCAST and the probe is a map-side hash join — no
    join shuffle of train data at all. A gram is represented by its
    int64 char-fold HASH on both sides (kernel-computed — the broadcast
    set is 8-byte longs instead of gram strings, and no gram string is
    ever built): gram identity is hash identity, the same declared
    semantics as dup_substring_stats (M31 collisions can merge two
    distinct grams; the SQL oracle applies the identical fold so
    results match value-for-value). The tail is SINGLE-PASS: the old
    hits-join-counts plan referenced the gram frame twice, and with a
    Python kernel in the subtree ReuseExchange can never merge the two
    copies (two mapInPandas calls are not canonically equal), so the
    corpus would be tokenized + hashed TWICE; instead ONE distinct on
    (id, hash) — map-side partial aggregation dedups before the narrow
    16-byte-row shuffle — feeds a broadcast LEFT probe of the bench
    set, and one id-keyed aggregation counts total and hit grams
    together. Two narrow exchanges, one pass over the corpus.

    BEHAVIOR CHANGE CALLOUT (r13, for callers upgrading from gram
    strings): a flagged doc can be a hash FALSE POSITIVE — a doc
    sharing no real n-gram with the benchmark is flagged when one of
    its gram hashes collides with a bench gram hash, expected
    ~(doc_grams x bench_grams)/2^31 per doc; and ``n_grams`` counts
    DISTINCT HASHES, which can undercount distinct grams by in-doc
    collisions at the same rate. Exact gram identity is not a mode of
    this operator: tests/test_trainprep.py checks it against Python
    gram sets (equal on a collision-free fixture, and a constructed
    collision that only the hash flags). Callers auditing individual
    flagged docs re-check their grams outside the operator.

    Broadcast-pin limit (r14, guard IMPLEMENTED r15): the forced
    ``F.broadcast(bench_keys)`` is correct for the operator's contract
    — an eval BENCHMARK of thousands of rows, ~10^5-10^6 distinct gram
    hashes, single-digit MBs (measured constant at that shape in
    SCALE.md §r14). If a caller feeds a bench side whose distinct-gram
    count approaches ~10^8 (hundreds of MBs of longs before
    hashed-relation overhead; the registry fixture's 10%-of-corpus
    split at the largest tested scale is the known example, where the
    broadcast build was observed to fail under heap pressure), the
    broadcast is the wrong PLAN, not a tuning problem: at that size
    the bench side is corpus-shaped data and the probe becomes a
    MERGE-pinned hash-keyed join (sort-merge spills gracefully where
    a forced hash build cannot — the q_tpch_q21 lesson; guide §3.1).
    ``bench_broadcast=None`` (default) decides from the Catalyst
    size estimate of ``bench_df``'s optimized plan (driver-side, no
    job): broadcast iff the estimated BENCH INPUT bytes are <=
    ``bench_broadcast_max_bytes`` (default 512 MB — at ~6 input bytes
    per word-gram that corresponds to ~0.8e8 distinct gram hashes,
    just under the observed ~1e8 failure regime). The estimate
    deliberately reads the RAW bench frame, not the kernel output:
    Catalyst statistics cannot see through the MapInPandas gram
    kernel, while the scan-level estimate is file-size-grounded.
    Callers that know better pass ``bench_broadcast=True/False``.
    Either regime returns identical values (join strategy, never
    semantics). A stats-less bench frame (``createDataFrame``, an RDD
    or another in-memory source: Catalyst reports the default size,
    Long.MaxValue) takes the MERGE path under the default however
    small it is, so callers with small in-memory bench frames pass
    ``bench_broadcast=True`` to keep the broadcast probe.

    Returns (``id_col``, n_contaminated, n_grams) for flagged docs only.
    """
    btext = bench_text_col or text_col
    # the bench side needs only a text column (an eval set often has no
    # train-side id); synthesize a row id for the gram kernel if absent
    bench = (
        bench_df
        if id_col in bench_df.columns
        else bench_df.withColumn(id_col, F.monotonically_increasing_id())
    )
    key = "_gh"
    bench_keys = _gram_hash_rows(bench, btext, id_col, n).select(key).distinct()
    dg = _gram_hash_rows(df, text_col, id_col, n).select(id_col, key).distinct()
    if bench_broadcast is None:
        est = int(
            str(
                bench_df._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .sizeInBytes()
            )
        )
        bench_broadcast = est <= bench_broadcast_max_bytes
    marked = bench_keys.withColumn("_hit", F.lit(True))
    if bench_broadcast:
        probed = dg.join(F.broadcast(marked), key, "left")
    else:
        probed = dg.join(marked.hint("merge"), key, "left")
    return (
        probed.groupBy(id_col)
        .agg(
            F.count(F.when(F.col("_hit"), 1)).alias("n_contaminated"),
            F.count("*").cast("long").alias("n_grams"),
        )
        .filter(F.col("n_contaminated") > 0)
        .select(id_col, "n_contaminated", "n_grams")
    )


def mix_sources(
    df: DataFrame,
    weight_expr: Column,
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Deterministic down-sampling to a target source mixture — the
    data-mixing step that turns raw per-source volumes into the
    proportions a training run wants (e.g. up-weight books, down-weight
    boilerplate web).

    Given per-source target weights (``weight_expr``, any expression
    over ``source_col``), the largest achievable mixture keeps
    T = min_s(n_s / p_s) total docs (p_s = normalized weight): every
    source s keeps rate_s = p_s * T / n_s of its docs, chosen per doc
    by the portable hash fraction — so membership is a pure function of
    (salt, id): stable across runs, partitionings, and corpus growth,
    and the whole selection is auditable after the fact.

    Scale shape: one tiny per-source count aggregation, two scalar
    aggregates over that #sources-row frame joined back via broadcast
    (never a window over an unpartitioned big frame), then a map-side
    filter on the corpus — the only full shuffle is the count.

    Returns ``df``'s kept rows plus (_n_source, _rate) bookkeeping
    columns (callers aggregate their own manifest).
    """
    counts = df.groupBy(source_col).agg(F.count("*").alias("_n_source"))
    wdf = counts.withColumn("_wt", weight_expr)
    tot = wdf.agg(F.sum("_wt").alias("_sw"))
    caps = (
        wdf.crossJoin(F.broadcast(tot))
        .withColumn("_p", F.col("_wt") / F.col("_sw"))
        .withColumn("_cap", F.col("_n_source") / F.col("_p"))
    )
    t = caps.agg(F.min("_cap").alias("_T"))
    rates = (
        caps.crossJoin(F.broadcast(t))
        .withColumn(
            "_rate",
            F.least(F.lit(1.0), F.col("_p") * F.col("_T") / F.col("_n_source")),
        )
        .select(source_col, "_n_source", "_rate")
    )
    frac = portable_hash_fraction(F.col(id_col), salt=salt)
    return df.join(F.broadcast(rates), source_col).filter(frac < F.col("_rate"))


def repetition_ratio_from_words(words: Column, n: int = 2) -> Column:
    """Within-document repetition: 1 - distinct/total word n-grams —
    the duplicate-n-gram-fraction quality signal (high values flag
    boilerplate and degenerate repetition). NULL when the doc has no
    n-grams.

    Takes a MATERIALIZED words array: element_at inside the transform
    lambda re-evaluates the words expression per element (lambda
    boundary CSE, see ngram_jaccard_pairs), so bulk callers must put an
    Exchange between tokenization and this expression."""
    grams = F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: F.concat_ws(
                " ",
                *[F.element_at(words, (i + j + 1).cast("int")) for j in range(n)],
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    total = F.size(grams)
    return F.when(
        total > 0,
        1.0 - F.size(F.array_distinct(grams)).cast("double") / total.cast("double"),
    )


def repetition_ratio(text: Column | str, n: int = 2) -> Column:
    """``repetition_ratio_from_words`` over freshly tokenized text —
    fine ad hoc / unit scale; for bulk use the from_words form behind
    an Exchange (the tokenizer re-evaluates per element here)."""
    col = F.col(text) if isinstance(text, str) else text
    return repetition_ratio_from_words(TX.word_tokens(col), n=n)


def drop_boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int = 2,
    out_col: str = "clean_text",
) -> DataFrame:
    """Corpus-level boilerplate-line removal (the C4/RefinedWeb line
    hygiene pass): a line whose trimmed text occurs in more than
    ``max_df`` distinct documents is boilerplate (nav bars, cookie
    banners, license headers) and is dropped from every document;
    everything else — including blank lines — is kept verbatim, order
    preserved.

    Two passes, as the semantics force (the drop set is a *corpus*
    property):

    1. explode lines -> one (trimmed-line)-keyed aggregation counting
       distinct docs -> filter ``df > max_df``. Heavy-hitter output by
       construction: only lines repeated across documents survive, so
       the result is small even when the corpus is not.
    2. collapse the drop set to ONE row holding an array, broadcast it,
       and rewrite each document map-side with an array ``filter`` over
       its own split lines — no explode of the corpus on the rewrite
       side, no reassembly shuffle (the 1-row broadcast join is the
       same pattern as queries/extras.py's scalar-aggregate join).

    Scale note: the broadcast bounds this at a drop set that fits in
    executor memory (millions of lines — fine for boilerplate whose
    definition is "repeated"). If a pathological corpus overflows it,
    the fallback is explode + broadcast LEFT ANTI + windowed
    reassembly; same first pass either way.
    """
    strip = lambda l: F.regexp_replace(l, r"^\s+|\s+$", "")
    lines = df.select(
        F.col(id_col).alias("_bid"),
        F.explode(F.split(F.col(text_col), "\n")).alias("_l"),
    ).select("_bid", strip(F.col("_l")).alias("_k"))
    drop_set = (
        lines.filter(F.col("_k") != "")
        .groupBy("_k")
        .agg(F.count_distinct("_bid").alias("_df"))
        .filter(F.col("_df") > max_df)
        .agg(F.collect_list("_k").alias("_boiler"))
    )
    out = (
        df.join(F.broadcast(drop_set))
        .withColumn(
            out_col,
            F.array_join(
                F.filter(
                    F.split(F.col(text_col), "\n"),
                    lambda l: ~F.array_contains(F.col("_boiler"), strip(l)),
                ),
                "\n",
            ),
        )
        .drop("_boiler")
    )
    return out


def stratified_sample(
    df: DataFrame,
    strata_cols: tuple[str, ...],
    k: int,
    id_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Deterministic k-per-stratum sample: rank rows inside each
    stratum by ``md5(salt:id)`` and keep the k smallest. Unlike
    ``sampleBy`` this is exact (every stratum yields min(k, size) rows)
    and stable across runs/partitionings — the property that makes eval
    subsets and human-review batches reproducible.

    One shuffle on the strata key. A stratum heavier than one
    executor's window buffer bottlenecks its task; if strata are known
    to be huge, pre-thin with ``portable_hash_fraction(id) < p`` (the
    hash orders are aligned, so thinning then ranking yields the same
    top-k as ranking directly whenever p retains >= k rows).

    Adds ``sample_rk`` (1-based rank within the stratum)."""
    key = F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string")))
    w = Window.partitionBy(*[F.col(c) for c in strata_cols]).orderBy(key)
    return (
        df.withColumn("sample_rk", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rk") <= k)
    )


def length_weighted_sample(
    df,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    cap_tokens: int = 512,
    salt: str = "lw",
):
    """Probability-proportional-to-length Bernoulli sampling: keep a
    doc with p = min(1, tokens/cap) — the standard token-budget
    subsample that keeps the TOKEN distribution (not the doc count)
    representative when long docs carry most of the training signal.

    The keep decision is the exact cross-multiplied integer test
    ``h * cap < tokens * M31`` (h = portable_hash_units) — no double
    is ever compared, so the sample is bit-stable across engines,
    runs, partitionings, AND corpus growth (a doc's fate is a pure
    function of (salt, id, its own length) — the hash_split
    no-leakage-on-refresh property, weighted edition).

    Map-side projection + filter; zero shuffles. Adds ``p_ppm``.
    """
    h = portable_hash_units(F.col(id_col), salt=salt)
    t = F.col(tokens_col).cast("long")
    return (
        df.withColumn("_h", h)
        .filter(F.col("_h") * cap_tokens < t * _M31)
        .withColumn(
            "p_ppm",
            F.least(F.lit(1_000_000).cast("long"), F.expr(
                f"CAST({tokens_col} AS BIGINT) * 1000000 DIV {cap_tokens}"
            )),
        )
        .drop("_h")
    )
