"""Deduplication operators for LLM training-data pipelines.

Tiers (SURVEY.md §2B vector ops + north-star extensions):
- exact         — hash group-by / keep-first (one shuffle on the hash)
- ngram_jaccard — exact n-gram set Jaccard over blocked candidate
                  pairs (explode -> inverted index on shingle; linear
                  in total shingles, never a cross join)
- simhash       — portable 32-bit SimHash as pure integer column
                  arithmetic (bit-identical in any engine)
- minhash       — portable banded MinHash (``minhash_portable_pairs``):
                  char-fold shingle hashes, affine permutations mod
                  M31, band buckets; the near-dup path of ``cli curate
                  --dedup near`` and of the q_dedup_minhash/near/
                  cluster/apply and q_golden_record keys
- minhash_lsh   — MLlib MinHashLSH approx similarity join, kept as the
                  rows-only recall reference for the portable tier
- embedding_cosine — near-dup by embedding similarity with sign-LSH
                  blocking (``embedding_lsh_blocks``: one numpy
                  projection kernel per Arrow batch);
                  ``semantic_dedup_survivors`` for clusters
- substring     — ``dup_substring_stats``: per-document share of k-word
                  windows that also occur in another document, hashed
                  by one vectorized char-fold kernel per Arrow batch
- cdc_chunk     — passage reuse from shared content-defined chunks

Everything except minhash_lsh is deterministic and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from document_vector_indexer_spark.functions import text as TX
from document_vector_indexer_spark.functions import vector as V
from document_vector_indexer_spark.operators.similarity import cosine_over_norms

SIMHASH_BITS = 32


def exact_dedup_keep_first(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id row per distinct text (md5 key). One shuffle
    on the 16-byte hash, never on the full text — the at-scale form of
    dropDuplicates with a deterministic survivor."""
    w = Window.partitionBy("_text_key").orderBy(F.col(id_col))
    return (
        df.withColumn("_text_key", F.md5(F.col(text_col).cast("binary")))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_text_key", "_rn")
    )


def shingle_projection(
    df: DataFrame,
    block_cols: tuple[str, ...] = ("source",),
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """(block_cols..., id, shingles) — each doc's DISTINCT word
    ``n``-gram set as an array column. This is the derived projection
    the engine-layout ingest materializes once
    (``io.ingest_engine_layout``): tokenization + gram assembly are the
    per-row-CPU half of every near-dup query, and like any index they
    belong in the write-once path, amortized over every query ever run
    on the table. Same tokenizer + gram expression as the inline path
    in ``ngram_jaccard_pairs`` — this function IS that path, factored
    out so the two can't drift.

    The grams are one ``regexp_extract_all`` over the text with every
    whitespace run (``TX.PY_WS``, the tokenizer's set) made one space:
    at the start and after each space, a lookahead captures the next
    ``n`` words, so gram i is words i..i+n-1 joined by one space, as
    ``TX.word_tokens`` would split them. The match consumes that space:
    after a zero-width match Java's matcher retries one UTF-16 unit on,
    and a zero-width word-start test such as ``(?<![^ ])`` passes
    between the halves of a surrogate pair, emitting grams that start
    mid-character. NULL text has no grams. The expression holds no
    lambda, so nothing re-evaluates per element and the projection
    needs no exchange: it is row-local, with the tasks of its input's
    scan."""
    words = F.regexp_replace(TX.strip(F.col(text_col)), f"[{TX.PY_WS}]+", " ")
    gram = " ".join(["[^ ]+"] * n)
    grams = F.coalesce(
        F.regexp_extract_all(words, F.lit(f"(?:^| )(?=({gram}))"), 1),
        F.array().cast("array<string>"),
    )
    return df.select(
        *block_cols,
        F.col(id_col).alias("id"),
        # (n, text_col) ride along as column metadata — Spark persists
        # StructField metadata through parquet, so the stored sidecar
        # carries its own provenance and ngram_jaccard_pairs can refuse
        # a mismatched one instead of silently computing wrong Jaccard
        F.array_distinct(grams).alias(
            "shingles", metadata={"n": n, "text_col": text_col}
        ),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    block_cols: tuple[str, ...],
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_df: int = 20,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard similarity of *discriminative* word n-gram sets for
    candidate pairs inside a blocking key.

    Shape: explode to an inverted index (shingle -> docs), drop
    shingles whose document frequency within the block exceeds
    ``max_df``, then equi-join on the shingle. The df cap is the
    load-bearing scale decision: a shingle appearing in b documents
    contributes O(b^2) candidate pairs, so without the cap a corpus
    with any common phrase degenerates quadratically (measured: 353 s
    at sf0.1 uncapped vs ~2 s capped — and at 100 TB uncapped is
    unrunnable). Frequent shingles carry no near-dup signal; dropping
    them is the standard stop-shingle/prefix-filter move. Jaccard is
    computed over the retained sets (consistently for inter and
    sizes), so the result stays exact for the declared semantics.

    Returns (id_a, id_b, inter, n_a, n_b, jaccard) with id_a < id_b.
    """
    # Engine-layout fast path: ``shingles_df`` is the materialized
    # ``shingle_projection`` read back from storage (ingest wrote it
    # once), so the per-query gram build does not exist in that plan.
    # Raw-fixture path: the SAME projection computed inline (single
    # source of truth — the stored and inline forms cannot drift),
    # behind a hash(id) exchange.
    #
    # That exchange is no longer a materialization barrier. The
    # lambda-boundary CSE rule other operators here cite: an expression
    # referenced inside a higher-order-function lambda (element_at of a
    # tokenized array inside transform) is re-evaluated per element —
    # Catalyst CSE stops at lambda boundaries, and CollapseProject
    # inlines the producer into the lambda — so only an Exchange forces
    # it to materialize (measured on this operator's former lambda gram
    # build at sf0.1: ~120 s inlined vs 0.6 s behind the exchange). The
    # regex projection has no lambda; the exchange now only spreads its
    # work over every core when the source is one file of one row
    # group, and hash(id) distribution is what downstream wants anyway.
    if shingles_df is not None:
        # A supplied sidecar must have been built with THIS call's
        # (n, text_col) — an n=4 caller handed the n=3 sidecar would
        # compute silently wrong Jaccard (r7 ADVICE). The projection
        # stamps both into the shingles column's metadata; a PRESENT
        # but mismatched stamp raises rather than guesses, while a
        # sidecar with NO stamp (written before provenance existed, or
        # unrelated metadata keys from an intermediate transform) is
        # unverifiable and is simply ignored — the inline projection
        # recomputes the same values, trading speed for certainty.
        meta = dict(shingles_df.schema["shingles"].metadata or {})
        if "n" not in meta:
            shingles_df = None
        elif int(meta.get("n", -1)) != n or meta.get("text_col") != text_col:
            raise ValueError(
                f"shingles_df provenance mismatch: built with "
                f"n={meta.get('n')!r}, text_col={meta.get('text_col')!r} "
                f"but this call wants n={n}, text_col={text_col!r} — "
                "rebuild the sidecar or drop the shingles_df argument"
            )
    if shingles_df is None:
        shingles_df = shingle_projection(
            df.repartition(F.col(id_col)),
            block_cols=block_cols,
            text_col=text_col,
            id_col=id_col,
            n=n,
        )
    exploded = shingles_df.select(
        *block_cols, "id", F.explode("shingles").alias("shingle")
    )
    # One aggregation builds the inverted index AND dedups repeats
    # (collect_set), replacing the dropDuplicates + count-window +
    # self-join chain: candidate pairs are generated row-locally from
    # each retained bucket's id set (<= max_df ids -> <= max_df^2/2
    # pairs, bounded by construction), then one shuffle aggregates
    # intersections. Fewer stages, no 2x probe of the exploded table.
    #
    # `buckets` is a diamond node (both the sizes branch and the pairs
    # branch consume it) but deliberately NOT persisted: the expensive
    # upstream — tokenize + shingle explode + the groupBy(shingle)
    # shuffle write — is shared by both consumers through Spark's
    # ReuseExchange rule (verified in the physical plan: the second
    # consumer is a ReusedExchange of the same shuffle), so only the
    # cheap post-shuffle collect_set re-runs per branch. An earlier
    # revision persisted here, which flattered warm benchmarks with
    # cross-query cache hits and leaked cache entries in long-lived
    # drivers (round-2 finding); measured honest cost of the
    # no-persist plan at sf0.1 is ~1.0 s vs ~0.9 s cache-flattered.
    buckets = (
        exploded.groupBy(*block_cols, "shingle")
        .agg(F.collect_set("id").alias("ids"))
        .filter(F.size("ids") <= max_df)
    )
    # ONE explode emits both row kinds from each retained bucket —
    # a singleton marker (id, -1) per member (for per-doc retained
    # counts) and the ordered candidate pairs — so the expensive
    # tokenize + shingle-shuffle + collect_set pass has exactly one
    # consumer and runs exactly once. One count aggregation then
    # yields n_ret (singleton rows) and inter (pair rows); only the
    # cheap post-shuffle count re-runs for the two filtered reads
    # (the exchange below it is shared via ReuseExchange).
    ids_sorted = F.sort_array(F.col("ids"))
    single_arr = F.transform(
        ids_sorted,
        lambda x: F.struct(
            x.alias("id_a"), F.lit(-1).cast("long").alias("id_b")
        ),
    )
    emitted = F.when(
        F.size("ids") >= 2, F.concat(single_arr, _ordered_pairs("ids"))
    ).otherwise(single_arr)
    out = _pair_counts_with_sizes(
        buckets.select(F.explode(emitted).alias("p")).select(
            F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b")
        )
    )
    return out.select(
        "id_a",
        "id_b",
        F.col("cnt").alias("inter"),
        "n_a",
        "n_b",
        (
            F.col("cnt").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("cnt"))
        ).alias("jaccard"),
    )


def _ordered_pairs(arr: str, a: str = "id_a", b: str = "id_b") -> Column:
    """Every pair of the array column ``arr`` after sorting it, as
    array<struct<a, b>> with the smaller element in ``a``: element i
    with each element j > i, i ascending. The one pair emitter of the
    bucket-based dedups (ngram, MinHash bands, CDC chunks).

    Indices come from ``sequence`` and elements from ``element_at``;
    the ``transform``/``slice`` form measured slower on q_dedup_ngram
    (sf0.1 ingested, 10 alternating runs: median 0.803 vs 0.854 s).
    Needs ``size(arr) >= 2``: for one element ``sequence(0, -1)``
    counts down and ``element_at(.., 0)`` raises, so callers guard the
    call or filter the buckets first."""
    s = F.sort_array(F.col(arr))
    return F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.size(arr) - 2),
            lambda i: F.transform(
                F.sequence(i + 1, F.size(arr) - 1),
                lambda j: F.struct(
                    F.element_at(s, (i + 1).cast("int")).alias(a),
                    F.element_at(s, (j + 1).cast("int")).alias(b),
                ),
            ),
        )
    )


def _pair_counts_with_sizes(emitted: DataFrame) -> DataFrame:
    """Shared tail of the marker-trick inverted-index dedups
    (``ngram_jaccard_pairs``, ``cdc_chunk_pairs``): turn a frame of
    (id_a, id_b) rows — candidate pairs plus one (x, -1) singleton
    marker per retained (bucket, member) — into distinct pairs with
    per-doc retained sizes attached: (id_a, id_b, cnt, n_a, n_b).

    The count aggregation is keyed (id_a, id_b) but EXCHANGED on id_a
    alone (explicit repartition): hashpartitioning(id_a) satisfies
    both the aggregate's ClusteredDistribution(id_a, id_b) and window
    1's ClusteredDistribution(id_a), so the aggregate and the first
    window share ONE exchange instead of two (r14, guide §2.4;
    measured on q_dedup_ngram: 4 Exchanges -> 3, 6 stages -> 5,
    alternating A/B med 0.766 -> 0.660 s at sf0.1). What the old
    (id_a, id_b)-keyed shape bought — map-side partial aggregation of
    duplicate (a, b) emissions — is worth little at scale: a pair's
    duplicate emissions live in DIFFERENT buckets, which hash to
    different partitions of the bucket exchange, so with production
    partition counts (32k) each map task sees ~one emission and
    partial agg combines nothing, while the extra distinct-pair
    exchange is a full second shuffle of the pair frame. Skew bound:
    one doc's rows on one key were already window 1's partition
    shape, and a doc contributes <= n_ret * (max_df - 1) pair rows.

    Sizes attach via two WINDOW passes instead of a sizes/pairs split
    + two self-joins (r6 plan-depth cut, now also serving
    cdc_chunk_pairs — r14: its old join tail re-ran the bucket
    subtree three times; 9 Exchanges -> 4). Window 1 keys on id_a
    (markers carry id_a = x); window 2 keys on id_b with markers
    REMAPPED onto their own doc id, so doc b's marker meets the
    (a, b) pair rows. No artificial -1 key partition ever holds more
    than one doc's rows — no skew — and the id_b exchange carries the
    already-combined distinct pairs.

    Precondition: ids are NONNEGATIVE longs (-1 is the in-band
    singleton sentinel).
    """
    counted = (
        emitted.repartition("id_a")
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("cnt"))
    )
    is_single = F.col("id_b") == -1
    size_here = F.max(F.when(is_single, F.col("cnt")))
    return (
        counted.withColumn("n_a", size_here.over(Window.partitionBy("id_a")))
        .withColumn(
            "_k2", F.when(is_single, F.col("id_a")).otherwise(F.col("id_b"))
        )
        .withColumn("n_b", size_here.over(Window.partitionBy("_k2")))
        .filter(~is_single)
        .drop("_k2")
    )


def simhash(text: Column) -> Column:
    """SimHash: per-bit majority vote over word hashes, as a pure
    column expression. bit b of the result is 1 iff
    ``sum over words of (word_hash bit b ? +1 : -1) > 0``.

    WARNING (perf): the bit_votes transform re-derives every word hash
    per bit (lambda-boundary CSE limit) — use ``simhash_df`` for bulk
    hashing; this form is for small/ad-hoc columns.
    """
    hashes = F.transform(
        TX.word_tokens(text), lambda w: TX.char_fold(w, TX.M31)
    )
    bit_votes = F.transform(
        F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1)),
        lambda b: F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(
                (h.cast("long") / F.pow(F.lit(2.0), b.cast("double")).cast("long"))
                .cast("long") % 2 == 1,
                F.lit(1),
            ).otherwise(F.lit(-1)),
        ),
    )
    # fold bit votes into the integer: sum of 2^b over positive-vote bits
    return F.aggregate(
        F.zip_with(
            bit_votes,
            F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1)),
            lambda v, b: F.when(
                v > 0, F.pow(F.lit(2.0), b.cast("double")).cast("long")
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash_df(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SimHash as a one-pass DataFrame plan: posexplode words, compute
    each word's char-fold hash once, then one hash-aggregation with
    ``SIMHASH_BITS`` vote columns. Preferred over the ``simhash()`` column
    expression at scale — the expression form re-derives every word
    hash per bit (lambda-boundary CSE limit, see ngram_jaccard_pairs).
    Keeps rows whose text has no tokens out of the result."""
    words = df.select(
        F.col(id_col), F.explode(TX.word_tokens(F.col(text_col))).alias("w")
    )
    hashed = words.withColumn("wh", TX.char_fold(F.col("w"), TX.M31))
    votes = hashed.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("wh"), b) % 2 == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sim = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim = term if sim is None else sim + term
    return votes.select(F.col(id_col), sim.alias("simhash"))


# MLlib MinHashLSH settings of minhash_near_dup_pairs
MLLIB_HASH_TABLES = 8
MLLIB_NUM_FEATURES = 1 << 16
MLLIB_SEED = 42


def minhash_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Approximate near-dup pairs via MinHashLSH over hashed word-set
    features: shingle -> HashingTF sparse vector -> minhash bands ->
    approxSimilarityJoin (equi-join on band buckets — the standard
    web-scale dedup pipeline). Returns (id_a, id_b, jaccard_dist).
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    words = df.select(
        F.col(id_col).alias("id"), TX.word_tokens(F.col(text_col)).alias("words")
    ).filter(F.size("words") > 0)
    tf = HashingTF(
        inputCol="words",
        outputCol="features",
        numFeatures=MLLIB_NUM_FEATURES,
        binary=True,
    )
    feat = tf.transform(words)
    model = MinHashLSH(
        inputCol="features",
        outputCol="hashes",
        numHashTables=MLLIB_HASH_TABLES,
        seed=MLLIB_SEED,
    ).fit(feat)
    joined = model.approxSimilarityJoin(feat, feat, 1.0 - threshold, distCol="jaccard_dist")
    return (
        joined.select(
            F.col("datasetA.id").alias("id_a"),
            F.col("datasetB.id").alias("id_b"),
            "jaccard_dist",
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )


MINHASH_PRIME = TX.M31  # char-fold hashes already live in [0, M31)
# Portable MinHash: k signature components in MINHASH_BANDS bands of
# k/bands rows, over word MINHASH_N-gram shingles; a band bucket of more
# than MINHASH_MAX_BAND_DF docs is dropped (minhash_portable_pairs).
MINHASH_K = 16
MINHASH_BANDS = 4
MINHASH_N = 2
MINHASH_MAX_BAND_DF = 50


def _minhash_coeffs(k: int) -> list[tuple[int, int]]:
    """Deterministic affine-permutation coefficients, derivable from the
    index alone: a_i = (2i+1)*104729 mod M31 (odd, nonzero), b_i =
    7919*i + 13 mod M31. Pure-integer formulas any engine reproduces —
    the DuckDB oracle computes the SAME coefficients from
    generate_series, so signatures are bit-identical across engines."""
    return [
        ((2 * i + 1) * 104729 % MINHASH_PRIME, (7919 * i + 13) % MINHASH_PRIME)
        for i in range(k)
    ]


def minhash_signature_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Portable MinHash signatures: sig_i (i < k = ``MINHASH_K``) = min
    over the doc's word n-gram shingles (n = ``MINHASH_N``) of
    (a_i * charfold(shingle) + b_i) mod M31.

    Contrast with ``minhash_near_dup_pairs`` (MLlib): same banding
    math, but every ingredient is deterministic pure-integer arithmetic
    (char-fold hash + affine permutations with literal coefficients),
    so the whole pipeline is verifiable value-for-value against a SQL
    oracle — the property MLlib's JVM murmur hashing can't offer.

    Scale shape: tokenize behind the CSE exchange barrier (same
    load-bearing reason as ngram_jaccard_pairs), shingle-hash once per
    exploded row (never inside a per-permutation lambda — k=16 would
    re-derive every char-fold 16x), then ONE shuffle on id with k
    min-aggregations. min() absorbs duplicate shingles, so no distinct
    pass is needed. Docs with < n words have no shingles and drop out
    (the MLlib variant's size>0 filter, same semantics).

    r12: the shingle hashes ride the same vectorized prefix-hash
    kernel as dup_substring_stats (``_gram_hashes_arrow`` with k=n —
    an n-word shingle IS a stride-1 n-gram; exact modular equality
    with the per-character fold, covered by the kernel's Python
    reference test at k=2).

    Returns (id, sig: array<long> of length k).
    """
    k, n = MINHASH_K, MINHASH_N
    words_df = df.repartition(F.col(id_col)).select(
        F.col(id_col).alias("id"),
        TX.word_tokens(F.col(text_col)).alias("_words"),
    )
    hashed = _gram_hashes_arrow(words_df, n, "id").withColumnRenamed("_gh", "h")
    P = F.lit(MINHASH_PRIME).cast("long")
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % P).alias(f"_s{i}")
        for i, (a, b) in enumerate(_minhash_coeffs(k))
    ]
    sigs = hashed.groupBy("id").agg(*aggs)
    return sigs.select(
        "id", F.array(*[f"_s{i}" for i in range(k)]).alias("sig")
    )


def minhash_portable_pairs(
    df: DataFrame,
    threshold: float = 0.6,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup candidate pairs via banded portable MinHash.

    Band key = band index + that band's r = k/bands signature
    components; docs sharing any band key become candidates (standard
    LSH banding, P(candidate) = 1 - (1 - j^r)^bands for true Jaccard
    j), then the signature estimate (fraction of equal components)
    filters at ``threshold``. Everything is deterministic, so the
    result — unlike MLlib's — is oracle-checkable end to end.

    Scale: each doc's signature is computed once and rides through its
    band buckets as a struct(id, sig), so no stage reads the signature
    frame twice and no join re-attaches it: one band_key-keyed
    aggregation builds the buckets, pairs are emitted and scored
    inside them, and one (id_a, id_b) aggregation collapses the copies
    of a pair found in several bands. ``MINHASH_MAX_BAND_DF`` is the same
    anti-quadratic guard as ngram_jaccard_pairs' ``max_df``: it caps
    members per bucket, bounding pair fan-out, and a hotter bucket
    means the band carries no dedup signal (so a cluster of more than
    that many identical docs, hot in every band, emits no pairs; exact
    dedup owns that regime). A bucket row carries at most that many
    signatures of k longs, and the pair exchange carries survivors
    only; every shuffle is keyed by band_key or pair, never all-pairs.
    k, bands and the shingle length n are ``MINHASH_K``,
    ``MINHASH_BANDS`` and ``MINHASH_N``.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b.
    """
    k, bands, max_band_df = MINHASH_K, MINHASH_BANDS, MINHASH_MAX_BAND_DF
    r = k // bands
    sigs = minhash_signature_df(df, text_col=text_col, id_col=id_col)
    band_arr = F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(str(b)),
                F.concat_ws(
                    ",", *[F.col("sig")[b * r + j].cast("string") for j in range(r)]
                ),
            )
            for b in range(bands)
        ]
    )
    # A NULL id pairs with nothing. A doc lands in each band_key at most
    # once (the key holds the band index), so collect_list needs no set.
    banded = sigs.filter(F.col("id").isNotNull()).select(
        F.explode(band_arr).alias("band_key"), F.struct("id", "sig").alias("doc")
    )
    buckets = (
        banded.groupBy("band_key")
        .agg(F.collect_list("doc").alias("docs"))
        .filter((F.size("docs") >= 2) & (F.size("docs") <= max_band_df))
    )
    est = (
        F.aggregate(
            F.zip_with(
                "p.a.sig",
                "p.b.sig",
                lambda x, y: F.when(x == y, 1).otherwise(0).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).cast("double")
        / F.lit(float(k))
    )
    # Score every per-band copy of a pair, then collapse the copies:
    # they carry the same two signatures, so equal estimates, and the
    # collapse order changes no value (embedding_near_dup_pairs' order).
    return (
        buckets.select(F.explode(_ordered_pairs("docs", "a", "b")).alias("p"))
        .select(
            F.col("p.a.id").alias("id_a"),
            F.col("p.b.id").alias("id_b"),
            est.alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


# Sign-LSH sizing of embedding_near_dup_pairs (see recommended_lsh_bits
# and recommended_lsh_bands for where each value comes from).
LSH_TARGET_BUCKET_ROWS = 32
LSH_BITS_FLOOR, LSH_BITS_CAP = 4, 24
LSH_TARGET_RECALL = 0.9
LSH_BANDS_FLOOR, LSH_BANDS_CAP = 6, 24
# (band, bucket) cells above this occupancy are dropped before the
# candidate join (embedding_near_dup_pairs)
LSH_MAX_BUCKET_ROWS = 512
# every hyperplane matrix is drawn from this seed; the oracle SQL
# inlines the same ±1 literals
LSH_SEED = 7
# hyperplanes of semantic_dedup_survivors' single band: 2^12 cells
SEMANTIC_BITS = 12


def recommended_lsh_bits(n_rows: int) -> int:
    """The bits of the sign-LSH bucket key sized to the corpus:
    smallest ``bits`` whose expected bucket occupancy n/2^bits is at or
    below ``LSH_TARGET_BUCKET_ROWS``, clamped to
    [``LSH_BITS_FLOOR``, ``LSH_BITS_CAP``].

    This is the anti-quadratic lever for embedding blocking — the
    within-bucket pair count is O(occupancy²), so FIXED bits turn a
    10x corpus into a 100x candidate set. Measured (r10 one-decade
    sweep): bits=4 at ~sf1 (24k vectors -> ~1,500 per bucket) emits
    ~10⁸ candidate rows each carrying two 64-dim vectors and fills the
    local disk with shuffle spill; bits sized by this rule keeps the
    candidate volume ~n·target·bands/2 — linear in the corpus.

    The target of 32: the r10 second-decade probe measured p99
    occupancy ~7x the expectation target under real (anisotropic)
    embedding sign skew, and 32 is the target that kept the candidate
    volume disk-fittable at ~sf10 with the 512-row hot-bucket cap as
    the tail guard.

    Recall trade (standard LSH tuning): per-band match probability is
    (1 − θ/π)^bits, so more bits means fewer false candidates AND
    lower recall at a fixed band count; ``recommended_lsh_bands`` buys
    recall back with more bands. Identical vectors (exact dups)
    collide at ANY bits.
    """
    import math

    if n_rows <= 0:
        return LSH_BITS_FLOOR
    occupancy = max(1.0, n_rows / LSH_TARGET_BUCKET_ROWS)
    return max(LSH_BITS_FLOOR, min(LSH_BITS_CAP, math.ceil(math.log2(occupancy))))


def lsh_union_recall(bits: int, threshold: float, bands: int) -> float:
    """P[a pair at exactly ``threshold`` cosine becomes a candidate]
    under random-hyperplane banding: 1 − (1 − p^bits)^bands with
    p = 1 − acos(threshold)/π per plane. The ONE home of the recall
    closed form — sizing (``recommended_lsh_bands``), the shortfall
    warning, and the measurement probe all call it."""
    import math

    if not -1.0 <= threshold <= 1.0:
        raise ValueError(f"threshold must be in [-1, 1], got {threshold}")
    p_band = (1.0 - math.acos(threshold) / math.pi) ** bits
    return 1.0 - (1.0 - p_band) ** bands


def recommended_lsh_bands(bits: int, threshold: float) -> int:
    """The band count sized to hold the RECALL contract as ``bits``
    grows with the corpus: smallest ``bands`` whose union recall
    1 − (1 − p^bits)^bands reaches ``LSH_TARGET_RECALL`` for a pair AT
    the operator's own ``threshold``, where p = 1 − acos(threshold)/π
    is the per-plane sign-agreement probability (random-hyperplane
    LSH), clamped to [``LSH_BANDS_FLOOR``, ``LSH_BANDS_CAP``].

    Why this exists (r11): bits grow ~log2(n) to keep candidate volume
    linear, but per-band recall for threshold-level pairs falls as
    p^bits — at the sf100 blow-up (bits=17, cosine 0.95 → θ=18°,
    p=0.9) a FIXED 6 bands keep only ~0.67 union recall; the
    borderline near-dups silently stop surfacing while the
    planted-identical driver oracles stay green (identical vectors
    collide at any bits). Holding recall costs bands ~ (1/p)^bits ∝
    n^(log2(1/p)) — the classic sub-quadratic LSH exponent (n^0.152 at
    θ=18°), i.e. candidates grow slightly super-linearly BY THEORY
    once recall is a contract, not a hope. The cap bounds the spend
    where the target is unreachable (recall at the cap is then the
    honest number — the operator logs it); the floor keeps
    small-corpus plans (bits ≤ 10 at cosine 0.95, where 6 bands
    already exceed 0.9 recall) byte-identical to the r6–r11 plans."""
    import math

    miss_one = 1.0 - lsh_union_recall(bits, threshold, 1)
    if miss_one <= 0.0:
        return LSH_BANDS_FLOOR
    if miss_one >= 1.0:
        return LSH_BANDS_CAP
    need = math.log(1.0 - LSH_TARGET_RECALL) / math.log(miss_one)
    return max(LSH_BANDS_FLOOR, min(LSH_BANDS_CAP, math.ceil(need)))


def lsh_hyperplanes(dim: int, bands: int, bits: int):
    """±1 random-hyperplane matrix drawn from ``LSH_SEED``, shape
    (bands, bits, dim). ±1 components keep the projection dot product
    an exact sequence of double adds/subtracts — bit-identical in any
    engine — and inline as clean literals in the DuckDB oracle SQL."""
    import numpy as np

    rng = np.random.RandomState(LSH_SEED)
    return rng.choice([-1.0, 1.0], size=(bands, bits, dim))


def _lsh_pack_codes(X, S, bands: int, bits: int):
    """Vectorized sign-LSH codes for a (n, dim) float64 batch against
    the (bands*bits, dim) ±1 sign matrix ``S`` — BIT-IDENTICAL to the
    DuckDB oracle's add/subtract chains, by construction:

    the accumulation runs as ``dim`` vectorized steps IN ARRAY-INDEX
    ORDER (``acc += X[:, i] * S[:, i]``), so every (row, plane) cell
    sees exactly the left-to-right sequence ``((0.0 ± x_0) ± x_1) ...``
    of IEEE double additions that the oracle's literal
    ``0.0 + e[1] - e[2] ...`` chain performs — the
    multiply by ±1.0 is exact (a sign flip), each ``+=`` is one IEEE
    add per cell, and numpy does not fuse or reorder separate ufunc
    calls. A single BLAS matmul would be ~dim/4x fewer instructions but
    uses pairwise/SIMD summation whose rounding can flip the sign of a
    near-zero projection — the sign-stability risk SCALE.md r10
    recorded; this kernel keeps the speed (vectorized over n·P cells
    per step) without taking it.

    Returns an (n, bands) int32 code matrix.
    """
    import numpy as np

    n = X.shape[0]
    acc = np.zeros((n, S.shape[0]), dtype=np.float64)
    for i in range(X.shape[1]):
        acc += X[:, i, None] * S[:, i]
    # NaN semantics must mirror the JVM comparison, not IEEE: Spark
    # (and the DuckDB oracle, Postgres-style) order NaN GREATER than
    # every value, so a NaN projection sets the bit and a vector with
    # one NaN component lands in bucket 2^bits-1 of every band.
    # numpy's NaN > 0 is False, hence the explicit isnan.
    hit = (acc > 0.0) | np.isnan(acc)
    weights = 1 << np.arange(bits, dtype=np.int64)
    return (hit.reshape(n, bands, bits) * weights).sum(axis=2).astype(np.int32)


def embedding_lsh_blocks(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bands: int = 6,
    bits: int = 4,
    carry_vec: bool = True,
) -> DataFrame:
    """Sign-LSH banding of an embedding column: one output row per
    (vector, band) with the band's bucket = the ``bits``-bit sign
    pattern of the vector against seeded random hyperplanes
    (``lsh_hyperplanes``). Self-join on (band, bucket) gives near-dup
    candidates — the standard random-hyperplane LSH family, where
    P[bit match] = 1 - angle/pi.

    Scale note: buckets per band = 2^bits, so ``bits`` must grow with
    data size (``recommended_lsh_bits``); 4 bits suits the test
    corpus, web scale wants 16-20. ``bands`` trades recall for
    candidate volume (union over bands, ``recommended_lsh_bands``).

    All bands*bits projections of a row are computed in ONE
    vectorized numpy pass inside ``mapInPandas`` (per-bit interpreted
    column folds are bits·bands·dim work per row with bits ~ log n;
    measured 147–187 s per key at ~sf10). Bit-identical to the pinned
    ``q_lsh_buckets`` DuckDB oracle by the index-order accumulation
    argument in ``_lsh_pack_codes``. A bit is set iff its projection
    is > 0 under the JVM ordering, where NaN is greater than every
    value; a vector that is NULL, has a NULL element or is not ``dim``
    long lands in bucket 0 of every band (the oracle's NULL-propagating
    sum). ``carry_vec=False`` drops the vector from the output
    (callers that only need (id, band, bucket) — e.g. semantic dedup —
    then shuffle narrow rows).
    """
    from pyspark.sql import types as T

    # The kernel's int32 pack would silently WRAP at bits >= 32; only
    # explicit callers can reach that (``recommended_lsh_bits`` caps
    # at 24), so reject it loudly.
    if isinstance(bits, bool) or not isinstance(bits, int) or not 1 <= bits <= 31:
        raise ValueError(f"bits must be an int in [1, 31], got {bits!r}")
    if isinstance(bands, bool) or not isinstance(bands, int) or bands < 1:
        raise ValueError(f"bands must be a positive int, got {bands!r}")

    H = lsh_hyperplanes(dim, bands, bits)
    base = df.select(F.col(id_col), F.col(vec_col))
    # Element-level NULLs (a null FLOAT inside a non-null vector) are
    # indistinguishable from real NaN after the Arrow->pandas hop, but
    # the two must diverge: a NULL element NULL-propagates through the
    # projection sum -> no bit set -> bucket 0, while a real NaN
    # projection compares GREATER than 0 -> every bit set. Flag them
    # JVM-side before the boundary; skipped entirely when the schema
    # proves no element nulls exist.
    vec_type = base.schema[vec_col].dataType
    flag_nulls = bool(getattr(vec_type, "containsNull", False))
    if flag_nulls:
        base = base.withColumn(
            "__nullelem",
            F.coalesce(
                F.exists(F.col(vec_col), lambda x: x.isNull()), F.lit(False)
            ),
        )
    keep = [id_col, vec_col] if carry_vec else [id_col]
    out_schema = T.StructType(
        [f for f in base.schema.fields if f.name in keep]
        + [T.StructField("__buckets", T.ArrayType(T.IntegerType(), False), False)]
    )
    S = H.reshape(bands * bits, dim)  # ±1.0 rows

    def codes_batches(batches):
        import numpy as np  # worker-side

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            vals = pdf[vec_col].to_numpy()
            X = None
            try:
                X = np.stack(vals)
                if X.ndim != 2 or X.shape[1] != dim:
                    X = None
            except Exception:
                X = None
            nullelem = (
                pdf["__nullelem"].to_numpy(dtype=bool)
                if flag_nulls
                else np.zeros(n, dtype=bool)
            )
            if X is not None:
                codes = _lsh_pack_codes(
                    X.astype(np.float64, copy=False), S, bands, bits
                )
                if nullelem.any():
                    codes[nullelem] = 0  # NULL element -> bucket 0
            else:
                # Ragged/null rows: a projection over a NULL vector or a
                # length mismatch is NULL -> no bit set -> bucket 0 in
                # every band.
                codes = np.zeros((n, bands), dtype=np.int32)
                ok = np.fromiter(
                    (v is not None and len(v) == dim for v in vals),
                    dtype=bool,
                    count=n,
                ) & ~nullelem
                if ok.any():
                    codes[ok] = _lsh_pack_codes(
                        np.stack(vals[ok]).astype(np.float64, copy=False),
                        S,
                        bands,
                        bits,
                    )
            out = pdf[keep].copy()
            out["__buckets"] = list(codes)
            yield out

    coded = base.mapInPandas(codes_batches, schema=out_schema)
    return coded.select(
        *keep, F.posexplode("__buckets").alias("band", "bucket")
    )


def semantic_dedup_survivors(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    paper), deterministic variant: the paper clusters embeddings with
    k-means and keeps one representative per tight cluster; here the
    cluster id is a single wide sign-LSH band (``SEMANTIC_BITS``
    hyperplanes → 2^12 cells — the deterministic, oracle-checkable stand-in for a
    trained codebook), and the survivor is the lowest id per cell.

    Scale shape: the bucket id is pure map-side column arithmetic
    (exact ±1-hyperplane dot products, see ``lsh_hyperplanes``), then
    ONE narrow shuffle on the int bucket key with partial min/count
    aggregation — the same cost profile as exact dedup, independent of
    embedding dimension after the projection. At web scale the cell
    count must grow ~log2(n_rows) (16-24 bits) to keep cells tight.

    Returns (bucket, survivor_id, n_members), one row per occupied
    cell; n_members > 1 cells are the semantic-duplicate groups.

    r11: the cell id rides the shared vectorized sign-LSH kernel
    (``embedding_lsh_blocks`` with bands=1 and ``carry_vec=False`` —
    same seeded hyperplanes as before, bit-identical codes per
    ``_lsh_pack_codes``), so only narrow (id, bucket) rows reach the
    shuffle.
    """
    return (
        embedding_lsh_blocks(
            df,
            dim=dim,
            vec_col=vec_col,
            id_col=id_col,
            bands=1,
            bits=SEMANTIC_BITS,
            carry_vec=False,
        )
        .select(F.col(id_col), "bucket")
        .groupBy("bucket")
        .agg(
            F.min(id_col).alias("survivor_id"),
            F.count("*").alias("n_members"),
        )
    )


def lsh_hot_bucket_stats(blocks: DataFrame, max_bucket_rows: int) -> DataFrame:
    """(band, bucket, occupancy) of the LSH cells ABOVE the hot-bucket
    drop cap — the runtime signal for the cap's documented blind spot
    (identical-vector clusters larger than the cap are hot in EVERY
    band and silently emit no pairs; that regime belongs to exact /
    semantic dedup). Run it on ``embedding_lsh_blocks`` output with
    ``LSH_MAX_BUCKET_ROWS`` to see exactly which cells
    ``embedding_near_dup_pairs`` drops."""
    return (
        blocks.groupBy("band", "bucket")
        .agg(F.count("*").alias("occupancy"))
        .filter(F.col("occupancy") > max_bucket_rows)
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float,
    *,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Near-dup pairs by embedding cosine >= threshold, blocked by
    vector-derived sign-LSH buckets (``embedding_lsh_blocks`` over
    ``dim``-d vectors). There is no all-pairs path: a crossJoin is
    quadratic and unrunnable at scale, so it does not exist here.
    Returns (id_a, id_b, sim).

    The bucket key is sized to the corpus: bits =
    ``recommended_lsh_bits(n)`` — one count() job at build time, the
    fit step that keeps candidate volume LINEAR in the corpus
    (~n·target·bands/2). The r10 one-decade sweep measured the
    fixed-bits failure: bucket occupancy grows with n, within-bucket
    pairs with n², and at ~sf1 a fixed bits=4 emitted ~10⁸ wide
    candidate rows (disk full).

    The band count holds the RECALL contract as bits grow (late r11):
    bands = ``recommended_lsh_bands(bits, threshold)``, so a pair AT
    ``threshold`` is still a candidate with probability ≥
    ``LSH_TARGET_RECALL`` (union over bands; the per-band probability
    p^bits shrinks as bits track log2 n, so a FIXED band count
    silently sheds borderline near-dups at scale — 0.67 union recall
    at the sf100 blow-up's bits=17 with 6 bands, while
    planted-identical oracles stay green). The floor of 6 keeps every
    plan at bits ≤ 10 (all driver scales, cosine 0.95) byte-identical
    to the fixed-bands era; the growth above it is the n^ρ candidate
    spend LSH theory charges for constant recall — paid knowingly,
    capped at 24, measured in SCALE.md. When the cap binds below the
    target, the operator logs a warning with the recall it reaches.

    ``LSH_MAX_BUCKET_ROWS`` (r10, second decade) clips the occupancy
    TAIL: real embeddings are anisotropic, so sign patterns concentrate
    — measured at ~sf10, p99 occupancy is ~7x the expectation target
    and Σocc² lands ~4x the uniform-cell estimate, which together with
    the two carried vectors per candidate row was the difference
    between fitting and filling the local disk. Buckets above the cap
    are DROPPED, the ``MINHASH_MAX_BAND_DF`` precedent: a bucket that
    hot at correctly-sized bits means the band carries little
    discriminative signal there, and a pair lost from a hot bucket
    still pairs in any of its other (colder) bands. The documented
    blind spot is identical-vector clusters LARGER than the cap (hot
    in every band) — that regime belongs to exact dedup /
    ``semantic_dedup_survivors``, which handle arbitrarily large
    clusters in one aggregation. The cap is ~16x the expectation
    target, so it never binds at driver-oracle scales (measured max
    occupancy ≤ 80 there).

    MEASURED recall at the cap (r11, planted 0.5%-noise near-identical
    clusters on the blow-up corpora; table in SCALE.md, the probe script
    in git history): recall ~1 for clusters at or under the cap,
    decaying to ~0 around 4x the cap (noise splits a cluster across
    buckets differently per band, so sub-cap bands keep contributing);
    every dropped cluster concentrated into ≤ 4 semantic-dedup cells —
    the delegation holds with measurement, not argument. Guidance:
    treat cluster regimes within ~2x of the cap as the semantic tier's
    job. ``lsh_hot_bucket_stats`` lists the dropped cells.

    The candidate self-join is MERGE-pinned (r10): both sides are the
    same corpus-derived frame, so no broadcast build is legal at scale
    (left unhinted, Catalyst's post-projection size estimate broadcasts
    at ~sf1 — the q_tpch_q4 failure class), and a forced shuffle_hash
    build measurably dies once a partition's build side outgrows
    execution memory (hash relations cannot spill; sorts can — the
    q_tpch_q21-at-~sf10 lesson).

    A pair sharing several bands appears once per band. Each candidate
    COPY is scored and threshold-filtered inside the (band, bucket)
    join's own partitioning, and only THEN do the copies collapse (r11)
    — so the pair-dedup exchange carries the ~24-byte SURVIVOR rows
    (true near-dups only), never the ~1 KB candidate rows with two
    ``dim``-double vectors. Sims are identical across copies (same
    expression over the same two vectors), so the collapse order is
    value-neutral; the r6–r10 dedup-then-score order measured 41.1 s vs
    24.3 s at ~sf10 and >40 GB of transient shuffle at ~sf100 (SCALE.md).

    Two measured dead-ends bracket this design (both carried in
    r11's A/B, receipts in SCALE.md): (a) this same score-then-collapse
    order measured in r6 at sf0.1, where the planted-dup fraction is so
    high that the bands× duplicated cosine folds outweighed the narrower
    exchange (35% slower THEN; at blow-up scale the bulk of
    candidates match in ~1 band, so the duplication premium fades
    to ~10% while the exchange saving grows with n); (b) the
    dedup-FIRST-join-vectors-BACK form (generate candidates from
    narrow (id, band, bucket) rows, dedup 16-byte pairs, merge-join
    each side's vector by id) — 24.3 s at ~sf10, but the second
    join-back re-exchanges the pair stream BY id_b WHILE CARRYING
    vec_a: ~200 GB at ~sf100, disk-full on this host. The only
    exchanges that may carry vectors at scale are the corpus-linear
    ones (6n block rows), which is exactly what this form does.
    """
    bits = recommended_lsh_bits(df.count())
    bands = recommended_lsh_bands(bits, threshold)
    achieved = lsh_union_recall(bits, threshold, bands)
    if achieved < LSH_TARGET_RECALL:
        # The cap bound the spend below the target (loose threshold x
        # high bits — the n^rho cost exploded): never trade recall
        # SILENTLY.
        import logging

        logging.getLogger(__name__).warning(
            "embedding_near_dup_pairs: bands capped at %d — union recall "
            "for threshold-level pairs is ~%.2f, below the %.2f target "
            "(threshold %.3f at bits=%d); this regime belongs to the ANN "
            "ladder, not the pair-emitter",
            bands,
            achieved,
            LSH_TARGET_RECALL,
            threshold,
            bits,
        )
    blocks = embedding_lsh_blocks(
        df, dim=dim, vec_col=vec_col, id_col=id_col, bands=bands, bits=bits
    )
    # occupancy via a window over the SAME (band, bucket) key the
    # candidate join shuffles on — the exchange is shared, the cap only
    # adds sorts/filters to it
    occ_w = Window.partitionBy("band", "bucket")
    blocks = (
        blocks.withColumn("__occ", F.count("*").over(occ_w))
        .filter(F.col("__occ") <= LSH_MAX_BUCKET_ROWS)
        .drop("__occ")
    )
    # Norms are hoisted per row before the pair join (see
    # similarity.cosine_over_norms).
    norm = V.l2_norm(vec_col)
    a = blocks.select(
        "band",
        "bucket",
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        norm.alias("n_a"),
    )
    b = blocks.select(
        "band",
        "bucket",
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        norm.alias("n_b"),
    )
    # score and filter every per-band copy, THEN collapse the copies
    # (docstring: the exchange carries survivors only)
    return (
        a.join(b.hint("merge"), on=["band", "bucket"], how="inner")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("sim", cosine_over_norms("vec_a", "vec_b", "n_a", "n_b"))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
        .dropDuplicates(["id_a", "id_b"])
    )


# label-propagation rounds connected_components runs before it gives up
CC_MAX_ITERATIONS = 25


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Connected components over a near-dup pair graph by min-label
    propagation — the step that turns pairwise dedup output into
    clusters with a canonical survivor (component = min doc id).

    Each round: every vertex takes the min of its own label and its
    neighbors' labels (one shuffle: labels joined to the edge list,
    one aggregation). Converges in O(component diameter) rounds;
    near-dup components are cliques or short chains (a dup group
    collides in the same buckets), so a handful of rounds suffice at
    any corpus scale. ``localCheckpoint`` truncates lineage per round
    so the plan does not grow with iterations. For adversarial
    long-chain graphs the large-star/small-star variant halves
    diameters per round; near-dup graphs do not need it.

    Deterministic (min is order-insensitive), hence oracle-checkable
    against a recursive-CTE transitive closure on small inputs.

    Returns (id, component) for every vertex in ``pairs``.
    """
    # Both loop inputs are checkpointed ALREADY PARTITIONED on their
    # join keys — localCheckpoint preserves output partitioning, so no
    # round ever re-shuffles the edge list (the big side at corpus
    # scale); each round's only full-size exchange is the neighbor-min
    # aggregation by src (r6: was re-exchanging edges+labels per round).
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .repartition(F.col("dst"))
        .localCheckpoint(eager=True)
    )
    # Start from round 1's output: from identity labels, every vertex
    # (each is a src, the edges being symmetric) takes the min of its
    # own id and its neighbours' ids. One aggregate over the edge list
    # yields that directly, so the loop runs one round fewer.
    labels = (
        edges.groupBy("src")
        .agg(F.least(F.col("src"), F.min("dst")).alias("component"))
        .select(F.col("src").alias("id"), "component")
        .repartition(F.col("id"))
        .localCheckpoint(eager=True)
    )
    max_iterations = CC_MAX_ITERATIONS
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_min"))
        )
        # carry the convergence flag inside the same frame: the changed
        # probe then scans the just-materialized checkpoint instead of
        # running a second join job per round (r6)
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
                (
                    F.coalesce(F.col("nbr_min") < F.col("component"), F.lit(False))
                ).alias("_chg"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = new_labels.filter("_chg").limit(1).count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    else:  # pragma: no cover - defensive
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} rounds"
        )
    return labels


def _gram_hash_arrays(words_col, k: int, mod: int = TX.M31) -> list:
    """Numpy core of the gram-hash kernel: given a sequence of token
    lists (one per document), return one int64 array per document
    holding ALL stride-1 k-word-gram char-fold hashes — VALUE-IDENTICAL
    to hashing each gram string through the interpreted per-character
    fold ``(a*131 + codepoint) % mod``, by modular arithmetic (int64
    throughout, products < 2^62 — exact by construction, no
    float-rounding argument).

    Identity used: with B=131 and s = the concatenation of every
    document's single-space token join (word_tokens drops empties, so
    every gram string ``concat_ws(" ", slice(words, t, k))`` IS the
    substring of its document's join covering words t..t+k-1 — and a
    substring hash is prefix-independent), the char fold of s[i..j)
    equals (P_j - P_i·B^(j-i)) mod M where P_t is the fold of the
    first t chars of the WHOLE stream — the standard polynomial
    prefix-hash subtraction.

    Layout (r13, the r12 ADVICE fix): RAGGED, not padded. The r12
    version padded a (rows × max_doc_chars) codepoint matrix and a
    same-shaped prefix matrix, so ONE long-document outlier in a
    10k-row batch multiplied the whole batch's memory (a 1 MB-char doc
    → ~200 GB). Here all joins concatenate into one 1-D codepoint
    stream (O(total chars)), and the prefix scan is BLOCKED: reshape
    the stream to (chunks × T) with T ≈ sqrt(total), scan T steps
    vectorized ACROSS chunks (total element work ≈ total chars, like
    the old cross-row form but independent of length skew), stitch
    chunk carries with one cheap sequential loop of `chunks` scalar
    steps, then evaluate the global prefix at any position as
    carries[pos // T] · B^(pos % T) + local[pos // T, pos % T]. Peak
    memory ≈ 16 bytes per content char (codepoints + local prefixes),
    regardless of how skewed per-document lengths are; bound per-batch
    totals via spark.sql.execution.arrow.maxRecordsPerBatch.

    ``mod`` must stay below 2^31 so every product of two residues fits
    int64 (M31 = 2147483647 for the dedup family; 1e9+7 for CDC word
    codes — ``TX.char_fold`` with ``chunking.CDC_MOD``).
    """
    import numpy as np

    B = 131
    if not 1 < mod < 2**31:
        raise ValueError(f"mod must be in (1, 2^31) for int64 safety: {mod}")
    n = len(words_col)
    joined = [
        " ".join(w) if w is not None and len(w) else "" for w in words_col
    ]
    row_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(
        np.fromiter((len(s) for s in joined), dtype=np.int64, count=n),
        out=row_off[1:],
    )
    L = int(row_off[-1])
    if L == 0:
        return [np.empty(0, np.int64)] * n
    # one ragged codepoint stream — utf-32-le units are codepoints,
    # identical to the <U view the padded layout used (and to Spark's
    # codepoint-aware split/ascii; non-BMP parity is test-pinned)
    cp = np.frombuffer("".join(joined).encode("utf-32-le"), dtype="<u4").astype(
        np.int64
    )
    T = max(64, min(8192, int(L**0.5) + 1))
    chunks = -(-L // T)
    pad = chunks * T - L
    if pad:
        cp = np.concatenate([cp, np.zeros(pad, np.int64)])
    cp2 = cp.reshape(chunks, T)
    # +1 zero row so P_at(pos) with pos % T == 0 (including pos == L on
    # a chunk boundary) indexes a defined all-zero local prefix
    Lp = np.zeros((chunks + 1, T + 1), dtype=np.int64)
    for t in range(T):
        Lp[:chunks, t + 1] = (Lp[:chunks, t] * B + cp2[:, t]) % mod
    # B^e table up to max(T, longest document) via binary doubling —
    # O(log) vectorized steps, never a per-exponent Python loop
    need = int(max(T, int(np.max(row_off[1:] - row_off[:-1])))) + 1
    pows = np.ones(1, dtype=np.int64)
    while pows.size < need:
        b_sz = int(pows[-1]) * B % mod  # B^size
        pows = np.concatenate([pows, (pows * b_sz) % mod])
    pows = pows[:need]
    b_T = int(pows[T])
    carries = np.empty(chunks + 1, dtype=np.int64)
    carries[0] = 0
    acc = 0
    last = Lp[:chunks, T]
    for ci in range(chunks):
        acc = (acc * b_T + int(last[ci])) % mod
        carries[ci + 1] = acc

    def P_at(pos):
        ci, t = np.divmod(pos, T)
        return (carries[ci] * pows[t] + Lp[ci, t]) % mod

    out_hashes: list = []
    for row, w in enumerate(words_col):
        m = 0 if w is None else len(w)
        if m < k:
            # fewer than k words: no window
            out_hashes.append(np.empty(0, np.int64))
            continue
        lens = np.fromiter((len(x) for x in w), dtype=np.int64, count=m)
        starts = np.zeros(m, dtype=np.int64)
        np.cumsum(lens[:-1] + 1, out=starts[1:])
        starts += row_off[row]
        gs = starts[: m - k + 1]
        ge = starts[k - 1 :] + lens[k - 1 :]
        # numpy % with a positive modulus is non-negative, matching
        # the fold's value range [0, mod)
        out_hashes.append((P_at(ge) - P_at(gs) * pows[ge - gs]) % mod)
    return out_hashes


def _gram_hashes_arrow(
    words: DataFrame, k: int, id_col: str, mod: int = TX.M31
) -> DataFrame:
    """All stride-1 k-word-gram char-fold hashes per document, computed
    in ONE vectorized numpy pass per Arrow batch (``_gram_hash_arrays``
    — exact modular equality with the interpreted fold; ragged O(total
    chars) batch memory, see the kernel docstring). Replaces per-gram
    JVM string allocation + per-character interpreted expression
    evaluation — the measured q_dedup_substrings wall at every scale.

    Input must carry (id_col, _words array<string>). Returns
    (id_col, _gh long) exploded rows, one per window.
    """
    from pyspark.sql import types as T

    id_field = [f for f in words.schema.fields if f.name == id_col]
    out_schema = T.StructType(
        id_field
        + [T.StructField("_ghs", T.ArrayType(T.LongType(), False), False)]
    )

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            out = pdf[[id_col]].copy()
            out["_ghs"] = _gram_hash_arrays(pdf["_words"], k, mod)
            yield out

    coded = words.mapInPandas(batches, schema=out_schema)
    return coded.select(F.col(id_col), F.explode("_ghs").alias("_gh"))


def dup_substring_stats(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Passage-level duplicated-substring detection (the exact-substring
    dedup signal of Lee et al., "Deduplicating Training Data Makes
    Language Models Better", done at word-k-gram granularity): for
    every document, how many of its k-word windows also appear in at
    least one OTHER document.

    Returns one row per input document:
    ``(id_col, n_windows, n_dup_windows, dup_ppm)`` where ``dup_ppm``
    is the duplicated-window fraction in parts-per-million (exact
    integer division — no float accumulation anywhere).

    Scale shape (100 TB): every window becomes ONE (hash, id) row —
    stride-1 k-grams are ~n_tokens rows per document, the same fan-out
    class as MinHash shingling, and unlike pair-generating dedup there
    is no quadratic term: the per-hash window carries counts, never
    pairs. Three narrow shuffles total — (hash) for the window that
    flags windows seen in another document, (id) for the per-document
    rollup, and (id) of the input ids for the merge-pinned join that
    gives every document a row. The hash is the portable char-fold
    (pure integer arithmetic), so a SQL oracle reproduces it
    value-for-value.

    Every gram hash is computed in one vectorized prefix-hash pass per
    Arrow batch (``_gram_hashes_arrow`` — exact modular-arithmetic
    equality with the per-character fold, pinned by the q_dedup_substrings
    DuckDB oracle and a per-document Python reference on unicode and
    edge rows). The hash is the operator's measured wall: char-fold
    CPU ∝ corpus chars × k, 468 s at ~sf100 as an interpreted
    per-character column fold.
    """
    from document_vector_indexer_spark.functions import text as TX

    words = df.select(
        F.col(id_col), TX.word_tokens(F.col(text_col)).alias("_words")
    )
    exploded = _gram_hashes_arrow(words, k, id_col)
    # "appears in >1 distinct doc" as min(id) != max(id) over a WINDOW
    # on the gram hash — values identical to countDistinct(id) > 1 for
    # non-null ids, but the plan is ONE exchange + one sort of the
    # stride-1 gram stream. The r6-r12a form (groupBy(_gh) agg + merge
    # join-back) re-sorted the ~1 B-row exploded frame a second time
    # for the join and, before the late-r11 merge pin, died at ~sf100
    # trying to hash-build the per-hash table (the q_tpch_q21 class:
    # hash relations cannot spill, and the build side here is
    # token-LINEAR, not vocabulary-sublinear). The window form has no
    # join to pin — measured 31.8 -> 16.5 s at ~sf10 same-process,
    # value-parity asserted on the full fixture output.
    occ_w = Window.partitionBy("_gh")
    per_doc = (
        exploded.withColumn(
            "_dup", F.min(id_col).over(occ_w) != F.max(id_col).over(occ_w)
        )
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_windows"),
            F.count_if(F.col("_dup")).alias("n_dup_windows"),
        )
    )
    # per_doc is one row per document — corpus-sized, same rule
    return (
        df.select(id_col)
        .join(per_doc.hint("merge"), id_col, "left")
        .select(
            id_col,
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.coalesce(
                F.expr("(n_dup_windows * 1000000) div n_windows"), F.lit(0)
            ).alias("dup_ppm"),
        )
    )


def near_dedup_keep_first(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.25,
) -> DataFrame:
    """Near-duplicate removal, keep-lowest-id: portable banded MinHash
    candidate pairs -> connected components -> drop every doc whose
    component label is not its own id (the canonical survivor). Docs
    with no near-dup pair never enter the component graph and survive
    untouched.

    Scale: the loser set is proportional to the duplicated fraction of
    the corpus (30-50% on raw web crawls), so the anti join is
    shuffle-pinned — never a broadcast.
    """
    pairs = minhash_portable_pairs(
        df, threshold=threshold, text_col=text_col, id_col=id_col
    )
    comp = connected_components(pairs)
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers.hint("shuffle_hash"), id_col, "left_anti")


def golden_records(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    merge_col: str = "source",
    threshold: float = 0.25,
) -> DataFrame:
    """Entity-resolution SURVIVORSHIP: one canonical "golden" record
    per near-dup cluster, built by field-level rules rather than
    :func:`near_dedup_keep_first`'s keep-lowest-id drop — the ER step
    after pair detection (Fellegi-Sunter pipelines call it merge /
    survivorship): representative = longest text (ties: lowest id),
    provenance = the merged sorted set of ``merge_col`` values,
    plus member count and total variant bytes. Docs with no near-dup
    pair form singleton clusters under their own id.

    Scale: pairs/components as in near_dedup_keep_first; the label
    join back to the corpus is id-keyed (component side is the
    duplicated fraction — shuffle, never broadcast); survivorship is
    ONE component-keyed aggregation (max-of-struct argmax, no window).
    """
    pairs = minhash_portable_pairs(
        df, threshold=threshold, text_col=text_col, id_col=id_col
    )
    comp = connected_components(pairs).withColumnRenamed("id", id_col)
    labeled = df.join(comp.hint("shuffle_hash"), id_col, "left").withColumn(
        "component", F.coalesce("component", F.col(id_col))
    )
    best = F.max(
        F.struct(
            F.length(text_col).alias("len"),
            (-F.col(id_col)).alias("negid"),
            F.col(id_col).alias("id"),
        )
    ).alias("_best")
    return (
        labeled.groupBy("component")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.sum(F.length(text_col)).cast("long").alias("total_chars"),
            best,
            F.array_join(F.sort_array(F.collect_set(merge_col)), ",").alias(
                "sources"
            ),
        )
        .select(
            "component",
            F.col("_best.id").alias("canon_id"),
            F.col("_best.len").cast("long").alias("canon_chars"),
            "n_members",
            "total_chars",
            "sources",
        )
        .orderBy("component")
    )


# cdc_chunk_pairs: chunks of fewer words are ignored, a chunk hash in
# more docs is boilerplate, and a pair needs this many shared chunks
CDC_MIN_WORDS = 5
CDC_MAX_DF = 20
CDC_MIN_SHARED = 1


def cdc_chunk_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Document-pair overlap at CDC-CHUNK granularity — the
    application content-defined chunking exists for: because CDC
    boundaries survive edits (chunking.chunk_cdc), two documents that
    share a long passage share the chunks INSIDE it verbatim even
    when surrounding text was inserted or deleted, so chunk-hash
    equality finds passage reuse that fixed-window hashing misses.

    Semantics: per doc, the DISTINCT md5s of its CDC chunks of
    ``CDC_MIN_WORDS``+ words; candidate pairs come from the df-capped
    inverted index (the ngram_jaccard_pairs scale decision: a chunk
    shared by b docs yields O(b²) pairs, and a chunk in >``CDC_MAX_DF``
    docs is boilerplate, not provenance); ``shared`` counts co-occurring
    retained hashes; overlap_ppm = shared·1e6 DIV min(n_a, n_b)
    (containment-style: a short doc fully inside a long one scores
    1e6). Denominators count RETAINED hashes — consistent with the
    numerator, the ngram_jaccard_pairs convention.

    Plan shape follows ngram exactly: ONE chunk-pipeline execution
    feeds one (hash → doc-set) aggregation; a single explode emits
    both per-member singleton markers and the ordered pairs, so sizes
    and intersections come from one count aggregation whose exchange
    the two filtered reads share via ReuseExchange (first cut built
    sizes from a separate branch — the CDC pipeline executed three
    times, caught in plan review).

    Returns pairs with shared >= ``CDC_MIN_SHARED`` (1: one shared
    5+-word verbatim chunk is already a strong provenance signal),
    id_a < id_b. Precondition
    (shared with ngram_jaccard_pairs' marker trick): doc ids are
    NONNEGATIVE longs — id -1 is the in-band singleton sentinel.
    """
    from document_vector_indexer_spark.operators.chunking import chunk_cdc

    chunks = chunk_cdc(df, text_col=text_col, id_col=id_col).filter(
        F.col("n_words") >= CDC_MIN_WORDS
    )
    el = chunks.select(
        F.col(id_col).alias("id"), F.md5("chunk_text").alias("h")
    )
    # collect_set dedups (id, h) repeats as part of the one aggregation
    buckets = (
        el.groupBy("h")
        .agg(F.collect_set("id").alias("ids"))
        .filter(F.size("ids") <= CDC_MAX_DF)
    )
    marker_arr = F.transform(
        F.col("ids"),
        lambda x: F.struct(x.alias("id_a"), F.lit(-1).cast("long").alias("id_b")),
    )
    emitted = F.when(
        F.size("ids") >= 2, F.concat(marker_arr, _ordered_pairs("ids"))
    ).otherwise(marker_arr)
    # Sizes attach via the shared marker-window tail
    # (_pair_counts_with_sizes). The old shape here split counted into
    # sizes/pairs and re-joined with two shuffle-hash joins — which
    # re-ran the post-shuffle half of the bucket subtree once per
    # branch and paid 4 extra exchanges (r14 plan diff: 9 Exchanges ->
    # 4, 11 stages -> 6, min 1.05 -> measured below; values identical,
    # oracle-pinned).
    withsizes = _pair_counts_with_sizes(
        buckets.select(F.explode(emitted).alias("p")).select(
            F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b")
        )
    )
    return (
        withsizes.filter(F.col("cnt") >= CDC_MIN_SHARED)
        .select(
            "id_a",
            "id_b",
            F.col("cnt").cast("long").alias("shared"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
        )
        .select(
            "id_a",
            "id_b",
            "shared",
            "n_a",
            "n_b",
            F.expr("shared * 1000000 DIV least(n_a, n_b)").alias("overlap_ppm"),
        )
    )
