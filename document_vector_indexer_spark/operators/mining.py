"""Relational / corpus mining operators: market-basket association
rules, fixed-point PageRank, and length-bucketed batch packing.

These extend SURVEY §2B's north-star surface with three classic
large-data mining shapes a production corpus/metadata deployment runs
routinely:

- ``basket_pairs``: within-order item co-occurrence with
  support / confidence / lift (Agrawal-style association rules,
  pair-granularity). Pair generation is per-basket HOF combinatorics
  over a ``collect_set`` — fan-out is C(|distinct items per basket|, 2)
  with the item vocabulary bounded (brands: 25), NEVER a corpus
  self-join. One shuffle on the basket key, one tiny pair agg.
- ``pagerank``: damped PageRank over an edge list, ENTIRELY in scaled
  integer arithmetic (ranks are units of 1e-12 of the total mass;
  per-edge contribution is ``(rank * w) DIV out_w``; damping is
  ``15/100 + 85/100`` integer splits). Long sums are exact and
  order-independent, so the result is bit-identical on any engine /
  partitioning — which is what makes the op ORACLED where textbook
  float PageRank could only ever be rows-only. Mass leaks at each
  floor division and at dangling nodes (documented, deterministic).
- ``length_buckets``: pow-2 length-bucket packing profile for batched
  inference/training (pad-to-bucket). Map-side bucket assignment, one
  tiny (source, bucket) agg; utilization reported in exact ppm.

Integer-range notes (same discipline as profiling.zscore_outliers):
ranks are ≤ 1e12 and edge weights ≤ per-pair transition counts, so
``rank*w`` stays < 2^63 up to ~1e6-weight edges; beyond the bench
scale promote to DECIMAL(38,0) — the operator takes the scale as a
parameter so callers can lower it for denser graphs. r14 made that
promotion REAL where measurement demanded it: ``basket_pairs``' lift
and ``gini_concentration``'s rank-weighted sum both overflowed int64
at the third measured decade (ANSI refused to wrap — see
``_LIFT_PPM_EXPR`` / ``_GINI_PPM_EXPR``, DECIMAL(38,0) throughout,
overflow-shape test-pinned), and ``length_buckets``' util numerator
was promoted prophylactically. ``ks_drift`` keeps its explicit
raise_error bound (1e6·n_t·n_b < 2^63 ⇒ ~3M samples per side);
pagerank keeps the documented weight bound + scale parameter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Total PageRank mass in integer units (1e12 => per-node shares for
# n<=1e6 nodes keep 6+ significant digits after the integer divisions).
PR_SCALE = 1_000_000_000_000


# lift's numerator is 1e6 * n_baskets * support — two corpus-scale
# counts, > 2^63 once n_baskets*support passes ~9.2e12 (first hit at
# the third measured decade, r14; ANSI mode correctly refused to
# wrap). DECIMAL(38) intermediates keep it exact — DIV on decimals
# returns the integral part as BIGINT, value-identical to the long
# form wherever the long form doesn't overflow (parity-pinned); the
# DuckDB oracle's HUGEINT arithmetic widens the same way.
_LIFT_PPM_EXPR = (
    "CAST((CAST(1000000 AS DECIMAL(38,0)) * n_baskets * support)"
    " DIV (CAST(cnt_a AS DECIMAL(38,0)) * cnt_b) AS BIGINT)"
)

# gini's numerator multiplies the decimal rank-weighted sum by 1e6 and
# its denominator is n_users·total_cents — users × corpus cents, the
# same two-corpus-count shape (overflowed at ~sf100, r14). _s2rx
# arrives as DECIMAL(38,0) from the agg; everything stays decimal
# until the final ppm cast.
_GINI_PPM_EXPR = (
    "CAST((_s2rx - (2 * _minr - 2 + n_users + 1)"
    "       * CAST(total_cents AS DECIMAL(38,0)))"
    " * 1000000 DIV greatest(CAST(1 AS DECIMAL(38,0)),"
    "                        CAST(n_users AS DECIMAL(38,0)) * total_cents)"
    " AS BIGINT)"
)


def _basket_sets(baskets: DataFrame, basket_col: str, item_col: str) -> DataFrame:
    """(bk, items): sorted distinct item array per basket — ONE shuffle
    on the basket key; collect_set is bounded by the item vocabulary."""
    return baskets.groupBy(F.col(basket_col).alias("bk")).agg(
        F.sort_array(F.collect_set(F.col(item_col))).alias("items")
    )


def _pair_supports(sets: DataFrame) -> DataFrame:
    """(item_a, item_b, support) with item_a < item_b, from per-basket
    HOF pair combinatorics — fan-out C(set size, 2) map-side, never a
    basket self-join."""
    pairs_arr = F.flatten(
        F.transform(
            F.col("items"),
            lambda x, i: F.transform(
                F.slice(F.col("items"), i + F.lit(2), F.size(F.col("items"))),
                lambda y: F.struct(x.alias("item_a"), y.alias("item_b")),
            ),
        )
    )
    return (
        sets.select(F.explode(pairs_arr).alias("p"))
        .groupBy(F.col("p.item_a").alias("item_a"), F.col("p.item_b").alias("item_b"))
        .agg(F.count("*").cast("long").alias("support"))
    )


def basket_pairs(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    top: int = 50,
    impl: str = "sets",
) -> DataFrame:
    """Pairwise association rules over (basket, item) rows.

    Returns the ``top`` pairs by support with exact-integer
    ``conf_ab_ppm`` / ``conf_ba_ppm`` / ``lift_ppm``. Items inside a
    pair are ordered ``item_a < item_b``; the final order is
    (support desc, item_a, item_b) — fully deterministic.

    Scale: ONE shuffle on the basket key builds per-basket distinct
    item sets (``collect_set`` is bounded by the item vocabulary);
    pair explode fans out C(set size, 2) map-side; the pair agg and
    the two item-count joins shuffle only (item_a, item_b) triples.
    The 1-row basket count joins in via broadcast (the repo's 1-row
    crossJoin precedent, trainprep.mix_sources).

    ``impl="bitmask"`` (r14, opt-in, vocab <= 64 asserted in-plan):
    supports, item counts, AND n_baskets all derive from the
    distinct-mask frame — one 16-byte-row basket exchange instead of
    three consumptions of the collect_set subtree; value-identical
    (parity test-pinned). Same trade as ``cooccurrence_triangles``.
    As of r15 the three statistics ride ONE tagged explode +
    aggregation with window attachment (``_pair_stats_from_masks``)
    instead of separate broadcast-built frames — see that helper for
    the job/stage accounting.
    """
    if impl not in ("sets", "bitmask"):
        raise ValueError(f"impl must be 'sets' or 'bitmask': {impl!r}")
    if impl == "bitmask":
        vocab, mcnt = _bitmask_frames(baskets, basket_col, item_col)
        enriched = _pair_stats_from_masks(vocab, mcnt)
    else:
        sets = _basket_sets(baskets, basket_col, item_col)
        pair_support = _pair_supports(sets)
        item_counts = (
            sets.select(F.explode("items").alias("item"))
            .groupBy("item")
            .agg(F.count("*").cast("long").alias("cnt"))
        )
        n_baskets = sets.agg(F.count("*").cast("long").alias("n_baskets"))
        ca = item_counts.select(
            F.col("item").alias("item_a"), F.col("cnt").alias("cnt_a")
        )
        cb = item_counts.select(
            F.col("item").alias("item_b"), F.col("cnt").alias("cnt_b")
        )
        enriched = (
            pair_support.join(F.broadcast(ca), "item_a")
            .join(F.broadcast(cb), "item_b")
            .crossJoin(F.broadcast(n_baskets))
        )
    return (
        enriched.select(
            "item_a",
            "item_b",
            "support",
            F.expr("(1000000 * support) DIV cnt_a").alias("conf_ab_ppm"),
            F.expr("(1000000 * support) DIV cnt_b").alias("conf_ba_ppm"),
            F.expr(_LIFT_PPM_EXPR).alias("lift_ppm"),
        )
        .orderBy(F.col("support").desc(), "item_a", "item_b")
        .limit(top)
    )


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    iterations: int = 10,
    scale: int = PR_SCALE,
    checkpoint: bool = True,
) -> DataFrame:
    """Damped (85/100) PageRank in exact scaled-integer arithmetic.

    ``edges``: (src, dst, w) with w a positive long weight.
    ``nodes``: one ``node`` column — every rankable node (isolated
    nodes keep the teleport share). Returns (node, rank_units) after
    ``iterations`` synchronous updates from a uniform start.

    Update rule (all integer, floor division):
        new(n) = (15 * share) DIV 100
               + (85 * sum_{(s,n,w)} (rank(s) * w) DIV out_w(s)) DIV 100
    where share = scale DIV n_nodes. Dangling-node mass and floor
    remainders leak (total mass shrinks monotonically) — that trade
    buys bit-exact reproducibility on any engine and partitioning.

    Scale shape: the edge list is the big table; each iteration is
    one join of the (node, rank) frame against edges on src and one
    sum shuffle on dst — rank state is O(nodes), edges never
    re-shuffle if pre-partitioned by src. Lineage is cut per round
    with ``localCheckpoint`` (dedup_cluster precedent) so the plan
    does not grow with the iteration count; ``checkpoint=False``
    keeps the full lineage visible for plan inspection/tests (the
    explain of the checkpointed form is just the post-barrier scan).
    """
    out_w = edges.groupBy("src").agg(F.sum("w").cast("long").alias("out_w"))
    ew = edges.join(out_w, "src").select("src", "dst", "w", "out_w")
    n_nodes = nodes.agg(F.count("*").cast("long").alias("cnt"))
    base = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "node", F.expr(f"CAST({scale} AS BIGINT) DIV cnt").alias("share")
    )
    if checkpoint:
        # materialize the two loop-invariant frames ONCE, already
        # partitioned on their join keys (localCheckpoint preserves
        # output partitioning — connected_components precedent): every
        # iteration previously re-executed the out_w build and
        # re-shuffled the edge list (the big side), 10× each. With
        # ew hash(src), base hash(node), and the contrib sum emitting
        # hash(dst), each iteration runs exactly ONE full-size
        # exchange (the dst aggregation).
        ew = ew.repartition(F.col("src")).localCheckpoint(eager=False)
        base = base.repartition(F.col("node")).localCheckpoint(eager=False)
    ranks = base.select("node", F.col("share").alias("rank_units"))
    for _ in range(iterations):
        incoming = (
            ranks.join(ew, ranks["node"] == ew["src"])
            .select("dst", F.expr("(rank_units * w) DIV out_w").alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").cast("long").alias("inc"))
        )
        ranks = (
            base.join(incoming, base["node"] == incoming["dst"], "left")
            .select(
                "node",
                F.expr(
                    "(15 * share) DIV 100 + (85 * coalesce(inc, 0L)) DIV 100"
                ).alias("rank_units"),
            )
        )
        if checkpoint:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


# pow-2 pad-to-bucket edges for length_buckets (tokens above the top
# edge land in the top bucket — callers size the ladder to their data).
BUCKET_EDGES = (16, 32, 64, 128, 256, 512, 1024, 2048, 4096, 8192)


def length_buckets(
    df: DataFrame,
    tokens_col: str,
    group_col: str,
    batch_size: int = 16,
) -> DataFrame:
    """Pad-to-pow-2-bucket batching profile per group.

    For each (group, bucket): document count, exact token sum, padded
    batch count at ``batch_size`` sequences per batch, and utilization
    = tokens / (docs * bucket_len) in exact ppm. Everything before the
    final tiny agg is map-side; zero extra shuffles.
    """
    bucket = F.lit(BUCKET_EDGES[-1])
    for edge in reversed(BUCKET_EDGES):
        bucket = F.when(F.col(tokens_col) <= edge, F.lit(edge)).otherwise(bucket)
    return (
        df.select(
            F.col(group_col).alias("grp"),
            F.col(tokens_col).alias("tokens"),
            bucket.cast("long").alias("bucket_len"),
        )
        .groupBy("grp", "bucket_len")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("tokens").cast("long").alias("sum_tokens"),
        )
        .select(
            "grp",
            "bucket_len",
            "n_docs",
            "sum_tokens",
            F.expr(f"(n_docs + {batch_size - 1}) DIV {batch_size}").alias("n_batches"),
            # DECIMAL(38) numerator (r14, prophylactic): 1e6 ×
            # per-(group, bucket) token sum passes 2^63 once the sum
            # passes ~9.2e12 tokens — clean at the third measured
            # decade (~1e9) but not at the 100 TB target; same class
            # as the basket lift overflow that DID fire. The DuckDB
            # oracle's HUGEINT sum() was always exact.
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * sum_tokens)"
                " DIV (CAST(n_docs AS DECIMAL(38,0)) * bucket_len) AS BIGINT)"
            ).alias("util_ppm"),
        )
        .orderBy("grp", "bucket_len")
    )


def _bitmask_frames(
    baskets: DataFrame, basket_col: str, item_col: str
) -> tuple[DataFrame, DataFrame]:
    """(vocab, mcnt) — the shared core of the bitmask basket family:
    ``vocab`` is a ONE-ROW frame holding the ascending sorted item
    array (vocab <= 64 asserted INSIDE the plan: raise_error in the
    array value path, the ks_drift precedent — not prunable, never
    silently wrong), and ``mcnt`` counts baskets per DISTINCT 64-bit
    membership mask. An item's bit is its 0-based position in the
    vocab array — assigned map-side via array_position against the
    1-row broadcast (the mix_sources 1-row crossJoin precedent), so
    no global window and no per-item join ever exist in the plan.

    Why this beats the generic set path when it applies (r14,
    measured at sf10/sf100 in SCALE.md): the basket-keyed exchange
    carries ONE (key, int64 mask) row per basket per map partition —
    16-byte payload where collect_set's partial sets carry every
    distinct item STRING — and everything downstream (pair supports,
    per-item counts, n_baskets) derives from the DISTINCT-mask frame
    (vocabulary-bounded, <= 2^V kinds and in practice orders of
    magnitude below basket count), so the corpus-scale subtree is
    consumed exactly once, with no reliance on AQE stage reuse."""
    vocab = baskets.agg(
        F.sort_array(F.collect_set(F.col(item_col))).alias("_items")
    ).select(
        F.expr(
            "CASE WHEN size(_items) <= 64 THEN _items ELSE raise_error("
            "'impl=bitmask requires item vocabulary <= 64') END"
        ).alias("items")
    )
    masks = (
        baskets.select(F.col(basket_col).alias("bk"), F.col(item_col).alias("item"))
        .crossJoin(F.broadcast(vocab))
        .select(
            "bk",
            (F.array_position(F.col("items"), F.col("item")) - 1)
            .cast("int")
            .alias("bit"),
        )
        .groupBy("bk")
        .agg(F.bit_or(F.expr("shiftleft(1L, bit)")).alias("mask"))
    )
    mcnt = masks.groupBy("mask").agg(F.count("*").cast("long").alias("cnt"))
    return vocab, mcnt


def _pair_stats_from_masks(vocab: DataFrame, mcnt: DataFrame) -> DataFrame:
    """(item_a, item_b, support, cnt_a, cnt_b, n_baskets): EVERY
    per-rule statistic off ONE consumption of the distinct-mask frame
    (r15; guide §2.4 "remove shuffles outright").

    The r14 shape derived item counts and n_baskets as separate frames
    joined back via ``F.broadcast`` — static ReuseExchange did share
    the mask exchange, but each broadcast build still ran as its OWN
    job (the triangles r14 lesson), re-executing the mask-exchange
    reduce stage + its explode/agg per build: 5 jobs / 14 stages at
    sf0.1, with the distinct-mask reduction computed 3x at sf100's
    partition counts. Now ONE explode over the distinct masks emits,
    per mask, its bit pairs (ba, bb), its bits tagged twice as
    per-item marker rows ((bit, -1) for the a-side, (-2, bit) for the
    b-side), and one (-1, -1) total row; ONE (ba, bb) aggregation
    sums basket counts for all four row kinds together (map-side
    partial agg absorbs the fan-out exactly as before — the extra
    tagged rows are 2k+1 per mask vs C(k,2) pair rows); then window
    maxes over the VOCABULARY-BOUNDED aggregate (<= C(64,2) + 2*64 +
    1 = 2,145 rows, kilobytes) attach cnt_a (partition ba: the
    (a, -1) marker row lands with a's pair rows), cnt_b (partition
    bb), and n_baskets (single-partition window; the (-1, -1) row).
    Exchanges added: three KILOBYTE window exchanges inside the one
    spine job. Jobs removed: the item-count and n_baskets broadcast
    builds (and their BroadcastNestedLoopJoins). Bit order == item
    order, so pair bits decode to item_a < item_b via the broadcast
    vocab array, as before."""
    bits = F.expr("filter(sequence(0, 63), b -> ((mask >> b) & 1) = 1)")
    pair_rows = F.flatten(
        F.transform(
            bits,
            lambda x, i: F.transform(
                F.slice(bits, i + F.lit(2), F.size(bits)),
                lambda y: F.struct(x.alias("ba"), y.alias("bb")),
            ),
        )
    )
    a_rows = F.transform(
        bits, lambda b: F.struct(b.alias("ba"), F.lit(-1).alias("bb"))
    )
    b_rows = F.transform(
        bits, lambda b: F.struct(F.lit(-2).alias("ba"), b.alias("bb"))
    )
    total_row = F.array(F.struct(F.lit(-1).alias("ba"), F.lit(-1).alias("bb")))
    tagged = mcnt.select(
        F.explode(F.concat(pair_rows, a_rows, b_rows, total_row)).alias("p"),
        "cnt",
    )
    agg = tagged.groupBy(
        F.col("p.ba").alias("ba"), F.col("p.bb").alias("bb")
    ).agg(F.sum("cnt").cast("long").alias("c"))
    w_a = Window.partitionBy("ba")
    w_b = Window.partitionBy("bb")
    w_g = Window.partitionBy(F.lit(1))
    stats = (
        agg.withColumn(
            "cnt_a", F.max(F.when(F.col("bb") == -1, F.col("c"))).over(w_a)
        )
        .withColumn(
            "cnt_b", F.max(F.when(F.col("ba") == -2, F.col("c"))).over(w_b)
        )
        .withColumn(
            "n_baskets",
            F.max(F.when(F.col("ba") == -1, F.col("c"))).over(w_g),
        )
        # after the three window columns, never before: they read the
        # tagged ba < 0 / bb < 0 count rows this filter drops
        .filter((F.col("ba") >= 0) & (F.col("bb") >= 0))
    )
    return stats.crossJoin(F.broadcast(vocab)).select(
        F.element_at(F.col("items"), F.col("ba") + 1).alias("item_a"),
        F.element_at(F.col("items"), F.col("bb") + 1).alias("item_b"),
        F.col("c").alias("support"),
        "cnt_a",
        "cnt_b",
        "n_baskets",
    )


def _pair_supports_bitmask(
    baskets: DataFrame, basket_col: str, item_col: str
) -> DataFrame:
    """(item_a, item_b, support, n_baskets) — pair supports with the
    basket total attached as a COLUMN; see ``_bitmask_frames`` for the
    mask design and the vocab guard.

    r15: the total rides the same tagged-explode/aggregate as the
    pairs (one (-1, -1) marker row per mask; a single-partition window
    max over the <= C(64,2)+1-row aggregate spreads it) instead of a
    separate ``mcnt.agg(sum(cnt))`` frame joined via ``F.broadcast``
    — that broadcast build was its own job whose barrier re-ran the
    reused mask exchange's reduce stage (a 1,153-task re-run at the
    sf100 layout) before the main query could start. Same collapse as
    ``_pair_stats_from_masks``, minus the per-item rows the triangle
    path never needed."""
    vocab, mcnt = _bitmask_frames(baskets, basket_col, item_col)
    bits = F.expr("filter(sequence(0, 63), b -> ((mask >> b) & 1) = 1)")
    pair_rows = F.flatten(
        F.transform(
            bits,
            lambda x, i: F.transform(
                F.slice(bits, i + F.lit(2), F.size(bits)),
                lambda y: F.struct(x.alias("ba"), y.alias("bb")),
            ),
        )
    )
    total_row = F.array(F.struct(F.lit(-1).alias("ba"), F.lit(-1).alias("bb")))
    tagged = mcnt.select(
        F.explode(F.concat(pair_rows, total_row)).alias("p"), "cnt"
    )
    agg = tagged.groupBy(
        F.col("p.ba").alias("ba"), F.col("p.bb").alias("bb")
    ).agg(F.sum("cnt").cast("long").alias("c"))
    stats = agg.withColumn(
        "n_baskets",
        F.max(F.when(F.col("ba") == -1, F.col("c"))).over(
            Window.partitionBy(F.lit(1))
        ),
    ).filter(F.col("ba") >= 0)
    return stats.crossJoin(F.broadcast(vocab)).select(
        F.element_at(F.col("items"), F.col("ba") + 1).alias("item_a"),
        F.element_at(F.col("items"), F.col("bb") + 1).alias("item_b"),
        F.col("c").alias("support"),
        "n_baskets",
    )


def cooccurrence_triangles(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    min_support_frac_ppm: int = 5_000,
    impl: str = "sets",
) -> DataFrame:
    """Per-item triangle counts in the co-occurrence graph whose edges
    are item pairs with support >= ceil-free ``n_baskets *
    min_support_frac_ppm DIV 1e6`` (a RELATIVE threshold, so the edge
    set stays comparable across scale factors).

    Triangle enumeration uses the a < b < c total order (each triangle
    materializes exactly once): edges(a,b) ⋈ edges(b,c) ⋈ edges(a,c).
    Scale: the support threshold is the load-bearing sparsifier — the
    joined frames are frequent-pair lists (vocabulary-bounded), not
    baskets; at web scale the standard refinement is degree-ordered
    orientation (point each edge at the higher-degree endpoint), which
    bounds wedge fan-out at O(m^1.5) — noted, not needed at brand
    vocabulary sizes.

    Multi-reference note (r13, measured): the three-way join consumes
    THREE differently-keyed projections of ``edges``, and the STATIC
    plan prints the whole corpus-scale subtree (basket collect_set +
    C(k,2) pair explode + pair aggregation) three times with zero
    ReusedExchange nodes — which looks like a 3x recompute and is NOT:
    AQE's runtime stage reuse dedups the identical pair-aggregation
    shuffle stages, so persisting ``edges`` was measured a WASH at
    ~sf100 (255.2 s persisted vs 265.1 s plain, inside the host band)
    and is not done — a cache entry with no win is just storage
    pressure (the op already runs memory-marginal at sf100 in a 16 GB
    local JVM: one adjacent-load run hit UNABLE_TO_ACQUIRE_MEMORY;
    clean rerun fine). The minhash persist() precedent does NOT
    transfer because minhash's signature frame feeds exchanges with
    DIFFERENT child subtrees per consumer (post-banding projections),
    where AQE has nothing identical to reuse.

    ``impl="bitmask"`` (r14, opt-in): when the item vocabulary is
    known <= 64 (asserted in-plan, raises otherwise), pair supports
    come from per-basket bit_or masks — see
    ``_pair_supports_bitmask`` for why that halves the wall at scale.
    Output is value-identical (parity test-pinned). Default stays
    "sets": the generic path works at any vocabulary.
    """
    if impl not in ("sets", "bitmask"):
        raise ValueError(f"impl must be 'sets' or 'bitmask': {impl!r}")
    if impl == "bitmask":
        with_total = _pair_supports_bitmask(baskets, basket_col, item_col)
    else:
        sets = _basket_sets(baskets, basket_col, item_col)
        n_baskets = sets.agg(F.count("*").cast("long").alias("n_baskets"))
        supports = _pair_supports(sets)
        with_total = supports.crossJoin(F.broadcast(n_baskets))
    edges = (
        with_total
        .filter(
            F.col("support")
            >= F.expr(f"greatest(2L, (n_baskets * {min_support_frac_ppm}) DIV 1000000)")
        )
        .select(F.col("item_a").alias("a"), F.col("item_b").alias("b"))
    )
    e_ab = edges
    e_bc = edges.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e_ac = edges.select(F.col("a").alias("a2"), F.col("b").alias("c2"))
    # Measured NON-change (r14): broadcasting e_bc/e_ac on the bitmask
    # path (edge list provably <= C(64,2) rows under the in-plan vocab
    # guard) removes 4 exchanges + 4 sorts and won 2.56 -> 1.40 s at
    # sf0.1 under bench confs — but LOST ~60% at sf10 under engine
    # confs (interleaved fresh-process A/B: hinted 15.6/21.5 s vs
    # planner-chosen 11.7/9.3 s): each BroadcastExchange build is its
    # own job whose corpus-scale supports subtree does not reliably
    # ride AQE stage reuse, so the mask aggregation can run per build.
    # The SMJ tail's exchanges carry <= 2,016 rows at ANY scale — the
    # sf0.1 delta was pure stage-barrier latency, not bytes. Scale
    # wins: no hint; the planner (and AQE at runtime) picks.
    tri = (
        e_ab.join(e_bc, "b")
        .join(
            e_ac,
            (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2")),
        )
        .select("a", "b", "c")
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("item"))
        .groupBy("item")
        .agg(F.count("*").cast("long").alias("n_triangles"))
        .orderBy(F.col("n_triangles").desc(), "item")
    )


def linear_attribution(
    events: DataFrame,
    lookback_s: int,
    touch_types: tuple[str, ...] = ("view", "click"),
    convert_type: str = "purchase",
) -> DataFrame:
    """Multi-touch LINEAR attribution: every conversion's value (exact
    cents) splits evenly across the user's touch events inside the
    lookback window; conversions with no touches attribute to
    ``direct``. Returns one row per credited type:
    (touch_type, n_conversions, touched_cents, attributed_cents) where
    attributed_cents = Σ over conversions of value_cents * n_type DIV
    n_touches (floor division — per-conversion credit may undershoot
    by < n_touches cents; deterministic, never over-attributes).

    Scale: ONE user-keyed shuffle per side for the touch⋈conversion
    join; the time residual bounds the per-user pair fan-out to the
    lookback window (the stream-join finite-horizon contract); both
    downstream aggs are conversion-keyed then type-keyed (tiny).
    """
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    cents = F.rint(F.col("value") * 100).cast("long")
    conv = events.filter(F.col("event_type") == convert_type).select(
        "user_id",
        F.col("event_id").alias("conv_id"),
        us.alias("conv_us"),
        cents.alias("value_cents"),
    )
    touch = events.filter(F.col("event_type").isin(*touch_types)).select(
        F.col("user_id").alias("t_user"),
        F.col("event_type").alias("touch_type"),
        us.alias("touch_us"),
    )
    # Plan-pinned shuffle join: Catalyst would happily broadcast the
    # touch side at bench scale, but touches are a constant fraction
    # of the EVENT STREAM — never broadcastable at 100 TB. Both sides
    # hash-partition on user_id; the lookback residual evaluates
    # post-match.
    joined = conv.join(
        touch.hint("shuffle_hash"),
        (F.col("user_id") == F.col("t_user"))
        & (F.col("touch_us") < F.col("conv_us"))
        & (F.col("touch_us") >= F.col("conv_us") - F.lit(lookback_s * 1_000_000)),
        "left",
    )
    per_conv_type = (
        joined.groupBy("conv_id", "value_cents", "touch_type")
        .agg(F.count("t_user").cast("long").alias("n_type"))
    )
    per_conv = per_conv_type.withColumn(
        "n_touches",
        F.sum("n_type").over(
            Window.partitionBy("conv_id")  # conversion-keyed: bounded rows/key
        ),
    )
    credited = per_conv.select(
        F.when(F.col("n_touches") == 0, F.lit("direct"))
        .otherwise(F.col("touch_type"))
        .alias("touch_type"),
        F.when(F.col("n_touches") == 0, F.col("value_cents"))
        .otherwise(F.expr("value_cents * n_type DIV n_touches"))
        .alias("cents"),
        F.col("value_cents"),
    )
    return (
        credited.groupBy("touch_type")
        .agg(
            F.count("*").cast("long").alias("n_conversions"),
            F.sum("value_cents").cast("long").alias("touched_cents"),
            F.sum("cents").cast("long").alias("attributed_cents"),
        )
        .orderBy("touch_type")
    )


def rfm_segments(events: DataFrame, convert_type: str = "purchase") -> DataFrame:
    """RFM (recency / frequency / monetary) segmentation of the
    purchase stream: per-user last-purchase time, purchase count, and
    exact-cents spend, each cut into ANSI quartiles, combined into a
    3-digit segment code (rq*100 + fq*10 + mq, 4 = top quartile).

    The quartiles use the two-pass ``ranking.multi_global_rank`` +
    ANSI ``ntile_from_rank`` closed form — NEVER an empty-partitionBy
    window (q_win_ntile precedent). All three metrics share ONE
    boundary-sample job and their count branches aggregate the
    lineage-cut per-user frame directly (the r6 rework: the previous
    chained-global_rank form ran one sample collect per metric and
    re-executed the whole prior chain in every sample/counts branch —
    measured 4.4 → 2.4 s at sf0.001, 6.9 → 3.5 s at sf0.1, values
    identical). The per-user
    frame is localCheckpoint'ed: it is O(users) — corpus-sized events
    collapse in the first user-keyed agg — and five plan branches
    read it. (metric, user_id) keys make every cut deterministic.
    """
    from document_vector_indexer_spark.operators.ranking import (
        multi_global_rank,
        ntile_from_rank,
    )

    us = F.unix_micros(F.col("ts").cast("timestamp"))
    cents = F.rint(F.col("value") * 100).cast("long")
    per_user = (
        events.filter(F.col("event_type") == convert_type)
        .select("user_id", us.alias("us"), cents.alias("c"))
        .groupBy("user_id")
        .agg(
            F.max("us").alias("last_us"),
            F.count("*").cast("long").alias("freq"),
            F.sum("c").cast("long").alias("cents"),
        )
    ).localCheckpoint(eager=False)
    cur = multi_global_rank(
        per_user,
        [
            (["last_us", "user_id"], "_r_rq", "_t_rq"),
            (["freq", "user_id"], "_r_fq", "_t_fq"),
            (["cents", "user_id"], "_r_mq", "_t_mq"),
        ],
    )
    for code in ("rq", "fq", "mq"):
        cur = cur.withColumn(
            code, ntile_from_rank(F.col(f"_r_{code}"), F.col(f"_t_{code}"), 4)
        ).drop(f"_r_{code}", f"_t_{code}")
    return (
        cur.select(
            (F.col("rq") * 100 + F.col("fq") * 10 + F.col("mq")).alias("segment"),
            "cents",
        )
        .groupBy("segment")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
        .orderBy("segment")
    )


def ewma_daily(events: DataFrame, shift: int = 3) -> DataFrame:
    """Per-type EWMA of daily mean value (exact integer cents) with
    alpha = 1/2^shift: e_t = (x_t + (2^shift - 1) * e_{t-1}) >> shift,
    seeded at the first day's mean. Pure bit-shift/long arithmetic —
    the sequential fold is bit-identical in any engine, so the
    recurrence (which has NO closed form once each step floors) is
    still oracle-able (DuckDB mirrors it with a recursive CTE).

    Per-day deviation from the smoothed level ships as exact ppm —
    the drift/spike monitor companion to profiling.changepoint_cusum.

    Scale: the stream collapses to the (type, day) daily frame in one
    shuffle; the fold runs per type over the CALENDAR-BOUNDED day
    array (q_win_frame discipline: state is O(days), never O(rows)).
    """
    mult = (1 << shift) - 1
    day = F.to_date(F.col("ts").cast("timestamp"))
    cents = F.rint(F.col("value") * 100).cast("long")
    daily = (
        events.select(F.col("event_type"), day.alias("day"), cents.alias("c"))
        .groupBy("event_type", "day")
        .agg(F.sum("c").cast("long").alias("s"), F.count("*").cast("long").alias("n"))
        .select("event_type", "day", F.expr("s DIV n").alias("mean_cents"))
    )
    series = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "mean_cents"))).alias("xs")
    )
    acc0 = F.expr(
        "CAST(array() AS array<struct<day:date,mean_cents:bigint,ewma:bigint>>)"
    )
    folded = F.aggregate(
        F.col("xs"),
        acc0,
        lambda acc, x: F.concat(
            acc,
            F.array(
                F.struct(
                    x["day"].alias("day"),
                    x["mean_cents"].alias("mean_cents"),
                    F.when(F.size(acc) == 0, x["mean_cents"])
                    .otherwise(
                        F.shiftright(
                            x["mean_cents"]
                            + F.lit(mult) * F.element_at(acc, -1)["ewma"],
                            shift,
                        )
                    )
                    .alias("ewma"),
                )
            ),
        ),
    )
    return (
        series.select("event_type", F.explode(folded).alias("e"))
        .select(
            "event_type",
            # epoch-day long (the repo's driver-hash date convention,
            # analyticsops.changepoint precedent)
            F.unix_date(F.col("e.day")).cast("long").alias("day_num"),
            F.col("e.mean_cents").alias("mean_cents"),
            F.col("e.ewma").alias("ewma_cents"),
            F.expr(
                "abs(e.mean_cents - e.ewma) * 1000000 DIV greatest(e.ewma, 1L)"
            ).alias("dev_ppm"),
        )
        .orderBy("event_type", "day_num")
    )


def common_paths(events: DataFrame, k: int = 20, depth: int = 3) -> DataFrame:
    """Top-``k`` most common ``depth``-step event-type paths (the
    sequential-pattern head of clickstream mining): per-user
    consecutive event windows, counted and cut with a deterministic
    (count desc, path) TakeOrdered. One user-keyed shuffle for the
    lag windows; the path agg shuffles short strings."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cols = [
        F.lag("event_type", depth - 1 - i).over(w).alias(f"s{i}")
        for i in range(depth)
    ]
    steps = events.select("user_id", "ts", "event_id", "event_type", *cols)
    return (
        steps.filter(F.col("s0").isNotNull())
        .select(F.concat_ws(">", *[f"s{i}" for i in range(depth)]).alias("path"))
        .groupBy("path")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(k)
    )


def gini_concentration(events: DataFrame) -> DataFrame:
    """Per-type Gini coefficient of user spend concentration, exact
    ppm: gini = Σ(2i − n − 1)·x_(i) / (n·Σx) over per-user totals
    sorted ascending. The per-type rank comes from ONE two-pass
    ``global_rank`` over (type, x, user) — types group contiguously in
    the global order, so per-type rank = global rank − type offset
    (a tiny per-type agg) and no low-cardinality-partition window
    (5 types = 5 tasks) ever exists in the plan.
    """
    from document_vector_indexer_spark.operators.ranking import global_rank

    cents = F.rint(F.col("value") * 100).cast("long")
    per_user = (
        events.select("event_type", "user_id", cents.alias("c"))
        .groupBy("event_type", "user_id")
        .agg(F.sum("c").cast("long").alias("x"))
    ).localCheckpoint(eager=False)
    # lineage cut (rfm precedent): global_rank's sample and counts
    # branches would otherwise each re-run the corpus-sized events
    # scan+agg — three full executions for one O(users) frame
    ranked = global_rank(per_user, ["event_type", "x", "user_id"])
    return (
        ranked.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("x").cast("long").alias("total_cents"),
            F.min("_grank").cast("long").alias("_minr"),
            # DECIMAL(38) per-term AND sum (r14): grank·2·x is
            # rank × cents — two corpus-scale factors; the long form
            # overflowed at the third measured decade (ANSI caught
            # it; the DuckDB oracle was never wrong — its sum()
            # already returns HUGEINT). Same class as the basket
            # lift_ppm fix, test-pinned at overflow-shape magnitudes.
            F.sum(
                F.col("_grank").cast("decimal(38,0)") * 2 * F.col("x")
            ).alias("_s2rx"),
        )
        .select(
            "event_type",
            "n_users",
            "total_cents",
            # Σ(2·(grank-minr+1) − n − 1)·x  ==  2Σgrank·x − (2minr−2+n+1)Σx
            # greatest(1,...) guard (round-4 ADVICE): a type whose
            # per-user spends sum to 0 (all-zero 'view' values) would
            # otherwise be NULL here but a hard error in the DuckDB
            # oracle — the ewma dev_ppm precedent, applied both sides.
            F.expr(_GINI_PPM_EXPR).alias("gini_ppm"),
        )
        .orderBy("event_type")
    )


def ks_drift(events: DataFrame, baseline_type: str = "view") -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov distance of each event
    type's value distribution against ``baseline_type``, in pure
    integer cross-multiplied form: D·(n_t·n_b) = max over cents values
    of |cum_t·n_b − cum_b·n_t| — no float ever, so the statistic is
    engine-exact (textbook KS needs ecdf ratios; cross-multiplying
    keeps it in longs).

    Scale: the stream collapses to (type, cents) counts in one agg;
    the cumsum windows run per type over the VALUE-DOMAIN-bounded
    distinct-cents frame (≤ ~49k rows per type at ANY raw data scale —
    the q_win_frame calendar-bounded justification, domain edition).
    """
    cents = F.rint(F.col("value") * 100).cast("long")
    typed = events.select(F.col("event_type").alias("t"), cents.alias("c"))
    tc = (
        typed.filter(F.col("t") != baseline_type)
        .groupBy("t", "c")
        .agg(F.count("*").cast("long").alias("ct"))
    )
    bc = (
        typed.filter(F.col("t") == baseline_type)
        .groupBy("c")
        .agg(F.count("*").cast("long").alias("cb"))
    )
    types = tc.select("t").distinct()
    grid = (
        tc.select("t", "c")
        .unionByName(types.crossJoin(bc.select("c")))
        .distinct()
    )
    joined = (
        grid.join(tc, ["t", "c"], "left")
        .join(F.broadcast(bc), "c", "left")
        .select(
            "t", "c",
            F.coalesce("ct", F.lit(0)).alias("ct"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    w = Window.partitionBy("t").orderBy("c").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy("t")
    cum = joined.select(
        "t", "c",
        F.sum("ct").over(w).alias("cum_t"),
        F.sum("cb").over(w).alias("cum_b"),
        F.sum("ct").over(wt).alias("n_t"),
        F.sum("cb").over(wt).alias("n_b"),
    )
    scored = cum.select(
        "t", "c", "n_t", "n_b",
        F.abs(F.col("cum_t") * F.col("n_b") - F.col("cum_b") * F.col("n_t")).alias(
            "num"
        ),
    )
    wmax = Window.partitionBy("t").orderBy(F.col("num").desc(), "c")
    return (
        scored.withColumn("rk", F.row_number().over(wmax))
        .filter(F.col("rk") == 1)
        .select(
            F.col("t").alias("event_type"),
            "n_t",
            "n_b",
            # greatest(1,...) guard (round-4 ADVICE): an absent
            # baseline partition (n_b = 0) must degrade to ks_ppm = 0
            # on BOTH engines, not NULL here vs an error in DuckDB.
            # The documented bound 1e6*n_t*n_b < 2^63 is ENFORCED in
            # the value path (not prunable): Spark long math wraps
            # silently outside ANSI mode, DuckDB would error loudly —
            # raise_error makes both engines fail the same way.
            F.expr(
                "CASE WHEN n_t <= 9223372036854775807 DIV 1000000"
                "                 DIV greatest(1L, n_b)"
                " THEN num * 1000000 DIV greatest(1L, n_t * n_b)"
                " ELSE raise_error('ks_drift: 1e6*n_t*n_b >= 2^63') END"
            ).alias("ks_ppm"),
            F.col("c").alias("at_cents"),
        )
        .orderBy("event_type")
    )


def k_anonymity_profile(
    df: DataFrame,
    quasi_cols: "Sequence[str]",
    group_col: str,
    k: int = 5,
) -> DataFrame:
    """k-anonymity risk profile: rows whose quasi-identifier
    combination matches fewer than ``k`` records are re-identifiable —
    the pre-release privacy audit (Sweeney's k-anonymity) a dataset
    publisher runs before sharing. Reported per ``group_col`` so the
    risk concentrates where it lives: (n_rows, n_groups,
    n_risky_groups, n_risky_rows, risk_ppm), all exact integers.

    Scale: ONE quasi-identifier aggregation (partial+final — hot
    combinations absorb map-side) then a tiny per-group rollup; the
    raw table shuffles once, keyed by the quasi-identifier tuple.
    More data IMPROVES k-anonymity (groups fill in), so the risky set
    shrinks as the corpus grows — the operator's per-scale outputs
    reflect that honestly.
    """
    groups = (
        df.groupBy(group_col, *quasi_cols)
        .agg(F.count("*").cast("long").alias("n"))
    )
    risky = F.col("n") < k
    return (
        groups.groupBy(group_col)
        .agg(
            F.sum("n").cast("long").alias("n_rows"),
            F.count("*").cast("long").alias("n_groups"),
            F.count_if(risky).cast("long").alias("n_risky_groups"),
            F.sum(F.when(risky, F.col("n")).otherwise(0)).cast("long").alias(
                "n_risky_rows"
            ),
        )
        .select(
            group_col,
            "n_rows",
            "n_groups",
            "n_risky_groups",
            "n_risky_rows",
            F.expr("n_risky_rows * 1000000 DIV n_rows").alias("risk_ppm"),
        )
        .orderBy(group_col)
    )
