"""Relational operator inventory (SURVEY.md §2B): scans, filters, joins,
aggregations, windows, top-k, set ops — each as a Spark DataFrame plan
plus a DuckDB oracle.

The reference delegates all of this to PostgreSQL downstream
(/root/reference/README.md:16,170-172 — "foundation for semantic search
and RAG-style pipelines"); here it is first-class, Spark-native.

Scale notes appear per query: which side broadcasts, where the shuffle
is, and why the plan survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from document_vector_indexer_spark.io import load_table
from document_vector_indexer_spark.queries.base import QuerySpec

# ---------------------------------------------------------------------------
# Determinism helpers (SURVEY.md §7 hard part 3: float reproducibility).
# Large double sums accumulate in engine-specific order; casting each
# addend to decimal makes the sum exact, so casting the exact decimal
# back to double is bit-identical across engines. Scale stays at 2 —
# every money/qty column in the corpus is exact at 2dp, and a *small*
# scale keeps the final decimal->double cast unambiguous (at scale 10
# the unscaled sum exceeds 2^53 and Spark/DuckDB round differently).
DEC = "decimal(28,2)"


def dsum(col: Column) -> Column:
    """Order-independent, engine-exact sum of a <=2dp double column."""
    return F.sum(col.cast(DEC)).cast("double")


def SQL_DSUM(expr: str) -> str:
    return f"CAST(sum(CAST({expr} AS DECIMAL(28,2))) AS DOUBLE)"


def fsum(col: Column, scale: int = 100) -> Column:
    """Fixed-point exact sum for <=2dp doubles: round to integer cents,
    sum longs (cheap JVM-native aggregation — measured ~2x faster than
    decimal), divide once at the end. rint(x*100) is exact for 2dp
    inputs (the double sits within 1e-11 of the true cent value, never
    near a .5). long->double and the final /scale are IEEE ops with
    identical results in every engine."""
    return (
        F.sum(F.rint(col * scale).cast("long")).cast("double") / F.lit(float(scale))
    )


def SQL_FSUM(expr: str, scale: int = 100) -> str:
    # CAST .. BIGINT before DOUBLE: DuckDB sums BIGINT into HUGEINT,
    # and hugeint->double may round differently than bigint->double.
    return (
        f"CAST(CAST(sum(CAST(round({expr} * {scale}, 0) AS BIGINT)) AS BIGINT)"
        f" AS DOUBLE) / {scale}.0"
    )


TS_FMT = "yyyy-MM-dd HH:mm:ss"
SQL_TS_FMT = "%Y-%m-%d %H:%M:%S"


def fmt_ts(col: Column | str) -> Column:
    return F.date_format(col, TS_FMT)


# ---------------------------------------------------------------------------
# Scans / projections / filters


def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar scan sanity over the widest table: count + key bounds.
    Catalyst prunes to exactly the referenced columns (ReadSchema)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.min("l_orderkey").alias("min_orderkey"),
        F.max("l_orderkey").alias("max_orderkey"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


SQL_SCAN_PARQUET = """
SELECT count(*) AS n_rows, min(l_orderkey) AS min_orderkey,
       max(l_orderkey) AS max_orderkey,
       count(DISTINCT l_partkey) AS n_parts
FROM lineitem
"""


def q_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicates =, IN, BETWEEN, <, AND plus derived CASE column —
    all pushed to the parquet scan (PushedFilters) by Catalyst."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_returnflag").isin("A", "N")
            & (F.col("l_linestatus") == "F")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24.0)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").alias("qty"),
            # raw IEEE product, bit-identical across engines — never
            # round() a double for parity (Spark rounds the shortest
            # decimal repr, DuckDB the exact binary expansion)
            (F.col("l_extendedprice") * F.col("l_discount")).alias("disc_value"),
            F.when(F.col("l_quantity") < 10, F.lit("small"))
            .when(F.col("l_quantity") < 20, F.lit("medium"))
            .otherwise(F.lit("large"))
            .alias("qty_band"),
        )
    )


SQL_PROJECT_FILTER = """
SELECT l_orderkey, l_linenumber, l_quantity AS qty,
       l_extendedprice * l_discount AS disc_value,
       CASE WHEN l_quantity < 10 THEN 'small'
            WHEN l_quantity < 20 THEN 'medium'
            ELSE 'large' END AS qty_band
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_returnflag IN ('A', 'N') AND l_linestatus = 'F'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24.0
"""


def q_filter_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex predicate + LIKE + extraction (RE2/Java-compatible regex)."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(
            F.col("p_name").rlike("^(red|green|blue) ")
            & F.col("p_brand").like("Brand#1%")
        )
        .select(
            "p_partkey",
            "p_name",
            "p_brand",
            F.regexp_extract("p_name", "^([a-z]+) ", 1).alias("color"),
        )
    )


SQL_FILTER_REGEXP = """
SELECT p_partkey, p_name, p_brand,
       coalesce(regexp_extract(p_name, '^([a-z]+) ', 1), '') AS color
FROM part
WHERE regexp_matches(p_name, '^(red|green|blue) ') AND p_brand LIKE 'Brand#1%'
"""


# ---------------------------------------------------------------------------
# Joins


def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join orders x customer, aggregated. At scale: both
    sides shuffle on the key unless one broadcasts — customer is the
    smaller side; AQE picks broadcast when its size estimate allows."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "inner")
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total_price"),
        )
    )


SQL_JOIN_INNER = f"""
SELECT c_mktsegment, o_orderpriority, count(*) AS n_orders,
       {SQL_DSUM('o_totalprice')} AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment, o_orderpriority
"""


def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with no matching orders in
    the filtered right side (high-value orders only)."""
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 250000.0)
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_big_orders"),
            F.coalesce(dsum(F.col("o_totalprice")), F.lit(0.0)).alias("big_total"),
        )
    )


SQL_JOIN_LEFT = f"""
SELECT c_custkey, count(o_orderkey) AS n_big_orders,
       coalesce({SQL_DSUM('o_totalprice')}, 0.0) AS big_total
FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 250000.0) o
  ON c_custkey = o_custkey
GROUP BY c_custkey
"""


def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two per-nation aggregates with asymmetric
    coverage (rich customers vs rich suppliers)."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000.0)
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_rich_cust"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000.0)
        .groupBy("s_nationkey")
        .agg(F.count("*").alias("n_rich_supp"))
    )
    return cust.join(supp, cust.c_nationkey == supp.s_nationkey, "full").select(
        F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
        F.coalesce("n_rich_cust", F.lit(0)).alias("n_rich_cust"),
        F.coalesce("n_rich_supp", F.lit(0)).alias("n_rich_supp"),
    )


SQL_JOIN_FULL = """
WITH c AS (SELECT c_nationkey, count(*) AS n_rich_cust FROM customer
           WHERE c_acctbal > 9000.0 GROUP BY c_nationkey),
     s AS (SELECT s_nationkey, count(*) AS n_rich_supp FROM supplier
           WHERE s_acctbal > 9000.0 GROUP BY s_nationkey)
SELECT coalesce(c_nationkey, s_nationkey) AS nationkey,
       coalesce(n_rich_cust, 0) AS n_rich_cust,
       coalesce(n_rich_supp, 0) AS n_rich_supp
FROM c FULL JOIN s ON c_nationkey = s_nationkey
"""


def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence join: customers with >=1 urgent order. left_semi never
    duplicates and only ships the join key of the right side."""
    cust = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


SQL_JOIN_SEMI = """
SELECT c_custkey, c_name, c_mktsegment FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
"""


def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: customers with no urgent order."""
    cust = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


SQL_JOIN_ANTI = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
"""


def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join with explicit broadcast of the dimension chain —
    region/nation are tiny at any scale factor; broadcasting removes
    both shuffles and keeps the fact table's partitioning intact (the
    100 TB pattern for dimension joins)."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dim = F.broadcast(
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        cust.join(dim, cust.c_nationkey == dim.n_nationkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            dsum(F.col("c_acctbal")).alias("total_acctbal"),
        )
    )


SQL_JOIN_BROADCAST = f"""
SELECT r_name, count(*) AS n_customers, {SQL_DSUM('c_acctbal')} AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


RANGE_WINDOW_S = 3600


def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: purchases within 1h after a click by the same user.

    Naive theta-join is O(clicks x purchases) per user; here the range
    key is bucketized to the window width and the join becomes an
    equi-join on (user_id, hour_bucket) with the purchase side exploded
    into the two candidate buckets, then an exact filter — co-partitioned
    and linear at 100 TB. Semantics: 0 <= purchase.ts - click.ts <= 3600.
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.unix_timestamp("ts").alias("c_epoch"),
        F.floor(F.unix_timestamp("ts") / RANGE_WINDOW_S).alias("bucket"),
    )
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.unix_timestamp("ts").alias("p_epoch"),
            F.floor(F.unix_timestamp("ts") / RANGE_WINDOW_S).alias("pb"),
        )
        .withColumn("bucket", F.explode(F.array(F.col("pb"), F.col("pb") - 1)))
    )
    # merge-pinned (r11 raw-layout audit): both sides are raw corpus
    # slices — unhinted, Catalyst broadcast the projected clicks side
    # at ~sf1 (the q_tpch_q4 narrow-projection class, unbroadcastable
    # at 100 TB); merge per the r10 durable pin rule
    pairs = purch.join(
        clicks.hint("merge"),
        (purch.user_id == clicks.cu) & (purch.bucket == clicks.bucket),
    ).filter(
        (F.col("p_epoch") >= F.col("c_epoch"))
        & (F.col("p_epoch") - F.col("c_epoch") <= RANGE_WINDOW_S)
    )
    return pairs.groupBy("user_id").agg(F.count("*").alias("n_pairs"))


# Semantics are defined at whole-second granularity (Spark's
# unix_timestamp floors to seconds; the oracle floors with date_trunc).
SQL_JOIN_RANGE = f"""
WITH p AS (SELECT user_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es
           FROM events WHERE event_type = 'purchase'),
     c AS (SELECT user_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es
           FROM events WHERE event_type = 'click')
SELECT p.user_id, count(*) AS n_pairs
FROM p JOIN c ON p.user_id = c.user_id
 AND p.es >= c.es AND p.es - c.es <= {RANGE_WINDOW_S}
GROUP BY p.user_id
"""


def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the latest click at or before it
    by the same user (inclusive, like DuckDB ASOF's >=).

    Spark has no native as-of join; the scalable pattern is
    tag-sort-carry: tag both sides, sort once per user partition, and
    carry the last non-null click timestamp forward. One shuffle at
    most, no join explosion, no per-group pandas — works at any key
    cardinality and data size.

    Both sides here come from the SAME table, so the tagging is a
    filter-split PROJECTION over one scan rather than a union of two
    scans (r8 VERDICT item 4): UnionExec reports UnknownPartitioning
    even over co-bucketed children, which forced a corpus-sized
    exchange on the ingest layout — the single scan keeps the bucketed
    table's HashPartitioning(user_id), so the window plan carries ZERO
    exchanges there (plan-pinned), and raw dirs pay the same one
    shuffle as before. Half the scans, too. An asof over two DISTINCT
    tables still uses the union form — see ``q_join_range`` for the
    two-sided pattern.
    """
    ev = load_table(spark, sf_dir, "events")
    is_click = F.col("event_type") == "click"
    tagged = ev.filter(is_click | (F.col("event_type") == "purchase")).select(
        "user_id",
        "ts",
        # clicks sort before purchases at equal ts -> inclusive >=
        F.when(is_click, F.lit(0)).otherwise(F.lit(1)).alias("side"),
        F.when(is_click, F.col("ts")).alias("click_ts"),
        F.when(~is_click, F.col("event_id")).alias("event_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged
        .withColumn("last_click_ts", F.last("click_ts", ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
        .select(
            "event_id",
            "user_id",
            fmt_ts("ts").alias("purchase_ts"),
            fmt_ts("last_click_ts").alias("last_click_ts"),
        )
    )


SQL_JOIN_ASOF = f"""
SELECT p.event_id, p.user_id,
       strftime(p.ts, '{SQL_TS_FMT}') AS purchase_ts,
       strftime(c.ts, '{SQL_TS_FMT}') AS last_click_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


# ---------------------------------------------------------------------------
# Aggregations


def q_agg_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: partial+final hash aggregation, 2-col grouping,
    decimal-exact money math (SURVEY.md §7 hard part 3)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    # Money math in exact fixed-point (integer cents / micro-units),
    # built only from RAW 2dp columns — never round() or cast a double
    # *product* for parity (Spark rounds the shortest repr, DuckDB the
    # exact expansion, and they can disagree at the last digit). The
    # products below are integers of value*1e6: price_c (<=1e7 cents) *
    # dm_c (<=100) * tm_c (<=110) < 2^53 per row, summed as longs —
    # measured ~2x faster than decimal aggregation and engine-exact.
    price_c = F.rint(F.col("l_extendedprice") * 100).cast("long")
    dm_c = F.rint((F.lit(1.0) - F.col("l_discount")) * 100).cast("long")
    tm_c = F.rint((F.lit(1.0) + F.col("l_tax")) * 100).cast("long")
    disc_price_u = price_c * dm_c           # value * 1e4, exact long
    charge_u = price_c * dm_c * tm_c        # value * 1e6, exact long
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            fsum(F.col("l_quantity")).alias("sum_qty"),
            fsum(F.col("l_extendedprice")).alias("sum_base_price"),
            (F.sum(disc_price_u).cast("double") / F.lit(1e4)).alias("sum_disc_price"),
            (F.sum(charge_u).cast("double") / F.lit(1e6)).alias("sum_charge"),
            (fsum(F.col("l_quantity")) / F.count("*")).alias("avg_qty"),
            (fsum(F.col("l_extendedprice")) / F.count("*")).alias("avg_price"),
            (fsum(F.col("l_discount")) / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


_Q1_PRICE_C = "CAST(round(l_extendedprice * 100, 0) AS BIGINT)"
_Q1_DM_C = "CAST(round((1.0 - l_discount) * 100, 0) AS BIGINT)"
_Q1_TM_C = "CAST(round((1.0 + l_tax) * 100, 0) AS BIGINT)"

SQL_AGG_BASIC = f"""
SELECT l_returnflag, l_linestatus,
       {SQL_FSUM('l_quantity')} AS sum_qty,
       {SQL_FSUM('l_extendedprice')} AS sum_base_price,
       CAST(CAST(sum({_Q1_PRICE_C} * {_Q1_DM_C}) AS BIGINT) AS DOUBLE) / 1e4
         AS sum_disc_price,
       CAST(CAST(sum({_Q1_PRICE_C} * {_Q1_DM_C} * {_Q1_TM_C}) AS BIGINT) AS DOUBLE) / 1e6
         AS sum_charge,
       {SQL_FSUM('l_quantity')} / count(*) AS avg_qty,
       {SQL_FSUM('l_extendedprice')} / count(*) AS avg_price,
       {SQL_FSUM('l_discount')} / count(*) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
    )


SQL_AGG_DISTINCT = """
SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_customers,
       count(*) AS n_orders
FROM orders GROUP BY o_orderpriority
"""


def q_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct. The sketch differs per engine, so the
    oracle checks the *quality contract* — approx within 5% of exact —
    plus the exact value, both of which must hash-match."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            # rsd=0.02: the default 0.05 sketch showed 6.7% error at
            # 1500 distinct (sf0.1) — outside its own 5% contract
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_u"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_u") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("within_5pct"),
        )
    )


SQL_AGG_APPROX = """
SELECT event_type, count(DISTINCT user_id) AS exact_users,
       abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
         <= 0.05 * count(DISTINCT user_id) AS within_5pct
FROM events GROUP BY event_type
"""


def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    joined = cust.join(nation, cust.c_nationkey == nation.n_nationkey).join(
        region, nation.n_regionkey == region.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count("*").alias("n_customers"),
        dsum(F.col("c_acctbal")).alias("total_bal"),
        F.grouping("r_name").cast("int").alias("g_region"),
        F.grouping("n_name").cast("int").alias("g_nation"),
    )


SQL_AGG_ROLLUP = f"""
SELECT r_name, n_name, count(*) AS n_customers,
       {SQL_DSUM('c_acctbal')} AS total_bal,
       CAST(grouping(r_name) AS INTEGER) AS g_region,
       CAST(grouping(n_name) AS INTEGER) AS g_nation
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey)
    return joined.cube("c_mktsegment", "o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.grouping("c_mktsegment").cast("int").alias("g_seg"),
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
    )


SQL_AGG_CUBE = """
SELECT c_mktsegment, o_orderstatus, count(*) AS n_orders,
       CAST(grouping(c_mktsegment) AS INTEGER) AS g_seg,
       CAST(grouping(o_orderstatus) AS INTEGER) AS g_status
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY CUBE (c_mktsegment, o_orderstatus)
"""


def q_agg_gsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the SQL API (Catalyst expands to a single
    shuffle with a grouping-id column, same as rollup/cube)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_prio
        FROM v_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


SQL_AGG_GSETS = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
       CAST(grouping(o_orderpriority) AS INTEGER) AS g_prio
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordered reassembly (collect_list + sort_array) — the
    chunk-table -> document reconstruction shape, rendered as a string
    so the oracle hash is list-order-proof."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string")
            ),
        ).alias("doc_ids"),
        F.count("*").alias("n_docs"),
    )


SQL_AGG_COLLECT = """
SELECT lang, source,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids,
       count(*) AS n_docs
FROM documents GROUP BY lang, source
"""


# ---------------------------------------------------------------------------
# Window functions


def q_win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number (unique tiebreak) vs rank/dense_rank (coarse key with
    real ties) per customer; keep top-3 by row_number."""
    orders = load_table(spark, sf_dir, "orders")
    band = F.floor(F.col("o_totalprice") / 50000)
    w_unique = Window.partitionBy("o_custkey").orderBy(
        band.desc(), F.col("o_orderkey")
    )
    w_coarse = Window.partitionBy("o_custkey").orderBy(band.desc())
    return (
        orders.withColumn("price_band", band.cast("long"))
        .withColumn("rn", F.row_number().over(w_unique).cast("long"))
        .withColumn("rnk", F.rank().over(w_coarse).cast("long"))
        .withColumn("drnk", F.dense_rank().over(w_coarse).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "price_band", "rn", "rnk", "drnk")
    )


SQL_WIN_RANK = """
SELECT o_custkey, o_orderkey, CAST(floor(o_totalprice / 50000) AS BIGINT) AS price_band,
       row_number() OVER (PARTITION BY o_custkey
                          ORDER BY floor(o_totalprice / 50000) DESC, o_orderkey) AS rn,
       rank() OVER (PARTITION BY o_custkey
                    ORDER BY floor(o_totalprice / 50000) DESC) AS rnk,
       dense_rank() OVER (PARTITION BY o_custkey
                          ORDER BY floor(o_totalprice / 50000) DESC) AS drnk
FROM orders
QUALIFY rn <= 3
"""


def q_win_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over per-user event timelines: gap to previous event."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_event_id", F.lag("event_id").over(w))
        .withColumn("next_event_id", F.lead("event_id").over(w))
        .withColumn(
            "gap_s",
            (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))).cast(
                "long"
            ),
        )
        .select("event_id", "user_id", "prev_event_id", "next_event_id", "gap_s")
    )


SQL_WIN_LAG = """
SELECT event_id, user_id,
       lag(event_id) OVER w AS prev_event_id,
       lead(event_id) OVER w AS next_event_id,
       CAST(epoch(date_trunc('second', ts)) AS BIGINT)
         - CAST(epoch(date_trunc('second', lag(ts) OVER w)) AS BIGINT) AS gap_s
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_win_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding frame aggregate: 7-day rolling order revenue. The daily
    pre-aggregation keeps the window state tiny (one row per day) — at
    100 TB the window runs over days, not raw rows. Decimal sums keep
    the rolling results engine-exact."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"))
        .agg(
            F.sum(F.col("o_totalprice").cast(DEC)).alias("day_total_dec"),
            F.count("*").alias("n_orders"),
        )
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "day",
        "n_orders",
        F.col("day_total_dec").cast("double").alias("day_total"),
        F.sum("day_total_dec").over(w).cast("double").alias("roll7_total"),
        (
            F.sum("day_total_dec").over(w).cast("double")
            / F.count("*").over(w)
        ).alias("roll7_avg"),
    )


SQL_WIN_FRAME = """
WITH daily AS (
  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
         sum(CAST(o_totalprice AS DECIMAL(28,10))) AS day_total_dec,
         count(*) AS n_orders
  FROM orders GROUP BY 1
)
SELECT day, n_orders, CAST(day_total_dec AS DOUBLE) AS day_total,
       CAST(sum(day_total_dec) OVER w AS DOUBLE) AS roll7_total,
       CAST(sum(day_total_dec) OVER w AS DOUBLE) / count(*) OVER w AS roll7_avg
FROM daily
WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


def q_win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile/percent_rank/cume_dist WITHOUT a global single-partition
    window: two-pass global rank (hash exchange on a sampled-bound
    bucket id -> per-bucket row_number -> broadcast cumulative
    offsets, operators/ranking.py)
    then each function as a closed form of (rank, total). The unique
    (c_acctbal, c_custkey) sort key makes the closed forms exact —
    values hash-match the window-function oracle while every stage
    stays parallel at 100 TB."""
    from document_vector_indexer_spark.operators.ranking import (
        cume_dist_from_rank,
        global_rank,
        ntile_from_rank,
        percent_rank_from_rank,
    )

    cust = load_table(spark, sf_dir, "customer")
    ranked = global_rank(cust, ["c_acctbal", "c_custkey"])
    r, n = F.col("_grank"), F.col("_gtotal")
    return ranked.select(
        "c_custkey",
        ntile_from_rank(r, n, 4).alias("quartile"),
        percent_rank_from_rank(r, n).alias("pct_rank"),
        cume_dist_from_rank(r, n).alias("cume"),
    )


SQL_WIN_NTILE = """
SELECT c_custkey,
       ntile(4) OVER w AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM customer
WINDOW w AS (ORDER BY c_acctbal, c_custkey)
"""


# ---------------------------------------------------------------------------
# Sorts / limits / top-k


def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject — each partition
    keeps k rows, the driver merges; no global sort at any scale.
    Unique tiebreak (o_orderkey) makes the *set* deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


SQL_TOPK = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey")
    )
    return (
        part.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 2)
        .select("p_brand", "p_partkey", "p_name", "p_retailprice", "rk")
    )


SQL_TOPK_PER_GROUP = """
SELECT p_brand, p_partkey, p_name, p_retailprice,
       row_number() OVER (PARTITION BY p_brand
                          ORDER BY p_retailprice DESC, p_partkey) AS rk
FROM part QUALIFY rk <= 2
"""


def q_sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column sort with explicit NULLS FIRST + limit; the nullable
    column comes from a left join (customers without recent orders).
    Spark defaults nulls-first on ASC, DuckDB nulls-last — both sides
    pin the ordering explicitly."""
    cust = load_table(spark, sf_dir, "customer")
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2001-06-01").cast("timestamp"))
        .groupBy("o_custkey")
        .agg(F.max("o_orderdate").alias("last_dt"))
    )
    return (
        cust.join(recent, cust.c_custkey == recent.o_custkey, "left")
        .select(
            "c_custkey",
            fmt_ts("last_dt").alias("last_order"),
            "c_acctbal",
        )
        .orderBy(
            F.col("last_order").asc_nulls_first(),
            F.col("c_acctbal").desc(),
            F.col("c_custkey"),
        )
        .limit(25)
    )


SQL_SORT_MULTI = f"""
SELECT c_custkey, strftime(last_dt, '{SQL_TS_FMT}') AS last_order, c_acctbal
FROM customer
LEFT JOIN (SELECT o_custkey, max(o_orderdate) AS last_dt FROM orders
           WHERE o_orderdate >= TIMESTAMP '2001-06-01' GROUP BY o_custkey) r
  ON c_custkey = o_custkey
ORDER BY last_order ASC NULLS FIRST, c_acctbal DESC, c_custkey LIMIT 25
"""


# ---------------------------------------------------------------------------
# Set operations


def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName of two differently-shaped projections (account
    holders from two tables), tagged by origin."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9500.0)
        .select(
            F.col("c_custkey").alias("key"),
            F.col("c_name").alias("name"),
            F.col("c_acctbal").alias("acctbal"),
            F.lit("customer").alias("kind"),
        )
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9500.0)
        .select(
            F.col("s_suppkey").alias("key"),
            F.col("s_name").alias("name"),
            F.col("s_acctbal").alias("acctbal"),
            F.lit("supplier").alias("kind"),
        )
    )
    return cust.unionByName(supp)


SQL_UNION = """
SELECT c_custkey AS key, c_name AS name, c_acctbal AS acctbal, 'customer' AS kind
FROM customer WHERE c_acctbal > 9500.0
UNION ALL
SELECT s_suppkey, s_name, s_acctbal, 'supplier' FROM supplier WHERE s_acctbal > 9500.0
"""


def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct intersection: nations having both rich customers and
    rich suppliers."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 8000.0)
        .select(F.col("c_nationkey").alias("nationkey"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 8000.0)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    return c.intersect(s)


SQL_INTERSECT = """
SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 8000.0
INTERSECT
SELECT s_nationkey FROM supplier WHERE s_acctbal > 8000.0
"""


def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exceptAll (multiset difference): order-priority occurrences of
    finished orders minus those of open orders, aggregated to counts so
    the multiset semantics are visible in the result."""
    o = load_table(spark, sf_dir, "orders")
    f_prio = o.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    o_prio = o.filter(F.col("o_orderstatus") == "O").select("o_orderpriority")
    return (
        f_prio.exceptAll(o_prio)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_surplus"))
    )


SQL_EXCEPT = """
SELECT o_orderpriority, count(*) AS n_surplus FROM (
  SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
  EXCEPT ALL
  SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
) GROUP BY o_orderpriority
"""


QUERIES: dict[str, QuerySpec] = {
    "q_scan_parquet": QuerySpec(q_scan_parquet, SQL_SCAN_PARQUET),
    "q_project_filter": QuerySpec(q_project_filter, SQL_PROJECT_FILTER),
    "q_filter_regexp": QuerySpec(q_filter_regexp, SQL_FILTER_REGEXP),
    "q_join_inner": QuerySpec(q_join_inner, SQL_JOIN_INNER),
    "q_join_left": QuerySpec(q_join_left, SQL_JOIN_LEFT),
    "q_join_full": QuerySpec(q_join_full, SQL_JOIN_FULL),
    "q_join_semi": QuerySpec(q_join_semi, SQL_JOIN_SEMI),
    "q_join_anti": QuerySpec(q_join_anti, SQL_JOIN_ANTI),
    "q_join_broadcast": QuerySpec(q_join_broadcast, SQL_JOIN_BROADCAST),
    "q_join_range": QuerySpec(q_join_range, SQL_JOIN_RANGE),
    "q_join_asof": QuerySpec(q_join_asof, SQL_JOIN_ASOF),
    "q_agg_basic": QuerySpec(q_agg_basic, SQL_AGG_BASIC),
    "q_agg_distinct": QuerySpec(q_agg_distinct, SQL_AGG_DISTINCT),
    "q_agg_approx": QuerySpec(q_agg_approx, SQL_AGG_APPROX),
    "q_agg_rollup": QuerySpec(q_agg_rollup, SQL_AGG_ROLLUP),
    "q_agg_cube": QuerySpec(q_agg_cube, SQL_AGG_CUBE),
    "q_agg_gsets": QuerySpec(q_agg_gsets, SQL_AGG_GSETS),
    "q_agg_collect": QuerySpec(q_agg_collect, SQL_AGG_COLLECT),
    "q_win_rank": QuerySpec(q_win_rank, SQL_WIN_RANK),
    "q_win_lag": QuerySpec(q_win_lag, SQL_WIN_LAG),
    "q_win_frame": QuerySpec(q_win_frame, SQL_WIN_FRAME),
    "q_win_ntile": QuerySpec(q_win_ntile, SQL_WIN_NTILE),
    "q_topk": QuerySpec(q_topk, SQL_TOPK),
    "q_topk_per_group": QuerySpec(q_topk_per_group, SQL_TOPK_PER_GROUP),
    "q_sort_multi": QuerySpec(q_sort_multi, SQL_SORT_MULTI),
    "q_union": QuerySpec(q_union, SQL_UNION),
    "q_intersect": QuerySpec(q_intersect, SQL_INTERSECT),
    "q_except": QuerySpec(q_except, SQL_EXCEPT),
}
