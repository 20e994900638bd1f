"""Streaming-op query specs: the batch analogs (oracle-checked); true
readStream parity is exercised in tests/test_streaming.py with the
*same* operator functions."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from document_vector_indexer_spark.io import load_table
from document_vector_indexer_spark.queries.base import QuerySpec
from document_vector_indexer_spark.streaming import windows as W


def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.tumbling_counts(load_table(spark, sf_dir, "events"))


# time_bucket aligns hour buckets on the epoch grid exactly like
# Spark's window(); value sums use the exact fixed-point pattern.
SQL_STREAM_TUMBLING = """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*) AS n_events,
       CAST(CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS DOUBLE)
         / 100.0 AS total_value
FROM events GROUP BY 1, 2
"""


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.sliding_counts(load_table(spark, sf_dir, "events"))


# A 1h/15m sliding window covers each event exactly 4 times: the
# windows starting at bucket15(ts) - k*15min, k = 0..3.
SQL_STREAM_SLIDING = """
SELECT strftime(time_bucket(INTERVAL '15 minutes', ts) - k * INTERVAL '15 minutes',
                '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*) AS n_events
FROM events, (SELECT unnest(generate_series(0, 3)) AS k)
GROUP BY 1, 2
"""


def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.session_aggregates(load_table(spark, sf_dir, "events"))


# Gaps-and-islands replay of session_window semantics: a new session
# starts when the gap to the previous event is >= 30 min (Spark merges
# only strictly-overlapping [ts, ts+gap) windows, so an event landing
# exactly at prev_ts + gap opens a new session); session end = last
# event + gap. Comparisons run on full microsecond timestamps.
SQL_STREAM_SESSION = """
WITH marked AS (
  SELECT user_id, ts, value, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts) + INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S') AS session_end,
       count(*) AS n_events,
       CAST(CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS DOUBLE)
         / 100.0 AS total_value,
       count(DISTINCT event_type) AS n_types
FROM sess GROUP BY user_id, session_id
"""


def _drain_final_totals(
    spark: SparkSession, stream: DataFrame, prefix: str
) -> DataFrame:
    """Drive a running-totals stream to completion (availableNow) into
    a memory sink named ``prefix_<random>`` and return each user's
    final state. Update mode emits one row per touched user per
    micro-batch; n_events is strictly increasing, so max_by picks the
    final state."""
    import uuid

    from pyspark.sql import functions as F

    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.sql(f"SELECT * FROM {name}")
    return emitted.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_value", "n_events").alias("total_value"),
    )


def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator END-TO-END through a real
    streaming query: applyInPandasWithState running totals driven to
    completion (availableNow) into a memory sink, final state per user
    extracted. The oracle is the batch aggregate the state must
    converge to — an exact check on stateful streaming."""
    from document_vector_indexer_spark.streaming.stateful import running_user_totals

    stream = running_user_totals(W.read_events_stream(spark, sf_dir))
    return _drain_final_totals(spark, stream, "q_stream_stateful")


SQL_STREAM_STATEFUL = """
SELECT user_id, count(*) AS n_events,
       CAST(CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS DOUBLE)
         / 100.0 AS total_value
FROM events GROUP BY user_id
"""


def q_stream_stateful_jvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same running-totals state through Spark's BUILT-IN streaming
    aggregation (update mode, real streaming query to completion) — the
    scale path for agg-expressible state. The r12 decomposition
    measured the applyInPandasWithState harness paying an irreducible
    per-GROUP Python cost (~2.5x the JVM wall at ~sf10, growing with
    group count); this key pins the JVM route against the same oracle
    so the recommendation in streaming/stateful.py stays verified."""
    from document_vector_indexer_spark.streaming.stateful import (
        running_user_totals_jvm,
    )

    stream = running_user_totals_jvm(W.read_events_stream(spark, sf_dir))
    return _drain_final_totals(spark, stream, "q_stream_stateful_jvm")


def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, batch analog: purchases attributed
    to the same user's clicks within 30 minutes, rolled up per user.
    The same attribution_join runs as a true watermarked stream-stream
    join in tests/test_streaming.py."""
    from pyspark.sql import functions as F

    from document_vector_indexer_spark.streaming.windows import attribution_join

    ev = load_table(spark, sf_dir, "events")
    pairs = attribution_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
    )
    return (
        pairs.groupBy("user_id")
        .agg(
            F.count("*").alias("n_attr"),
            F.countDistinct("click_ts").alias("n_clicks_attr"),
            (F.sum(F.rint(F.col("purchase_value") * 100).cast("long")).cast("double") / 100.0
             ).alias("attr_value"),
        )
        .orderBy("user_id")
    )


SQL_STREAM_JOIN = """
SELECT c.user_id, count(*) AS n_attr,
       count(DISTINCT c.ts) AS n_clicks_attr,
       CAST(sum(CAST(round(p.value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
         AS attr_value
FROM events c
JOIN events p ON p.user_id = c.user_id
  AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL '30 minutes'
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
GROUP BY c.user_id ORDER BY c.user_id
"""


QUERIES: dict[str, QuerySpec] = {
    "q_stream_tumbling": QuerySpec(q_stream_tumbling, SQL_STREAM_TUMBLING),
    "q_stream_sliding": QuerySpec(q_stream_sliding, SQL_STREAM_SLIDING),
    "q_stream_session": QuerySpec(q_stream_session, SQL_STREAM_SESSION),
    "q_stream_join": QuerySpec(
        q_stream_join, SQL_STREAM_JOIN, "interval attribution join (batch analog)"
    ),
    "q_stream_stateful": QuerySpec(
        q_stream_stateful,
        SQL_STREAM_STATEFUL,
        "applyInPandasWithState running totals vs batch-aggregate oracle",
    ),
    "q_stream_stateful_jvm": QuerySpec(
        q_stream_stateful_jvm,
        SQL_STREAM_STATEFUL,
        "built-in streaming agg running totals (the scale path) vs the same oracle",
    ),
}
