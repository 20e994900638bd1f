"""Windowed event aggregations (SURVEY.md §2B streaming ops).

Each operator is written once as a function of a DataFrame, so the
*same* code path serves batch (oracle-checkable against DuckDB) and
Structured Streaming (``readStream`` + watermark; see
``read_events_stream`` and tests/test_streaming.py). That batch/stream
parity is the point: Spark's incrementalization of these plans is what
a 100 TB/day event pipeline runs in production.

Output-time note: window bounds are formatted as UTC strings — raw
timestamps never appear in oracle-checked output (SURVEY.md §7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TS_FMT = "yyyy-MM-dd HH:mm:ss"

# Exact fixed-point sum for the 2dp `value` column: integer cents
# summed as longs, one division at the end (see relational.fsum — ~2x
# cheaper than decimal aggregation and engine-exact).
def _cents_sum(col: str) -> "F.Column":
    return F.sum(F.rint(F.col(col) * 100).cast("long")).cast("double") / 100.0


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling-window counts + value sums per event_type."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            _cents_sum("value").alias("total_value"),
        )
        .select(
            F.date_format("w.start", TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame, width: str = "1 hour", slide: str = "15 minutes"
) -> DataFrame:
    """Sliding-window counts: each event contributes to width/slide
    overlapping windows (Spark emits all covering windows)."""
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format("w.start", TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def session_aggregates(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-user session windows (gap-based). ``session_window`` merges
    events whose windows overlap; a session ends ``gap`` after its last
    event. Works identically in batch and streaming group-by."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            _cents_sum("value").alias("total_value"),
            # size(collect_set) == exact distinct, but unlike
            # countDistinct it is legal in streaming aggregations
            F.size(F.collect_set("event_type")).cast("long").alias("n_types"),
        )
        .select(
            "user_id",
            F.date_format("w.start", TS_FMT).alias("session_start"),
            F.date_format("w.end", TS_FMT).alias("session_end"),
            "n_events",
            "total_value",
            "n_types",
        )
    )


# ---------------------------------------------------------------------------
# Structured Streaming harness

def attribution_join(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "30 minutes",
) -> DataFrame:
    """Interval (attribution) join: every purchase by the same user
    with click.ts <= purchase.ts < click.ts + horizon, credited to the
    click. Works identically on batch frames and on watermarked streams
    — this is Structured Streaming's stream-stream inner join with a
    time-range condition, where the watermark + horizon jointly bound
    the join state the engine must retain (state eviction is exactly
    why the horizon must be finite at 100 TB/day event volumes).

    Returns one row per (click, purchase) pair; aggregate downstream.
    """
    c = clicks.select(
        F.col("user_id"), F.col("ts").alias("click_ts")
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    if not (clicks.isStreaming or purchases.isStreaming):
        # Batch analog only: both sides are raw corpus slices, so the
        # join is merge-pinned per the r10 durable rule (r11 raw-layout
        # audit caught Catalyst broadcasting the projected click side
        # at ~sf1 — the q_tpch_q4 class). Streaming frames keep the
        # engine's stream-stream join; hints don't apply there.
        p = p.hint("merge")
    return c.join(
        p,
        [
            c.user_id == p.p_user,
            p.purchase_ts >= c.click_ts,
            p.purchase_ts < c.click_ts + F.expr(f"INTERVAL {horizon}"),
        ],
        "inner",
    ).drop("p_user")


# RAW fixture events.parquet stores ts as naive TIMESTAMP(MICROS)
# (= TIMESTAMP_NTZ to Spark); streams need an explicit schema, and
# watermarks accept only TIMESTAMP, so read NTZ and cast
# (value-preserving under the pinned UTC session TZ — same
# normalization as io._load_events). INGESTED dirs are different:
# ingest_engine_layout writes events.parquet as the bucketed table, from
# load_table's output, whose ts is already TIMESTAMP (LTZ in the file) —
# reading THAT through an NTZ schema then casting would shift every
# value by the session-TZ offset (r8 ADVICE: +5h under
# America/New_York), so the directory branch declares TimestampType
# directly, no cast.
def _stream_schema(ts_type: "T.DataType") -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


_RAW_STREAM_SCHEMA = _stream_schema(T.TimestampNTZType())
_INGESTED_STREAM_SCHEMA = _stream_schema(T.TimestampType())


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: "int | None" = None,
) -> DataFrame:
    """``readStream`` over the events parquet (file source — swap for
    kafka in production; the query shapes are identical).

    The file source wants a *directory*, and the testdata dir mixes all
    ten tables — so stage a symlink to events.parquet in a temp dir.
    On an ingested dir (``io.ingest_engine_layout``) ``events.parquet``
    is itself a Spark-written table DIRECTORY (the bucket files +
    _SUCCESS; the file source reads them as plain parquet files);
    the streaming file source lists a directory's immediate files only
    and silently yields ZERO files through a symlinked subdirectory
    (r8 driver-sim catch: q_stream_stateful returned 0 rows on the
    ingest layout) — so the directory case streams the table dir
    directly, which is already single-table.

    ``max_files_per_trigger`` is the file source's backpressure knob:
    it bounds each micro-batch to N files (availableNow still drains
    everything, in multiple batches), which at 100 TB/day is what keeps
    a catch-up restart from planning one giant batch — and is what lets
    tests drive the watermark across real micro-batch boundaries.
    """
    import hashlib
    import os
    import tempfile

    def _reader(schema: T.StructType):
        r = spark.readStream.schema(schema)
        if max_files_per_trigger is not None:
            r = r.option("maxFilesPerTrigger", max_files_per_trigger)
        return r

    src = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(src):
        # Directory = already single-table, stream it directly. But dir
        # shape is LAYOUT, not PROVENANCE (r9 ADVICE): a directory of
        # raw NTZ-ts files not written by ingest_engine_layout would be
        # value-shifted if declared LTZ blindly. Probe one file's footer
        # for the ts type on the driver (no Spark job) and declare what
        # the files actually store.
        from document_vector_indexer_spark.io import footer_types

        if footer_types(src)["ts"] == "timestamp_ntz":
            raw = _reader(_RAW_STREAM_SCHEMA).parquet(src)
            return raw.withColumn("ts", F.col("ts").cast("timestamp"))
        return _reader(_INGESTED_STREAM_SCHEMA).parquet(src)

    # md5 of the path, not hash(): Python string hashing is randomized
    # per process (PYTHONHASHSEED), which would leak one stage dir per
    # run (round-2 ADVICE); md5 makes re-runs reuse the same symlink.
    stage = os.path.join(
        tempfile.gettempdir(),
        f"dvi_events_stream_{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}",
    )
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)

    raw = _reader(_RAW_STREAM_SCHEMA).parquet(stage)
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def run_stream_to_memory(
    stream_df: DataFrame, query_name: str, output_mode: str = "complete"
) -> None:
    """Drive a streaming DataFrame to completion over the available
    files (availableNow) into an in-memory table named ``query_name``."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def dedup_within_watermark(
    events: DataFrame, watermark: str = "1 hour", key_cols: tuple[str, ...] = ("event_id",)
) -> DataFrame:
    """Stateful streaming dedup: drop duplicate events whose keys were
    seen within the watermark horizon — bounded state, unlike a global
    dropDuplicates. Streaming-only (rows-only check)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def tumbling_with_watermark(
    events: DataFrame, width: str = "1 hour", watermark: str = "10 minutes"
) -> DataFrame:
    """Tumbling counts under a watermark: late events beyond the
    horizon are dropped and windows finalize (append mode)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format("w.start", TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
        )
    )
