"""Structured Streaming parity: the SAME operator functions produce
identical results through readStream (availableNow) as through batch,
plus watermark/stateful-dedup smoke checks (SURVEY.md §5.2.5)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from document_vector_indexer_spark.io import load_table
from document_vector_indexer_spark.streaming import windows as W

SF_DIR = "/root/testdata/sf0.001"


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


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def test_tumbling_batch_stream_parity(spark):
    batch = W.tumbling_counts(load_table(spark, SF_DIR, "events")).toPandas()
    stream = W.tumbling_counts(W.read_events_stream(spark, SF_DIR))
    run_stream_to_memory(stream, "t_tumbling", output_mode="complete")
    got = spark.sql("SELECT * FROM t_tumbling").toPandas()
    pd.testing.assert_frame_equal(
        _normalize(got), _normalize(batch), check_dtype=False
    )


def test_session_batch_stream_parity(spark):
    batch = W.session_aggregates(load_table(spark, SF_DIR, "events")).toPandas()
    stream = W.session_aggregates(
        W.read_events_stream(spark, SF_DIR).withWatermark("ts", "1 hour")
    )
    run_stream_to_memory(stream, "t_session", output_mode="complete")
    got = spark.sql("SELECT * FROM t_session").toPandas()
    pd.testing.assert_frame_equal(
        _normalize(got), _normalize(batch), check_dtype=False
    )


def test_watermark_append_finalizes_windows(spark):
    stream = W.tumbling_with_watermark(W.read_events_stream(spark, SF_DIR))
    run_stream_to_memory(stream, "t_watermark", output_mode="append")
    got = spark.sql("SELECT * FROM t_watermark").toPandas()
    # append mode only emits windows the watermark has closed; with one
    # availableNow pass the final (max-ts) window is still open.
    batch = W.tumbling_counts(load_table(spark, SF_DIR, "events")).toPandas()
    assert 0 < len(got) < len(batch)
    merged = got.merge(
        batch[["window_start", "event_type", "n_events"]],
        on=["window_start", "event_type"],
        suffixes=("_s", "_b"),
    )
    assert (merged.n_events_s == merged.n_events_b).all()


def test_dedup_within_watermark(spark):
    ev = W.read_events_stream(spark, SF_DIR)
    deduped = W.dedup_within_watermark(ev, watermark="2 hours")
    run_stream_to_memory(
        deduped.groupBy().count(), "t_dedup", output_mode="complete"
    )
    got = spark.sql("SELECT * FROM t_dedup").toPandas()
    n_batch = load_table(spark, SF_DIR, "events").count()
    # event_id is unique in the corpus -> dedup must be lossless
    assert int(got["count"].iloc[0]) == n_batch


def test_interval_join_batch_stream_parity(spark):
    """attribution_join as a TRUE stream-stream inner join: both sides
    watermarked readStreams, time-range condition bounds the state,
    append output — must equal the batch frame pair-for-pair."""
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_DIR, "events")
    batch = W.attribution_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
    ).select(
        "user_id",
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("c"),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("p"),
    ).toPandas()

    s1 = W.read_events_stream(spark, SF_DIR).withWatermark("ts", "2 hours")
    s2 = W.read_events_stream(spark, SF_DIR).withWatermark("ts", "2 hours")
    joined = W.attribution_join(
        s1.filter(F.col("event_type") == "click"),
        s2.filter(F.col("event_type") == "purchase"),
    ).select(
        "user_id",
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("c"),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("p"),
    )
    run_stream_to_memory(joined, "t_interval_join", output_mode="append")
    got = spark.sql("SELECT * FROM t_interval_join").toPandas()
    assert len(got) > 0, "stream-stream join emitted nothing"
    pd.testing.assert_frame_equal(
        _normalize(got), _normalize(batch), check_dtype=False
    )


def test_events_stream_reads_ingested_table_dir(spark, tmp_path):
    """r8 regression: on an ingest_engine_layout dir, events.parquet is
    a Spark-written table DIRECTORY — the streaming source must read it
    (the old symlink staging listed zero files through a symlinked
    subdirectory, so every readStream-backed key silently emitted
    nothing on the ingest layout). Pinned as batch/stream row parity on
    BOTH layouts."""
    from document_vector_indexer_spark.io import ingest_engine_layout

    dest = str(tmp_path / "ingested")
    ingest_engine_layout(spark, SF_DIR, dest)

    n_batch = load_table(spark, SF_DIR, "events").count()
    for d in (SF_DIR, dest):
        got = W.read_events_stream(spark, d)
        q = (
            got.groupBy()
            .count()
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("t_ingested_stream_count")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.sql("SELECT * FROM t_ingested_stream_count").collect()
        assert rows and rows[0]["count"] == n_batch, (d, rows)


def test_events_stream_ingested_ts_values_tz_invariant(spark, tmp_path):
    """r9 regression (r8 ADVICE medium): the ingest layout stores ts as
    LTZ TIMESTAMP (absolute instants); reading it back through an NTZ
    schema + cast re-interpreted the stored UTC wall time as SESSION-TZ
    wall time, silently shifting every ts by the UTC offset under any
    non-UTC session TZ (+5h under America/New_York). Pin VALUE parity,
    not just counts: min/max formatted ts from the stream read must
    equal the batch read's under a hostile session TZ."""
    from pyspark.sql import functions as F

    from document_vector_indexer_spark.io import ingest_engine_layout

    dest = str(tmp_path / "ingested_tz")
    ingest_engine_layout(spark, SF_DIR, dest)

    def minmax_fmt(df):
        return (
            df.agg(
                F.date_format(F.min("ts"), W.TS_FMT).alias("lo"),
                F.date_format(F.max("ts"), W.TS_FMT).alias("hi"),
            )
        )

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        # batch read of the ingested layout is LTZ-native (ground truth
        # for the stored instants under this session TZ)
        batch = minmax_fmt(load_table(spark, dest, "events")).collect()[0]
        stream = minmax_fmt(W.read_events_stream(spark, dest))
        q = (
            stream.writeStream.outputMode("complete")
            .format("memory")
            .queryName("t_ingested_stream_tz")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = spark.sql("SELECT * FROM t_ingested_stream_tz").collect()[0]
        assert (got["lo"], got["hi"]) == (batch["lo"], batch["hi"]), (
            "ingest-layout stream read shifted event time under a "
            "non-UTC session TZ",
            dict(got.asDict()),
            dict(batch.asDict()),
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


# ---------------------------------------------------------------------------
# r10 (r9 VERDICT item 7): late-data semantics pinned by VALUE on both
# layouts under a hostile session TZ. The planted dir has two part
# files with distinct mtimes; maxFilesPerTrigger=1 makes the late file
# arrive in a SECOND micro-batch, after the watermark advanced past it.


def _write_planted_events_dir(sf_dir: str, ntz: bool) -> None:
    """events.parquet as a DIRECTORY of two part files: part-00000
    (on-time rows, older mtime) then part-00001 (one late row, newer
    mtime). ``ntz`` picks the raw fixture encoding (naive micros =
    TIMESTAMP_NTZ to Spark) vs the ingest layout's (UTC-adjusted =
    TIMESTAMP/LTZ) — exercising BOTH branches of read_events_stream's
    footer probe (r9 ADVICE: dir shape is layout, not provenance)."""
    import os
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    def ts(h, m):
        d = datetime(2024, 1, 1, h, m, 0)
        return d if ntz else d.replace(tzinfo=timezone.utc)

    typ = pa.timestamp("us") if ntz else pa.timestamp("us", tz="UTC")
    tbl_dir = os.path.join(sf_dir, "events.parquet")
    os.makedirs(tbl_dir)

    def write(name, rows, mtime):
        arrays = {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], typ),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
        path = os.path.join(tbl_dir, name)
        pq.write_table(pa.table(arrays), path)
        os.utime(path, (mtime, mtime))

    # on-time: two 10:00-hour clicks for user 1 + a 20:00 pusher that
    # advances the 10-minute watermark to 19:50 at end of batch 0
    write(
        "part-00000.parquet",
        [
            (1, ts(10, 0), 1, "click", 1.0, "{}"),
            (2, ts(10, 5), 1, "click", 1.0, "{}"),
            (3, ts(20, 0), 2, "click", 1.0, "{}"),
        ],
        1_700_000_000,
    )
    # a second pusher one batch later: late-event FILTERING uses the
    # previous batch's watermark while state EVICTION uses the current
    # one (SPARK-40925 two-watermark semantics) — so a late row must
    # arrive two batches after its pusher to be deterministically
    # dropped, exactly as it would in production where the watermark
    # has long advanced before a straggler lands
    write(
        "part-00001.parquet",
        [(4, ts(20, 31), 2, "click", 1.0, "{}")],
        1_700_003_600,
    )
    # late: a 10:10 row for user 1, far below the >=19:50 filtering
    # watermark in batch 2 -> must be dropped, not aggregated (its
    # window/session state was already finalized AND emitted; in append
    # mode re-aggregating it would emit a duplicate key)
    write(
        "part-00002.parquet",
        [(5, ts(10, 10), 1, "click", 1.0, "{}")],
        1_700_007_200,
    )


import os as _os

import pytest as _pytest


@_pytest.mark.parametrize(
    "ntz", [True, False], ids=["raw-ntz-dir", "ingested-ltz-dir"]
)
def test_watermark_drops_late_rows_tumbling(spark, tmp_path, ntz):
    """Append-mode tumbling agg: the finalized 10:00 window must carry
    ONLY the two on-time rows (the late 10:10 row dropped at the
    watermark), and the still-open 20:00 window must not be emitted.
    The NTZ wall-clock assertion is also the r9-ADVICE regression: the
    old dir-shape heuristic declared every directory LTZ, which would
    shift the planted 10:00 to 05:00 under America/New_York."""
    sf = str(tmp_path / f"planted_{ntz}")
    _os.makedirs(sf)
    _write_planted_events_dir(sf, ntz)
    name = f"t_late_tumbling_{int(ntz)}"
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        stream = W.tumbling_with_watermark(
            W.read_events_stream(spark, sf, max_files_per_trigger=1)
        )
        run_stream_to_memory(stream, name, output_mode="append")
        got = spark.sql(f"SELECT * FROM {name}").toPandas()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
    assert len(got) == 1, got
    assert int(got.n_events.iloc[0]) == 2, got
    if ntz:
        assert got.window_start.iloc[0] == "2024-01-01 10:00:00", got


@_pytest.mark.parametrize(
    "ntz", [True, False], ids=["raw-ntz-dir", "ingested-ltz-dir"]
)
def test_watermark_drops_late_rows_session(spark, tmp_path, ntz):
    """Append-mode session windows: user 1's finalized session must be
    the on-time pair (10:00 + 10:05, ending 10:35 = last event + gap);
    the late 10:10 row would have extended it to 10:40 -> dropped; user
    2's still-open session not emitted."""
    sf = str(tmp_path / f"planted_s_{ntz}")
    _os.makedirs(sf)
    _write_planted_events_dir(sf, ntz)
    name = f"t_late_session_{int(ntz)}"
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        stream = W.session_aggregates(
            W.read_events_stream(
                spark, sf, max_files_per_trigger=1
            ).withWatermark("ts", "10 minutes")
        )
        run_stream_to_memory(stream, name, output_mode="append")
        got = spark.sql(f"SELECT * FROM {name}").toPandas()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
    assert len(got) == 1, got
    assert int(got.user_id.iloc[0]) == 1 and int(got.n_events.iloc[0]) == 2, got
    if ntz:
        assert got.session_end.iloc[0] == "2024-01-01 10:35:00", got
