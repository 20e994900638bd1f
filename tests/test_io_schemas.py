"""io.SCHEMAS must match what the fixtures actually contain — the
declared schemas are the engine's contract (no inference in core,
SURVEY §1.3), so drift between declaration and data is a bug."""

from __future__ import annotations

import pytest

from document_vector_indexer_spark.io import (
    SCHEMAS,
    TABLES,
    SchemaMismatchError,
    ingest_engine_layout,
    load_derived,
    load_table,
    table_path,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def ingested(spark, tmp_path_factory):
    return ingest_engine_layout(
        spark, SF, str(tmp_path_factory.mktemp("ingested"))
    )


@pytest.mark.parametrize("name", TABLES)
def test_declared_schema_matches_fixture(spark, name):
    """Every table as Spark infers it from the fixture file, except raw
    events, whose ts is declared as ``_load_events`` normalizes it: it
    is compared through load_table."""
    got = (
        load_table(spark, SF, name)
        if name == "events"
        else spark.read.parquet(table_path(SF, name))
    ).schema
    want = SCHEMAS[name]
    got_fields = [(f.name, f.dataType.simpleString()) for f in got.fields]
    want_fields = [(f.name, f.dataType.simpleString()) for f in want.fields]
    assert got_fields == want_fields, (
        f"{name}: declared schema drifted from fixture:\n"
        f"  declared: {want_fields}\n  actual:   {got_fields}"
    )


@pytest.mark.parametrize("name", TABLES)
def test_declared_schema_equals_inferred_on_ingested_dir(
    spark, ingested, name
):
    inferred = spark.read.parquet(table_path(ingested, name)).schema
    assert load_table(spark, ingested, name).schema == inferred


def test_derived_schema_equals_inferred(spark, ingested):
    name = "documents__shingles3"
    inferred = spark.read.parquet(f"{ingested}/{name}.parquet").schema
    assert load_derived(spark, ingested, name).schema == inferred


def test_ingest_and_first_load_job_counts(spark, tmp_path, jobs_run):
    """Declared-schema reads run no schema-inference job, a one-file
    table is copied instead of rewritten, a one-row-group source is cut
    into its files by Arrow on the driver, and events are bucketed by
    Arrow on the driver too: an sf0.001 ingest is 1 job (the shingles
    sidecar, projected without a shuffle from the cut documents), and
    the first load of every table, of the raw fixture dir (in a new
    session, whose table cache is empty) and of the ingested dir, runs
    none."""
    dest = str(tmp_path / "ingested")
    n_ingest = jobs_run(lambda: ingest_engine_layout(spark, SF, dest))
    assert n_ingest <= 1

    fresh = spark.newSession()

    def first_load():
        for t in TABLES:
            load_table(fresh, SF, t).schema  # noqa: B018
            load_table(spark, dest, t).schema  # noqa: B018
        load_derived(spark, dest, "documents__shingles3").schema  # noqa: B018

    assert jobs_run(first_load) == 0


def test_failed_arrow_split_leaves_no_partial_table(spark, tmp_path, monkeypatch):
    """A write failing after the first files of one table's split
    fails the ingest and leaves neither that table nor its temporary
    directory behind; the splits that did not fail are complete."""
    import os
    import threading

    import pyarrow.parquet as pq

    from document_vector_indexer_spark.io import parquet_rows

    failed, lock, real = [], threading.Lock(), pq.ParquetWriter.write_batch

    def failing(self, batch, *a, **kw):
        with lock:  # the tables split in concurrent threads; fail one
            fail = not failed and os.path.basename(self.where) == "part-00002.parquet"
            if fail:
                failed.append(os.path.basename(os.path.dirname(self.where)))
        if fail:
            raise OSError("injected write failure")
        return real(self, batch, *a, **kw)

    monkeypatch.setattr(pq.ParquetWriter, "write_batch", failing)
    dest = str(tmp_path / "ingested")
    with pytest.raises(OSError, match="injected"):
        ingest_engine_layout(spark, SF, dest, target_file_bytes=16 << 10)
    table = failed[0].split(".")[1]  # the temp dir is .<table>.parquet.<suffix>
    left = os.listdir(dest)
    assert not [f for f in left if f.startswith(".")], left
    assert f"{table}.parquet" not in left
    for t in ("lineitem", "documents", "embeddings"):
        if t != table:
            assert parquet_rows(table_path(dest, t)) == parquet_rows(table_path(SF, t))


def test_failed_events_write_leaves_no_partial_table(spark, tmp_path, monkeypatch):
    """An events write failing after its files are written fails the
    ingest and leaves neither events.parquet nor its temporary
    directory behind; every other table is complete. Both writers: the
    driver's Arrow bucketing of the fixture, and Spark's bucketed write
    (forced by a zero source-size bound)."""
    import os

    from document_vector_indexer_spark import io as dio

    for name in ("_write_event_buckets", "write_bucketed"):
        real, ran = getattr(dio, name), []

        def failing(*a, real=real, ran=ran, **kw):
            real(*a, **kw)
            ran.append(True)
            raise OSError("injected write failure")

        with monkeypatch.context() as m:
            m.setattr(dio, name, failing)
            if name == "write_bucketed":
                m.setattr(dio, "_ARROW_EVENTS_MAX_BYTES", 0)
            dest = str(tmp_path / name)
            with pytest.raises(OSError, match="injected"):
                ingest_engine_layout(spark, SF, dest, target_file_bytes=16 << 10)
        assert ran == [True], name
        left = os.listdir(dest)
        assert not [f for f in left if f.startswith(".")], (name, left)
        assert "events.parquet" not in left, name
        for t in TABLES:
            if t != "events":
                assert dio.parquet_rows(table_path(dest, t)) == dio.parquet_rows(
                    table_path(SF, t)
                ), (name, t)


def test_failed_sidecar_write_leaves_no_sidecar(spark, tmp_path, monkeypatch):
    """A shingles-sidecar write failing after its files are written
    fails the ingest and leaves neither the sidecar nor its temporary
    directory behind, so no near-dup query can read a partial one."""
    import os

    from pyspark.sql.readwriter import DataFrameWriter

    from document_vector_indexer_spark import io as dio

    real, written = DataFrameWriter.parquet, []

    def failing(self, path, *a, **kw):
        real(self, path, *a, **kw)
        if os.path.basename(path).startswith(f".{dio.SHINGLES3}"):
            written.extend(os.listdir(path))
            raise OSError("injected write failure")

    monkeypatch.setattr(DataFrameWriter, "parquet", failing)
    dest = str(tmp_path / "ingested")
    with pytest.raises(OSError, match="injected"):
        ingest_engine_layout(spark, SF, dest)
    assert "_SUCCESS" in written and len(written) > 1
    left = os.listdir(dest)
    assert not [f for f in left if f.startswith(".")], left
    assert f"{dio.SHINGLES3}.parquet" not in left
    assert load_derived(spark, dest, dio.SHINGLES3) is None


def test_uncommitted_sidecar_is_not_loaded(spark, ingested, tmp_path):
    """A sidecar directory without the writer's _SUCCESS marker may
    hold part of the rows: load_derived refuses it, so callers compute
    the projection inline."""
    import os
    import shutil

    from document_vector_indexer_spark.io import SHINGLES3

    d, side = str(tmp_path / "partial"), f"{SHINGLES3}.parquet"
    for name in ("documents.parquet", side):
        shutil.copytree(os.path.join(ingested, name), os.path.join(d, name))
    assert load_derived(spark, d, SHINGLES3) is not None
    os.remove(os.path.join(d, side, "_SUCCESS"))
    assert load_derived(spark, d, SHINGLES3) is None


def test_nanos_events_ts_read_as_micros(spark, tmp_path):
    """An INT64 TIMESTAMP(NANOS) ts (an older fixture generation) is
    read as a long under the legacy conf and truncated to micros."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    t = pq.read_table(table_path(SF, "events"))
    i = t.schema.get_field_index("ts")
    ns = pa.array([1_700_000_000_123_456_789] * t.num_rows, pa.timestamp("ns"))
    pq.write_table(t.set_column(i, "ts", ns), str(tmp_path / "events.parquet"))
    ev = load_table(spark, str(tmp_path), "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    got = ev.select(F.unix_micros("ts").alias("us")).distinct().collect()
    assert [r.us for r in got] == [1_700_000_000_123_456]


def _write_region(tmp_path, table) -> str:
    import pyarrow.parquet as pq

    pq.write_table(table, str(tmp_path / "region.parquet"))
    return str(tmp_path)


def test_missing_declared_column_raises(spark, tmp_path):
    """A declared-schema read of a file without the column would return
    NULLs for it; the footer check refuses the file instead."""
    import pyarrow as pa

    d = _write_region(
        tmp_path, pa.table({"r_regionkey": pa.array([0, 1], pa.int32())})
    )
    with pytest.raises(SchemaMismatchError, match="'region'.*'r_name'"):
        load_table(spark, d, "region")


def test_integer_width_mismatch_raises(spark, tmp_path):
    import pyarrow as pa

    d = _write_region(
        tmp_path,
        pa.table(
            {
                "r_regionkey": pa.array([0, 1], pa.int64()),
                "r_name": ["AFRICA", "AMERICA"],
            }
        ),
    )
    with pytest.raises(
        SchemaMismatchError, match="'r_regionkey' is declared int.*bigint"
    ):
        load_table(spark, d, "region")


def test_timestamp_ntz_vs_ltz_mismatch_raises(spark, tmp_path):
    """orders.o_orderdate is declared naive (TIMESTAMP_NTZ); a file
    storing UTC-adjusted timestamps would read shifted under any other
    session time zone."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(table_path(SF, "orders"))
    i = t.schema.get_field_index("o_orderdate")
    t = t.set_column(
        i, "o_orderdate", t.column(i).cast(pa.timestamp("us", tz="UTC"))
    )
    pq.write_table(t, str(tmp_path / "orders.parquet"))
    with pytest.raises(
        SchemaMismatchError,
        match="'o_orderdate' is declared timestamp_ntz.*stores timestamp$",
    ):
        load_table(spark, str(tmp_path), "orders")


def test_unknown_table_rejected(spark):
    with pytest.raises(KeyError, match="unknown table"):
        load_table(spark, SF, "nope")


def test_events_ts_is_timestamp_after_nanos_handling(spark):
    ev = load_table(spark, SF, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    # sub-second precision survives the ns->us truncation
    from pyspark.sql import functions as F

    n_subsec = ev.filter(F.date_trunc("second", "ts") != F.col("ts")).count()
    assert n_subsec > 0


def test_csv_null_vs_empty_string_roundtrip(spark, tmp_path):
    """The CSV sink's nullValue sentinel must keep NULL and '' distinct
    through a round-trip — the classic CSV data-loss bug."""
    from pyspark.sql import types as T

    from document_vector_indexer_spark.sources.csv import read_csv, write_csv

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("s", T.StringType()),
        ]
    )
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, 'a,"b"\nc'), (4, "\\N")], schema
    )
    dest = str(tmp_path / "csv_nulls")
    write_csv(df, dest)
    back = {r.id: r.s for r in read_csv(spark, dest, schema).collect()}
    assert back[1] is None
    assert back[2] == ""
    assert back[3] == 'a,"b"\nc'
    # documented sentinel collision (sources/csv.py): literal "\N"
    # content is indistinguishable from NULL even when quoted — the
    # parser applies nullValue after unquoting. Pin it so a behavior
    # change (e.g. a Spark upgrade fixing quoted sentinels) surfaces.
    assert back[4] is None
