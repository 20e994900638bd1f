"""Bucketed co-located joins: the pay-the-shuffle-once-at-ingest
layout. The plan assertions ARE the feature — a bucketed fact-fact
join must not exchange either side."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from document_vector_indexer_spark.io import load_table, write_bucketed

SF = "/root/testdata/sf0.01"
SF_TINY = os.path.join(os.path.dirname(SF), "sf0.001")


@pytest.fixture(scope="module")
def bucketed(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("bucketed"))
    write_bucketed(
        spark, load_table(spark, SF, "orders"), "b_orders", "o_orderkey",
        location=f"{base}/orders",
    )
    write_bucketed(
        spark,
        load_table(spark, SF, "lineitem"), "b_lineitem", "l_orderkey",
        location=f"{base}/lineitem",
    )
    yield
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_join_is_shuffle_free(spark, bucketed):
    # disable broadcast: at test scale Catalyst would broadcast the
    # small side, which hides the layout property under test — the
    # 100 TB regime where neither fact side broadcasts is exactly when
    # bucketing pays
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = spark.table("b_lineitem")
        orders = spark.table("b_orders")
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).agg(F.count("*").alias("n"))
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    # the only exchange allowed is the final tiny groupBy on priority;
    # below the join there must be NO exchange — both bucketed scans
    # feed the join in place
    join_part = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in join_part, (
        f"bucketed join re-shuffled a side:\n{plan}"
    )
    assert plan.count("Bucketed: true") == 2


def test_bucketed_join_matches_plain_join(spark, bucketed):
    li = load_table(spark, SF, "lineitem")
    orders = load_table(spark, SF, "orders")
    want = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority").agg(F.count("*").alias("n"))
        .orderBy("o_orderpriority").collect()
    )
    got = (
        spark.table("b_lineitem")
        .join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority").agg(F.count("*").alias("n"))
        .orderBy("o_orderpriority").collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def _file_counts(sf_dir: str) -> dict[str, int]:
    """Data files per table: a one-file table counts 1."""
    import os

    from document_vector_indexer_spark.io import TABLES, table_path

    out = {}
    for t in TABLES:
        p = table_path(sf_dir, t)
        out[t] = 1 if os.path.isfile(p) else sum(
            not f.startswith(("_", ".")) for f in os.listdir(p)
        )
    return out


def _pq_files(path: str) -> list[str]:
    import os

    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if not f.startswith(("_", "."))
    )


def test_ingest_engine_layout_is_reentrant_over_ingested_dirs(
    spark, tmp_path
):
    """r8 review: ingesting FROM an already-ingested dir reads the
    source's bucketed events.parquet through _load_events_bucketed's
    CREATE TABLE. Two pool threads once raced that DDL; only one ingest
    thread now loads events, and the DDL keeps IF NOT EXISTS. The
    ingest must complete and the re-ingested events must match the
    original exactly.

    The re-ingest must also keep each table's file layout: a
    directory-form source is sized by its total bytes, not by the
    4096-byte size of the directory entry (which collapsed every
    rewritten table to one file). Byte sizing is not idempotent (a
    k-file rewrite takes more bytes than one file, so a re-ingest can
    add files), so the guarantee checked is that no table loses any."""
    from document_vector_indexer_spark.io import (
        ingest_engine_layout,
        load_table,
    )

    src = "/root/testdata/sf0.001"
    first = str(tmp_path / "ingest1")
    second = str(tmp_path / "ingest2")
    ingest_engine_layout(spark, src, first, target_file_bytes=16 << 10)
    # source IS ingested
    ingest_engine_layout(spark, first, second, target_file_bytes=16 << 10)
    a = sorted(map(tuple, load_table(spark, first, "events").collect()))
    b = sorted(map(tuple, load_table(spark, second, "events").collect()))
    assert a == b
    counts, again = _file_counts(first), _file_counts(second)
    assert counts["lineitem"] > 1
    assert all(again[t] >= n for t, n in counts.items()), (counts, again)


def test_ingest_splits_one_row_group_without_losing_rows(spark, tmp_path):
    """A one-row-group source is cut into its k files by Arrow on the
    driver: k files, and every row exactly once."""
    import os

    from document_vector_indexer_spark.io import (
        TABLES,
        footer_types,
        ingest_engine_layout,
        load_table,
        table_path,
    )

    src = "/root/testdata/sf0.001"
    dest = str(tmp_path / "ingested")
    target = 16 << 10
    ingest_engine_layout(spark, src, dest, target_file_bytes=target)
    k = os.path.getsize(table_path(src, "lineitem")) // target
    assert k > 1 and _file_counts(dest)["lineitem"] == k
    for t in TABLES:
        a, b = load_table(spark, src, t), load_table(spark, dest, t)
        assert a.count() == b.count(), t
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty(), t
    for t in ("orders", "lineitem", "documents", "embeddings"):  # cut by Arrow
        for f in _pq_files(table_path(dest, t)):
            assert footer_types(f) == footer_types(table_path(src, t)), f


def test_arrow_split_cuts_contiguous_runs_in_source_order(tmp_path, monkeypatch):
    """File i holds source rows [i·per, (i+1)·per), per = ceil(rows/k),
    in order, with k not dividing rows and batches straddling the file
    boundaries; footer types, timestamp, array and map columns
    included, equal the source's."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from document_vector_indexer_spark import io as dio

    monkeypatch.setitem(dio.SCHEMAS, "mixed", T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("vec", T.ArrayType(T.FloatType())),
        T.StructField("props", T.MapType(T.StringType(), T.LongType())),
    ]))
    monkeypatch.setattr(dio, "_SPLIT_BATCH_ROWS", 64)
    rows, k = 1000, 6
    t0 = datetime.datetime(2024, 1, 1)
    src_table = pa.table({
        "id": pa.array(range(rows), pa.int64()),
        "ts": pa.array([t0 + datetime.timedelta(seconds=i) for i in range(rows)],
                       pa.timestamp("us")),
        "vec": pa.array([[float(i), 0.5] for i in range(rows)], pa.list_(pa.float32())),
        "props": pa.array([[("n", i)] for i in range(rows)], pa.map_(pa.string(), pa.int64())),
    })
    src, out = str(tmp_path / "mixed_src.parquet"), str(tmp_path / "mixed.parquet")
    pq.write_table(src_table, src)
    dio._arrow_split("mixed", src, out, rows, k)
    per = -(-rows // k)
    files = _pq_files(out)
    assert len(files) == k and rows % k
    for i, f in enumerate(files):
        assert pq.read_table(f).equals(src_table.slice(i * per, per)), f
        assert dio.footer_types(f) == dio.footer_types(src)


def test_arrow_split_refuses_mismatched_source(tmp_path):
    """A source that fails the declared-schema check raises before any
    file is written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from document_vector_indexer_spark import io as dio

    src, out = str(tmp_path / "src.parquet"), str(tmp_path / "out" / "region.parquet")
    (tmp_path / "out").mkdir()
    pq.write_table(pa.table({
        "r_regionkey": pa.array([0, 1], pa.int64()),  # declared int
        "r_name": pa.array(["a", "b"]),
    }), src)
    with pytest.raises(dio.SchemaMismatchError, match="'r_regionkey'"):
        dio._arrow_split("region", src, out, 2, 2)
    assert list((tmp_path / "out").iterdir()) == []


def test_murmur3_bucket_equals_spark_bucket_hash(spark):
    """The Arrow writer's bucket id equals Spark's pmod(hash(v), n) on
    edge longs and random ones, with n the bucket count and a large
    prime (which sees every bit of the hash); a NULL key hashes to the
    seed, 42, where the Arrow writer puts it."""
    import numpy as np

    from document_vector_indexer_spark.io import EVENTS_BUCKETS, murmur3_bucket

    edge = [0, 1, -1, 2, -2, 1 << 31, -(1 << 31), (1 << 31) - 1, 1 << 32,
            -(1 << 32), (1 << 32) - 1, (1 << 63) - 1, -(1 << 63)]
    vals = edge + np.random.default_rng(7).integers(
        -(1 << 63), (1 << 63) - 1, 500, dtype=np.int64
    ).tolist()
    df = spark.createDataFrame([(v,) for v in vals] + [(None,)], "v bigint")
    for n in (EVENTS_BUCKETS, 1_000_003):
        got = {
            r.v: r.b
            for r in df.select("v", F.expr(f"pmod(hash(v), {n})").alias("b")).collect()
        }
        want = murmur3_bucket(np.array(vals, np.int64), n)
        assert [got[v] for v in vals] == want.tolist(), n
        assert got[None] == 42 % n


def _fixture_with_events(tmp_path, events) -> str:
    """A copy of the sf0.001 fixture dir whose events table is
    ``events`` (a pyarrow table, written as one row group)."""
    import shutil

    import pyarrow.parquet as pq

    from document_vector_indexer_spark.io import TABLES, table_path

    src, d = SF_TINY, str(tmp_path / "fixture")
    os.makedirs(d)
    for t in TABLES:
        if t != "events":
            shutil.copyfile(table_path(src, t), table_path(d, t))
    pq.write_table(events, table_path(d, "events"), row_group_size=events.num_rows)
    return d


def _written_by_spark(path: str) -> bool:
    import pyarrow.parquet as pq

    return b"org.apache.spark.version" in (pq.read_metadata(path).metadata or {})


def _with_nulls(tmp_path) -> str:
    """sf0.001 with NULL user_id on every 7th event and NULL ts on
    every 5th."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(SF_TINY, "events.parquet"))
    for c, k, typ in (("user_id", 7, pa.int64()), ("ts", 5, pa.timestamp("us"))):
        vals = [None if i % k == 0 else v for i, v in enumerate(t.column(c).to_pylist())]
        t = t.set_column(t.schema.get_field_index(c), c, pa.array(vals, typ))
    return _fixture_with_events(tmp_path, t)


@pytest.mark.parametrize("src", ["sf0.001", "sf0.01", "nulls"])
def test_arrow_bucketed_events_equal_spark_writer(spark, tmp_path, monkeypatch, src):
    """The driver's Arrow bucketing of a one-row-group events source
    writes, bucket for bucket, the rows Spark's bucketed writer writes
    (forced by a zero source-size bound). Every file of both is sorted
    by (user_id, ts), nulls first, and holds only rows whose
    pmod(hash(user_id), 8) is its bucket id; the Arrow layout registers
    as the bucketed table."""
    import re

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from document_vector_indexer_spark import io as dio

    sf = _with_nulls(tmp_path) if src == "nulls" else os.path.join(os.path.dirname(SF), src)
    arrow, spark_dir = str(tmp_path / "arrow"), str(tmp_path / "spark")
    dio.ingest_engine_layout(spark, sf, arrow)
    monkeypatch.setattr(dio, "_ARROW_EVENTS_MAX_BYTES", 0)
    dio.ingest_engine_layout(spark, sf, spark_dir)

    def buckets(d: str, by_spark: bool) -> dict:
        out = {}
        for f in _pq_files(dio.table_path(d, "events")):
            assert _written_by_spark(f) == by_spark, f
            t = pq.read_table(f)
            order = pc.sort_indices(
                t, [("user_id", "ascending"), ("ts", "ascending")],
                null_placement="at_start",
            )  # stable: the identity iff t is sorted
            assert order.equals(pa.array(range(t.num_rows), pa.uint64())), f
            b = int(re.search(r"_(\d{5})\.c\d+", f).group(1))
            out[b] = t.sort_by([(c, "ascending") for c in t.column_names])
        return out

    got, want = buckets(arrow, False), buckets(spark_dir, True)
    assert sorted(got) == sorted(want)
    for b in want:
        assert got[b].equals(want[b]), b
    for d in (arrow, spark_dir):
        loc = dio.table_path(d, "events")
        bad = spark.read.parquet(loc).select(
            F.regexp_extract(F.input_file_name(), r"_(\d{5})\.c\d+", 1)
            .cast("int").alias("file_bucket"),
            F.expr(f"pmod(hash(user_id), {dio.EVENTS_BUCKETS})").alias("bucket"),
        ).filter("file_bucket != bucket")
        assert bad.isEmpty(), d
    assert dio._load_events_bucketed(spark, arrow) is not None
    assert sum(t.num_rows for t in got.values()) == pq.read_metadata(
        dio.table_path(sf, "events")
    ).num_rows


def test_nanos_events_source_takes_spark_path(spark, tmp_path):
    """A nanosecond ts is not naive micros: the ingest buckets it with
    Spark's writer, and the ingested events read as
    test_nanos_events_ts_read_as_micros expects of the raw source."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from document_vector_indexer_spark.io import ingest_engine_layout, table_path

    t = pq.read_table(os.path.join(SF_TINY, "events.parquet"))
    ns = pa.array([1_700_000_000_123_456_789] * t.num_rows, pa.timestamp("ns"))
    i = t.schema.get_field_index("ts")
    sf = _fixture_with_events(tmp_path, t.set_column(i, "ts", ns))
    dest = str(tmp_path / "ingested")
    ingest_engine_layout(spark, sf, dest)
    files = _pq_files(table_path(dest, "events"))
    assert files and all(_written_by_spark(f) for f in files)
    ev = load_table(spark, dest, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    got = ev.select(F.unix_micros("ts").alias("us")).distinct().collect()
    assert [r.us for r in got] == [1_700_000_000_123_456]


def test_partial_bucketed_dir_is_not_registered(spark, tmp_path):
    """r9 regression (r8 ADVICE): a bucketed dir WITHOUT the writer's
    _SUCCESS marker (crashed ingest) must not register — Spark trusts
    catalog bucket metadata to elide exchanges, so a partial dir would
    silently drop the missing buckets' rows. The reader must fall back
    to a plain parquet read of the same files with full row parity."""
    import os

    from document_vector_indexer_spark.io import (
        _load_events_bucketed,
        ingest_engine_layout,
    )

    src = "/root/testdata/sf0.001"
    dest = str(tmp_path / "crashed")
    ingest_engine_layout(spark, src, dest)
    os.remove(os.path.join(dest, "events.parquet", "_SUCCESS"))
    assert _load_events_bucketed(spark, dest) is None
    n_src = load_table(spark, src, "events").count()
    assert load_table(spark, dest, "events").count() == n_src


def test_bucketed_dir_with_foreign_bucket_id_is_not_registered(tmp_path):
    """A data file whose bucket-id suffix exceeds the bucket count is
    not a write this reader's metadata describes — refuse it."""
    from document_vector_indexer_spark.io import _bucketed_dir_committed

    loc = tmp_path / "evil"
    loc.mkdir()
    (loc / "_SUCCESS").touch()
    # marker but ZERO data files (partial cleanup): registering would
    # crash the read (UNABLE_TO_INFER_SCHEMA) instead of falling back
    assert not _bucketed_dir_committed(str(loc))
    (loc / "part-00000-x_00000.c000.snappy.parquet").touch()
    assert _bucketed_dir_committed(str(loc))
    (loc / "part-00008-x_00008.c000.snappy.parquet").touch()
    assert not _bucketed_dir_committed(str(loc))


def test_schema_ddl_round_trips(spark):
    """``StructType.toDDL`` (the DDL the bucketed-events CREATE TABLE
    runs on) must parse back to the identical schema for every engine
    table."""
    from pyspark.sql import types as T

    from document_vector_indexer_spark.io import TABLES

    for t in TABLES:
        schema = load_table(spark, SF, t).schema
        assert T.StructType.fromDDL(schema.toDDL()) == schema, t
