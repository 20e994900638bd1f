"""Table registry + explicit schemas for the test corpus.

The engine core never infers schemas (mirrors the reference's fixed,
code-defined schema policy, ``/root/reference/index_documents.py:202-224``);
every table is read with its StructType declared here, which spares the
one schema-inference Spark job per table a plain ``spark.read.parquet``
runs. Raw ``events`` picks its ``ts`` type from the footer, since the
timestamp encoding varies by fixture generation (``_load_events``).
Before a declared read, the declaration is checked against one data
file's footer on the driver (``check_declared_schema``, no Spark job),
so a missing column or a changed type raises ``SchemaMismatchError``
instead of reading as NULLs.

``ingest_engine_layout`` rewrites a corpus into the engine's multi-file
layout, one stored layout per table. ``events`` is stored bucketed by
``user_id``. Of the other tables, one that stays one file is copied;
one whose source is one file of one row group is cut into its files by
Arrow's parquet codec on the driver (``_arrow_split``); every other
source (a directory, a file of several row groups) is repartitioned by
Spark. The Spark jobs left in a fixture ingest are the two layouts
that need a shuffle: the ``documents__shingles3`` sidecar and the
bucketed events table. ``parquet_rows`` counts a written table from
its footers.

Scale note: at 100 TB each of these reads becomes a partitioned
parquet/Delta table; ``spark.read.parquet`` keeps predicate pushdown,
column pruning and partition pruning intact — nothing here materializes
or caches eagerly.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from document_vector_indexer_spark.session import (
    autosize_shuffle_partitions,
    dir_bytes,
)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            # parquet naive timestamps surface as TIMESTAMP_NTZ in Spark 4
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            # after the nanos->micros conversion in _load_events
            # (timestamp_micros yields session-TZ TIMESTAMP; UTC pinned)
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Dimensionality of the `embeddings.embedding` column in the test corpus
# (the reference's --embedding-dim is likewise a runtime parameter,
# index_documents.py:263; the corpus uses 64).
EMBEDDING_DIM = 64


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


class SchemaMismatchError(ValueError):
    """A table's parquet files lack a declared column or store it as
    another type."""


def _spark_type(t, int96: bool = False) -> str:
    """The Spark type a parquet column of Arrow type ``t`` reads as:
    pyspark's Arrow mapping, with naive timestamps as TIMESTAMP_NTZ (as
    Spark 4 reads them), except that INT96 timestamps read as TIMESTAMP
    and INT64 nanosecond timestamps as BIGINT (Spark reads them only
    under ``spark.sql.legacy.parquet.nanosAsLong``, which
    ``_load_events`` sets). A type pyspark cannot map keeps its Arrow
    name, which matches no declared type."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_type

    if pa.types.is_timestamp(t) and (int96 or t.unit == "ns"):
        return "timestamp" if int96 else "bigint"
    try:
        return from_arrow_type(t, prefer_timestamp_ntz=True).simpleString()
    except TypeError:
        return str(t)


def footer_types(path: str) -> "dict[str, str] | None":
    """Column name -> Spark type string of the parquet table at
    ``path`` (one file, or a directory of part files), read from ONE
    data file's footer on the driver: no Spark job. ``None`` for a
    directory without data files."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = [
            os.path.join(path, fn)
            for fn in sorted(os.listdir(path))
            if not fn.startswith(("_", "."))
            and os.path.isfile(os.path.join(path, fn))
        ]
        if not files:
            return None
        path = files[0]
    pf = pq.ParquetFile(path)
    int96 = {
        pf.schema.column(i).path
        for i in range(len(pf.schema))
        if pf.schema.column(i).physical_type == "INT96"
    }
    return {f.name: _spark_type(f.type, f.name in int96) for f in pf.schema_arrow}


def check_declared_schema(table: str, path: str, schema: "T.StructType") -> None:
    """Raise ``SchemaMismatchError`` unless the files at ``path`` hold
    every column of ``schema`` with its declared type. A declared-schema
    read would otherwise return NULLs for a missing column, or fail
    later, mid-query, on a changed type."""
    found = footer_types(path)
    if found is None:
        return
    for f in schema.fields:
        want, got = f.dataType.simpleString(), found.get(f.name)
        if got != want:
            what = "has no such column" if got is None else f"stores {got}"
            raise SchemaMismatchError(
                f"table {table!r}: column {f.name!r} is declared {want}, "
                f"but {path} {what}"
            )


def _read_declared(
    spark: SparkSession, table: str, path: str, schema: "T.StructType"
) -> DataFrame:
    check_declared_schema(table, path, schema)
    return spark.read.schema(schema).parquet(path)


# Catalog cache: session -> {(sf_dir, table): DataFrame}. A DataFrame
# is an immutable logical plan, so handing the same one to every query
# is semantically free, and it spares the per-query driver-side file
# listing + parquet footer read that spark.read.parquet performs — the
# same role a metastore catalog plays for spark.table() in production.
# The test corpus dirs are immutable by contract (TESTDATA.md); writers
# in this package never write into an sf_dir. Weak keying drops a
# session's entries when the session itself is released.
_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = None  # type: ignore[assignment]


def _session_cache(spark: SparkSession) -> dict:
    """The per-session (sf_dir, name) -> DataFrame cache, shared by
    ``load_table`` and ``load_derived`` (one cache protocol, one
    implementation)."""
    global _TABLE_CACHE
    if _TABLE_CACHE is None:
        import weakref

        _TABLE_CACHE = weakref.WeakKeyDictionary()
    return _TABLE_CACHE.setdefault(spark, {})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    per_session = _session_cache(spark)
    got = per_session.get((sf_dir, name))
    if got is not None:
        return got
    if name == "events":
        df = _load_events_bucketed(spark, sf_dir)
        if df is None:
            df = _load_events(spark, sf_dir)
    else:
        df = _read_declared(spark, name, table_path(sf_dir, name), SCHEMAS[name])
    per_session[(sf_dir, name)] = df
    return df


# The event tables' natural cluster key: every per-user operator in the
# engine (sessionization, funnels, retention, paths, attribution, asof)
# requires ClusteredDistribution(user_id), so `ingest_engine_layout`
# pays that one hash shuffle ONCE and stores events as a bucketed +
# per-bucket-sorted parquet table. Any hash-compatible partitioning on
# a SUBSET of an operator's grouping keys satisfies its clustered
# requirement, so the bucketed scan removes the Exchange from every one
# of those plans (at 100 TB this is the standard warehouse layout
# decision — the same rationale as `write_bucketed` below). 8 buckets
# matches the bench's shuffle width; a production ingest sizes this to
# ~2-3x total executor cores.
EVENTS_BUCKETS = 8


def _loc_table_name(prefix: str, loc: str) -> str:
    """Deterministic catalog name for a location-backed table: md5 of
    the absolute path (not hash() — randomized per process), shared by
    the ingest writer and the reader registration so they can't drift."""
    import hashlib

    return prefix + hashlib.md5(os.path.abspath(loc).encode()).hexdigest()[:10]


def _bucketed_dir_committed(loc: str) -> bool:
    """True iff the bucketed-table dir is a COMPLETE write: _SUCCESS
    marker present and at least one data file, every data file named
    with a bucket id below the bucket count (the ``..._NNNNN.c000``
    suffix Spark's bucketed writer emits). A marker-only dir (partial
    cleanup) must fall back too — registering it would crash the read
    instead of degrading to a plain parquet read."""
    if not os.path.exists(os.path.join(loc, "_SUCCESS")):
        return False
    import re as _re

    n_data = 0
    for fn in os.listdir(loc):
        if fn.startswith(("_", ".")):
            continue
        m = _re.search(r"_(\d{5})\.c\d+", fn)
        if m is None or int(m.group(1)) >= EVENTS_BUCKETS:
            return False
        n_data += 1
    return n_data > 0


def _load_events_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame | None:
    """The bucketed ``events.parquet`` directory written by
    ``ingest_engine_layout``, or ``None`` on raw fixture dirs, whose
    ``events.parquet`` is one file (the driver's correctness runs read
    those; they fall back to ``_load_events`` on the same path — same
    values, the rewrite is lossless).

    Bucket METADATA lives in a catalog, not in parquet files, and the
    ingest runs in its own process — so this registers an external
    bucketed table over the already-bucket-named files (a pure
    metadata-only DDL: no job, no data movement; the production analog
    is the table simply living in the metastore).

    Registration is gated on the writer's ``_SUCCESS`` commit marker
    and on every data file carrying a valid bucket-id suffix: Spark
    TRUSTS catalog bucket metadata to elide exchanges, so registering a
    partially-written dir (crashed ingest) would silently drop the
    missing buckets' rows from every downstream plan (r8 ADVICE). An
    uncommitted or foreign dir is read as plain parquet by
    ``_load_events`` — correct values, just without the layout win."""
    loc = table_path(sf_dir, "events")
    if not (os.path.isdir(loc) and _bucketed_dir_committed(loc)):
        return None
    tbl = _loc_table_name("events_by_user_", loc)
    if not spark.catalog.tableExists(tbl):
        check_declared_schema("events", loc, SCHEMAS["events"])
        ddl = SCHEMAS["events"].toDDL()
        # IF NOT EXISTS: two threads of one session can race past the
        # tableExists check; the DDL is idempotent metadata either way
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {tbl} ({ddl}) USING parquet "
            f"CLUSTERED BY (user_id) SORTED BY (user_id, ts) "
            f"INTO {EVENTS_BUCKETS} BUCKETS LOCATION '{loc}'"
        )
    return spark.table(tbl)


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize ``events.ts`` to session-TZ TIMESTAMP (UTC pinned)
    regardless of how the fixture writer stored it. Generations seen so
    far: INT64 TIMESTAMP(NANOS) (Spark 4 rejects it outright —
    PARQUET_TYPE_ILLEGAL — so read nanos as long via the legacy conf
    and truncate to micros, the same truncation DuckDB applies), and
    naive TIMESTAMP(MICROS) (surfaces as TIMESTAMP_NTZ; cast is
    value-preserving under the UTC session TZ). TIMESTAMP rather than
    NTZ because Structured Streaming watermarks accept only TIMESTAMP
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) and batch/stream share these
    query shapes.

    The stored ``ts`` type comes from one file's footer on the driver
    (``footer_types``), so this read, like every other table's, is
    declared and runs no schema-inference job.
    """
    from pyspark.sql import functions as F

    path = table_path(sf_dir, "events")
    ts_type = (footer_types(path) or {}).get("ts")
    if ts_type == "bigint":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stored = {"bigint": T.LongType(), "timestamp_ntz": T.TimestampNTZType()}
    schema = T.StructType(
        [
            T.StructField("ts", stored.get(ts_type, T.TimestampType()))
            if f.name == "ts"
            else f
            for f in SCHEMAS["events"].fields
        ]
    )
    df = _read_declared(spark, "events", path, schema)
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works too."""
    for n in TABLES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


# Per-row-CPU-heavy tables: downstream operators (chunkers, shingling,
# vector math) cost per ROW, not per byte, so their parallelism must
# come from row spread even when the files are byte-small.
_ROW_SPREAD_TABLES = {"documents": 16, "embeddings": 16}


def _one_row_group_rows(path: str) -> int | None:
    """Row count of a parquet table stored as one file holding one row
    group (footer read on the driver), else ``None``."""
    import pyarrow.parquet as pq

    if not os.path.isfile(path):
        return None
    meta = pq.ParquetFile(path).metadata
    return meta.num_rows if meta.num_row_groups == 1 else None


def parquet_rows(path: str) -> int:
    """Exact row count of the parquet table at ``path`` (one file, or a
    directory of part files, partition subdirectories included), summed
    from the footers on the driver: no Spark job. Entries Spark's
    reader skips, ``_``/``.``-prefixed ones such as ``_SUCCESS`` or a
    saved ``_idf_model``, are skipped too."""
    import pyarrow.parquet as pq

    if os.path.isfile(path):
        return pq.read_metadata(path).num_rows
    n = 0
    for dirpath, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        n += sum(
            pq.read_metadata(os.path.join(dirpath, f)).num_rows
            for f in files
            if not f.startswith(("_", "."))
        )
    return n


@contextmanager
def _renamed_into_place(out: str):
    """Yield a temporary path beside ``out`` for one writer to fill,
    then rename it into place as ``out``, replacing what was there. The
    temporary is ``.``-prefixed, as Spark and ``parquet_rows`` mark an
    entry to skip. A writer that raises leaves ``out`` untouched and the
    temporary removed, so no table is ever seen half-written."""
    import uuid

    tmp = os.path.join(
        os.path.dirname(out), f".{os.path.basename(out)}.{uuid.uuid4().hex}"
    )
    try:
        yield tmp
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    if os.path.isdir(out):
        shutil.rmtree(out)
    elif os.path.exists(out):
        os.remove(out)
    os.rename(tmp, out)


# Rows per record batch the Arrow split streams through the driver:
# its memory follows this batch, not the source's one row group.
_SPLIT_BATCH_ROWS = 1 << 16


def _arrow_split(table: str, src: str, out: str, rows: int, k: int) -> None:
    """Cut ``src``, one parquet file of ``rows`` rows in one row group,
    into k files at ``out`` with Arrow's parquet codec on the driver:
    file i holds source rows [i·per, (i+1)·per), per = ceil(rows / k),
    in source order, with the declared columns in their declared order.

    The source is checked against the declaration first, then streamed
    in bounded record batches (a buffered reader, no pre-buffering of
    whole column chunks). The files are counted from their footers and
    renamed into place (``_renamed_into_place``), so a failed split
    leaves no table behind."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    names = SCHEMAS[table].fieldNames()
    check_declared_schema(table, src, SCHEMAS[table])
    per = max(1, -(-rows // k))
    pf = pq.ParquetFile(src, buffer_size=1 << 20)
    schema = pa.schema([pf.schema_arrow.field(n) for n in names])
    with _renamed_into_place(out) as tmp:
        os.makedirs(tmp)
        part, left = 0, per
        writer = pq.ParquetWriter(os.path.join(tmp, "part-00000.parquet"), schema)
        for batch in pf.iter_batches(
            batch_size=min(per, _SPLIT_BATCH_ROWS), columns=names
        ):
            while batch.num_rows:
                if left == 0:
                    writer.close()
                    part, left = part + 1, per
                    writer = pq.ParquetWriter(
                        os.path.join(tmp, f"part-{part:05d}.parquet"), schema
                    )
                piece = batch.slice(0, left)
                writer.write_batch(piece)
                left -= piece.num_rows
                batch = batch.slice(piece.num_rows)
        writer.close()
        if parquet_rows(tmp) != rows:
            raise RuntimeError(f"split of {src} did not write its {rows} rows")


def ingest_engine_layout(
    spark: SparkSession,
    sf_dir: str,
    dest: str,
    max_files: int = 16,
    target_file_bytes: int = 1 << 20,
) -> str:
    """Rewrite the corpus into the engine's own multi-file parquet
    layout and return ``dest`` (usable anywhere a ``sf_dir`` is).

    Why this exists: a storage engine owns its layout. The driver's
    fixtures are one file with ONE row group per table, which caps every
    Spark scan at one task regardless of cores — an artifact of the
    fixture writer, not of the data. At production scale the same
    principle is the standard ~128 MB-files ingest/compaction step every
    lakehouse runs; at bench scale the target is ~1 MB files so a
    local[32] session actually parallelizes. The rewrite is lossless
    (parquet -> parquet, values bit-identical; ``events.ts`` nanos are
    normalized to the same microsecond timestamps ``load_table`` yields
    either way), so correctness is layout-independent.

    Every table is stored once, in one layout. File count per table
    k = max(bytes / target_file_bytes, row-spread for per-row-CPU-heavy
    tables), capped at ``max_files``; bytes are the table's on-disk
    total, a file or a directory of part files. ``events`` takes the
    first way below, every other table the first of the rest that
    applies:

    - Bucketed by user_id, written by rename: ``events``, from any
      source, as ``EVENTS_BUCKETS`` per-bucket-sorted files (see
      ``_load_events_bucketed``): a shuffle-map and a write job.
    - Copied: k == 1 and the source is one regular file. It already is
      the one file a rewrite would write. At the fixture scale
      factors: region, nation, customer, supplier and part (sf0.001:
      also orders and lineitem).
    - Cut by Arrow, no Spark job: the source is one file holding one
      row group (``_arrow_split``). That source is one Spark task's
      worth of data either way, so the driver cuts it into its k files
      in source order with Arrow's parquet codec instead of a single
      task re-encoding it through the JVM row writer. At sf0.1: orders,
      lineitem, documents and embeddings.
    - Repartitioned: every other source, a file of several row groups
      or a directory (an ingested dir fed back in, or any production
      input): a round-robin ``repartition(k)`` shuffle, then the write.

    The ``documents__shingles3`` sidecar needs its shuffle too (a
    shuffle-map and a write job). Sources are read with their declared
    schemas, and copied and Arrow-cut sources have their footers
    checked, so no job infers a schema: a fixture ingest is 4 jobs (the
    two shuffled layouts).

    Tables rewrite CONCURRENTLY (one driver thread each — Spark's
    scheduler interleaves the jobs, and Arrow's codec releases the
    GIL), so the Arrow cuts overlap the Spark jobs. Output is
    per-table-deterministic either way.
    """
    from concurrent.futures import ThreadPoolExecutor

    def rewrite(t: str) -> None:
        src, out = table_path(sf_dir, t), table_path(dest, t)
        k = max(1, min(max_files, dir_bytes(src) // target_file_bytes))
        k = max(k, _ROW_SPREAD_TABLES.get(t, 1))
        rows = _one_row_group_rows(src)
        if k == 1 and os.path.isfile(src):
            check_declared_schema(t, src, SCHEMAS[t])
            if os.path.isdir(out):
                shutil.rmtree(out)
            shutil.copyfile(src, out)
        elif rows is not None:
            _arrow_split(t, src, out, rows, k)
        else:
            load_table(spark, sf_dir, t).repartition(int(k)).write.mode(
                "overwrite"
            ).parquet(out)

    def rewrite_shingles() -> None:
        # Derived projection, not a table copy: see _shingles3.
        _shingles3(spark, sf_dir).write.mode("overwrite").parquet(
            os.path.join(dest, f"{SHINGLES3}.parquet")
        )

    def rewrite_events() -> None:
        # Bucketed on the natural cluster key (see _load_events_bucketed).
        # Writing through a throwaway EXTERNAL table name (write_bucketed)
        # leaves the bucket-named files in the temporary dir; the catalog
        # entry is dropped before the rename, and readers re-register
        # over the files in place. repartition(n, key) uses the same
        # pmod(murmur3) as the bucket hash, so each task holds exactly
        # one bucket and writes exactly one file per bucket.
        out = table_path(dest, "events")
        tbl = _loc_table_name("dvi_ingest_events_bkt_", out)
        with _renamed_into_place(out) as tmp:
            try:
                write_bucketed(
                    spark,
                    load_table(spark, sf_dir, "events").repartition(
                        EVENTS_BUCKETS, "user_id"
                    ),
                    tbl,
                    "user_id",
                    n_buckets=EVENTS_BUCKETS,
                    location=tmp,
                    sort_cols=("user_id", "ts"),
                )
            finally:
                spark.sql(f"DROP TABLE IF EXISTS `{tbl}`")

    os.makedirs(dest, exist_ok=True)
    with ThreadPoolExecutor(max_workers=len(TABLES) + 1) as pool:
        futs = [pool.submit(rewrite, t) for t in TABLES if t != "events"]
        futs.append(pool.submit(rewrite_shingles))
        futs.append(pool.submit(rewrite_events))
        for fut in futs:
            fut.result()  # propagate the first failure
    # Auto-size the session's shuffle partitions to the bytes just
    # ingested (r11; raise-only — see session.recommended_shuffle_
    # partitions for the measured conf-knee this removes). Uses the
    # DEST layout's compressed bytes: that is what every later scan of
    # this corpus actually reads.
    autosize_shuffle_partitions(spark, dir_bytes(dest))
    return dest


# The one derived projection the ingest writes (see _shingles3).
SHINGLES3 = "documents__shingles3"


def _shingles3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each doc's distinct word-3-gram set, the per-row-CPU half of
    every near-dup query (tokenize + gram assembly), materialized once
    at ingest like any index. Queries probe it via ``load_derived``; on
    raw fixture dirs (no ingest ran) they fall back to computing it
    inline — same expression, factored into
    ``operators.dedup.shingle_projection`` so the stored and inline
    forms can't drift."""
    from document_vector_indexer_spark.operators.dedup import (
        shingle_projection,
    )

    return shingle_projection(
        load_table(spark, sf_dir, "documents"),
        num_partitions=_ROW_SPREAD_TABLES["documents"],
    )


def load_derived(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame | None:
    """A derived projection written by ``ingest_engine_layout``, or
    ``None`` when ``sf_dir`` is a raw fixture directory that never had
    an ingest (the driver's correctness runs) — callers fall back to
    computing the projection inline. Local-path existence probe only:
    this harness always reads local dirs; an object-store deployment
    would track projections in the catalog instead.

    The stored files are read with the schema of the plan that defines
    them, which analysis yields without a job."""
    if name != SHINGLES3:
        raise KeyError(f"unknown derived projection {name!r}")
    p = os.path.join(sf_dir, f"{name}.parquet")
    if not os.path.exists(p):
        return None
    per_session = _session_cache(spark)
    got = per_session.get((sf_dir, name))
    if got is None:
        got = _read_declared(spark, name, p, _shingles3(spark, sf_dir).schema)
        per_session[(sf_dir, name)] = got
    return got


def write_bucketed(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    location: str | None = None,
    sort_cols: "tuple[str, ...] | None" = None,
) -> None:
    """Persist ``df`` as a bucketed+sorted catalog table — the layout
    that makes repeated fact-fact joins and aggregations on
    ``bucket_col`` shuffle-FREE: both sides of a join bucketed on the
    same key with the same bucket count scan co-located, and Spark
    plans SortMergeJoin with no Exchange under either side.

    At 100 TB this is the single biggest repeated-query win available:
    the shuffle is paid ONCE at ingest instead of per query (the
    standard warehouse layout decision — cf. Hive/Iceberg bucketing).
    Requires saveAsTable (bucket metadata lives in the catalog; a bare
    parquet path cannot carry it).

    ``sort_cols`` defaults to the bucket column; pass a wider prefix
    (e.g. ``("user_id", "ts")``) to serve sort-dependent operators
    (window frames) straight off the per-bucket order.
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col).sortBy(
        *(sort_cols or (bucket_col,))
    )
    if location is not None:
        w = w.option("path", location)
    w.saveAsTable(table)
