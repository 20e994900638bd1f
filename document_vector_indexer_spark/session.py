"""SparkSession factory.

Scale notes (100 TB design, tested on local[32]):
- AQE on: runtime coalescing, skew-join splitting, dynamic join
  strategy switches — the knobs that keep a fixed plan healthy when
  data is 1000x bigger than the planner's estimates.
- ``spark.sql.session.timeZone=UTC``: parquet timestamps in the test
  corpus are naive; pinning UTC makes Spark and DuckDB agree on the
  wall-clock value (oracle parity).
- shuffle partitions default to the local core count; on a real
  cluster this should be ~2-3x total executor cores or left to AQE's
  ``coalescePartitions`` with a high initial value.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def recommended_shuffle_partitions(
    total_input_bytes: int,
    target_partition_bytes: int = 64 << 20,
    expansion: float = 4.0,
    cap: int = 32768,
) -> int:
    """Shuffle-partition FLOOR sized to the data, not the machine.

    The r10 second decade measured the deploy-time footgun this
    removes: q_dedup_near at ~sf10 ran 110.6 s under a static
    8-partition conf and 17.8 s under 32 — 6.2x from partition count
    alone, on identical data and code (SCALE.md, "conf knee"). The
    engine knows the bytes it ingested, so the conf should follow
    them: partitions = ceil(compressed_bytes · expansion /
    target_partition_bytes) — ``expansion`` ~4x covers parquet
    decompression + row-format inflation in flight, ``target`` 64 MB
    keeps a partition's build comfortably inside executor memory.
    Capped (default 32,768) because past that AQE's
    ``coalescePartitions`` is the right owner of the upper end: the
    recommended production pattern is exactly "high initial partition
    count + AQE coalesce" (see get_spark's scale notes).

    Returns a FLOOR: callers must only ever RAISE the session conf to
    this value (``autosize_shuffle_partitions``), so a bench or test
    that pinned a low count for small fixtures keeps it, and a session
    that already runs wide is never narrowed.
    """
    import math

    if total_input_bytes <= 0:
        return 1
    return max(
        1,
        min(
            cap,
            math.ceil(total_input_bytes * expansion / target_partition_bytes),
        ),
    )


def dir_bytes(path: str) -> int:
    """Total on-disk bytes of ``path``, a file or a directory — the input to
    ``autosize_shuffle_partitions`` (one home for the walk; it was
    copy-pasted across io.py and four tools, and only one copy guarded
    against files vanishing mid-walk)."""
    import os

    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def autosize_shuffle_partitions(spark: SparkSession, total_input_bytes: int) -> int:
    """Raise (never lower) ``spark.sql.shuffle.partitions`` to the
    data-derived floor; returns the value now in effect. Called by
    ``io.ingest_engine_layout`` with the bytes it just wrote — the
    ingest is the moment the engine learns the corpus size, exactly
    like a real cluster sizing its shuffle to the tables it loaded."""
    rec = recommended_shuffle_partitions(total_input_bytes)
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if rec > cur:
        spark.conf.set("spark.sql.shuffle.partitions", str(rec))
        return rec
    return cur


def get_spark(
    app_name: str = "document-vector-indexer-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for this engine.

    If a session already exists (e.g. the driver passed one in),
    ``getOrCreate`` returns it; our session-level confs then only apply
    to fresh sessions, so anything correctness-critical (time zone,
    Arrow) is also set on the existing session's runtime conf.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Static: an LRU of the default 100 entries misses on every class
        # of a repeated workload that needs more, recompiling each one
        # (one bench.HEADLINE pass needs about 170 classes). One pass
        # over the whole registry at sf0.001 compiles 2018 distinct
        # classes of about 2 KB bytecode each; 4096 holds them with
        # twofold headroom.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Runtime-settable confs that matter even on a pre-existing session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    ship_package(spark)
    return spark


def ensure_oracle_confs(spark: SparkSession) -> SparkSession:
    """Apply the runtime confs oracle parity depends on to any session."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ship_package(spark)
    return spark


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on Spark Python workers.

    UDF closures (mapInPandas embedding, etc.) reference module-level
    functions, which cloudpickle pickles *by reference* — the worker
    must be able to ``import document_vector_indexer_spark`` even when
    the driver process runs from an arbitrary cwd. ``addPyFile`` ships
    a zip of the package to every worker (including local-mode ones)
    at runtime, no PYTHONPATH assumptions.
    """
    if getattr(spark, "_dvi_pkg_shipped", False):
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    zip_path = os.path.join(
        tempfile.gettempdir(), f"dvi_spark_pkg_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zip_path, "w") as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            for fname in filenames:
                if fname.endswith(".py"):
                    full = os.path.join(dirpath, fname)
                    zf.write(full, os.path.relpath(full, root))
    spark.sparkContext.addPyFile(zip_path)
    spark._dvi_pkg_shipped = True
