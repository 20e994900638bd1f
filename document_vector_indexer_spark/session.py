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

Session start: most of a process's first ``get_spark`` is the driver
JVM loading Spark's classes, so the JVM starts from a dynamic
class-data-sharing (CDS) archive of the classes an earlier start loaded.
- The archive lives in ``$XDG_CACHE_HOME/document_vector_indexer_spark/cds/``
  (``~/.cache/...`` when the variable is unset). Its name is a key of the
  java binary, the pyspark version and a listing (name, size, mtime) of
  Spark's jars: stats only, because reading the jars or asking ``java
  -version`` would cost the start time this saves. Deleting the
  directory is safe; the next start rebuilds it.
- A start that finds the archive appends ``-XX:SharedArchiveFile`` to
  ``spark.driver.extraJavaOptions`` (after the caller's own options).
  The JVM's default ``-Xshare:auto`` starts without sharing from a stale
  or damaged archive, except from a truncated one with an intact header,
  on which JDK 17 crashes: the archive's name carries its size in
  bytes, and a start deletes an archive of another size.
- A start that finds none appends ``-XX:ArchiveClassesAtExit`` with a
  temporary name of its own pid: the JVM writes the archive (139 MB
  after a short session, more after a long one; some 13 s) as it exits,
  and this process waits for that at its own exit. A later start moves
  a temporary file whose writer is gone into place with ``os.replace``,
  so no JVM maps a half-written archive and concurrent first starts
  leave one, and then deletes archives of other keys.
- ``-Xlog:cds=off,cds+dynamic=off``: the JVM logs CDS warnings to the
  standard output it shares with this process (hundreds while it
  writes an archive), which would corrupt a command's output.
- Spark puts ``$SPARK_CONF_DIR`` on the classpath, and CDS refuses a
  non-empty directory there. The launch alone therefore sees a fixed
  empty directory in the cache as its conf dir; fixed, because the
  archive records the classpath and a per-process path would never
  match. That equals the real conf dir only while it holds nothing but
  ``*.template`` files, so the start skips CDS when it holds anything
  else, when ``HADOOP_CONF_DIR`` or ``YARN_CONF_DIR`` is set, when the
  caller's java options already name ``-Xshare`` or an archive, when no
  JVM is launched (one is running already), and when the cache
  directory cannot be created.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import shutil
import subprocess
import tempfile

from pyspark.sql import SparkSession

# CDS_DYNAMIC_ARCHIVE_MAGIC, little-endian: the first bytes of a dynamic
# archive. The JVM writes the header last, so a file that starts with it
# is complete.
_CDS_MAGIC = bytes.fromhex("a8ab0bf0")
_CDS_QUIET = "-Xlog:cds=off,cds+dynamic=off"


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
    A JVM this call launches starts from the class-data archive (module
    docstring).
    """
    from pyspark import SparkContext

    cpus = default_parallelism()
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "16g"),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Static: an LRU of the default 100 entries misses on every class
        # of a repeated workload that needs more, recompiling each one
        # (one bench.HEADLINE pass needs about 170 classes). One pass
        # over the whole registry at sf0.001 compiles 2018 distinct
        # classes of about 2 KB bytecode each; 4096 holds them with
        # twofold headroom.
        "spark.sql.codegen.cache.maxEntries": "4096",
    }
    if SparkContext._active_spark_context is None:
        # static, so only a new context takes it: the catalog DDL of the
        # bucketed events writes nothing into the working directory
        warehouse = tempfile.mkdtemp(prefix="dvi_spark_warehouse_")
        atexit.register(shutil.rmtree, warehouse, True)
        conf["spark.sql.warehouse.dir"] = warehouse
    conf.update(extra_conf or {})
    cds = _cds_launch(conf)
    if cds:
        key = "spark.driver.extraJavaOptions"
        conf[key] = " ".join(filter(None, (conf.get(key), cds[0], _CDS_QUIET)))
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    for k, v in conf.items():
        builder = builder.config(k, v)
    with _conf_dir(cds[1]) if cds else contextlib.nullcontext():
        spark = builder.getOrCreate()
    if cds and "ArchiveClassesAtExit" in cds[0]:
        atexit.register(_await_archive, spark.sparkContext._gateway.proc)
    # Runtime-settable confs that matter even on a pre-existing session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    ship_package(spark)
    return spark


@contextlib.contextmanager
def _conf_dir(path: str):
    """``SPARK_CONF_DIR`` set to ``path`` for the JVM launch only."""
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = path
    try:
        yield
    finally:
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR")
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def _cds_launch(conf: dict[str, str]) -> tuple[str, str] | None:
    """The CDS option for the launch and the conf dir it needs, or None
    where the start skips CDS (module docstring)."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    opts = " ".join(
        conf.get(f"spark.driver.{k}JavaOptions", "") for k in ("default", "extra")
    )
    if any(t in opts for t in ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")):
        return None
    if os.environ.get("HADOOP_CONF_DIR") or os.environ.get("YARN_CONF_DIR"):
        return None
    spark_home = _find_spark_home()
    user_conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(user_conf) and any(
        not n.endswith(".template") for n in os.listdir(user_conf)
    ):
        return None
    key = _cds_key(spark_home)
    if key is None:
        return None
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    cds = os.path.join(cache, "document_vector_indexer_spark", "cds")
    empty_conf = os.path.join(cds, "conf")
    try:
        os.makedirs(empty_conf, exist_ok=True)
    except OSError:
        return None
    archive = _settle_archives(cds, key)
    if archive:
        return f"-XX:SharedArchiveFile={archive}", empty_conf
    tmp = os.path.join(cds, f"{key}.{os.getpid()}.tmp")
    return f"-XX:ArchiveClassesAtExit={tmp}", empty_conf


def _cds_key(spark_home: str) -> str | None:
    """The archive's name for this java binary, pyspark version and set
    of Spark jars (the launcher's ``$SPARK_HOME/jars/*``); None without
    a java binary or a jars directory."""
    import hashlib

    import pyspark

    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java:
        return None
    try:
        java = os.path.realpath(java)
        st = os.stat(java)
        jars = sorted(
            (e.name, e.stat().st_size, e.stat().st_mtime_ns)
            for e in os.scandir(os.path.join(spark_home, "jars"))
        )
    except OSError:
        return None
    listing = repr((java, st.st_size, st.st_mtime_ns, pyspark.__version__, jars))
    return hashlib.sha256(listing.encode()).hexdigest()[:20]


def _settle_archives(cds: str, key: str) -> str | None:
    """This key's archive, ``<key>-<bytes>.jsa``, or None.

    An archive whose size is not the one in its name is deleted: the JVM
    crashes (SIGBUS) on a truncated archive whose header is intact,
    instead of starting without it. A temporary ``<key>.<pid>.tmp`` is
    finished when process ``pid`` is gone. A finished one that holds an
    archive this key lacks is moved into place, after which the archives
    of other keys are deleted; any other finished one is deleted. Every
    step tolerates a concurrent start doing the same.
    """
    archive = None
    names = sorted(os.listdir(cds))
    for name in names:
        stem, _, size = name.removesuffix(".jsa").rpartition("-")
        if name.endswith(".jsa") and stem == key:
            path = os.path.join(cds, name)
            with contextlib.suppress(OSError):
                if size.isdigit() and os.path.getsize(path) == int(size):
                    archive = path
                else:
                    os.remove(path)
    for name in names:
        stem, _, pid = name.removesuffix(".tmp").rpartition(".")
        if not name.endswith(".tmp") or not pid.isdigit() or _pid_alive(int(pid)):
            continue
        path = os.path.join(cds, name)
        with contextlib.suppress(OSError):
            if stem == key and archive is None and _is_archive(path):
                archive = os.path.join(cds, f"{key}-{os.path.getsize(path)}.jsa")
                os.replace(path, archive)
                for other in os.listdir(cds):
                    if other.endswith(".jsa") and other != os.path.basename(archive):
                        _remove(os.path.join(cds, other))
            else:
                os.remove(path)
    return archive


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _is_archive(path: str) -> bool:
    with open(path, "rb") as fh:
        return fh.read(len(_CDS_MAGIC)) == _CDS_MAGIC


def _remove(path: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.remove(path)


def _await_archive(proc: subprocess.Popen) -> None:
    """At exit, end the archive-writing JVM the way a closed stdin does
    and wait while it writes: the temporary archive is named after this
    process, so it must not be gone before the file is complete."""
    if proc.poll() is None:
        proc.stdin.close()
        with contextlib.suppress(subprocess.TimeoutExpired):
            proc.wait(timeout=120)


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
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    zip_path = os.path.join(
        tempfile.gettempdir(), f"dvi_spark_pkg_{os.getpid()}.zip"
    )
    # local-mode executors copy it on their first task: keep it until exit
    atexit.register(_remove, zip_path)
    with zipfile.ZipFile(zip_path, "w") as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            for fname in filenames:
                if fname.endswith(".py"):
                    full = os.path.join(dirpath, fname)
                    zf.write(full, os.path.relpath(full, root))
    spark.sparkContext.addPyFile(zip_path)
    spark._dvi_pkg_shipped = True
