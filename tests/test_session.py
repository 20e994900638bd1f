"""Session start from the class-data (CDS) archive, and what a session
leaves behind (session module docstring).

Every launch runs in a subprocess with its own ``XDG_CACHE_HOME`` and a
conf dir of templates only, so each regime is set up by the test and not
by the cache or the Spark install of the user who runs it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.find_spark_home import _find_spark_home

from document_vector_indexer_spark import session

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_SMALL = "/root/testdata/sf0.001"

# One session, one job; the only line on stdout is a JSON record.
START = """
import json, sys
from document_vector_indexer_spark.session import get_spark
spark = get_spark(app_name="test-session", extra_conf=json.loads(sys.argv[1]))
jvm = spark._jvm.java.lang.System
print(json.dumps({
    "sum": spark.range(100).selectExpr("sum(id)").first()[0],
    "opts": spark.sparkContext.getConf().get("spark.driver.extraJavaOptions", ""),
    "prop": jvm.getProperty("dvi.test.prop"),
    "marker": spark.conf.get("spark.dvi.test.marker", None),
}))
"""


def _env(tmp, cache, conf_dir=None):
    conf_dir = conf_dir or tmp / "conf"
    conf_dir.mkdir(exist_ok=True)
    (conf_dir / "spark-defaults.conf.template").write_text("")
    env = {k: v for k, v in os.environ.items()
           if k not in ("HADOOP_CONF_DIR", "YARN_CONF_DIR")}
    env.update(XDG_CACHE_HOME=str(cache), SPARK_CONF_DIR=str(conf_dir),
               PYTHONPATH=REPO_ROOT, SPARK_DRIVER_MEMORY="1g", SPARK_GRAFT_CPUS="2")
    return env


def _start(env, cwd, extra_conf=None, wait=True):
    cmd = [sys.executable, "-c", START, json.dumps(extra_conf or {})]
    p = subprocess.Popen(cmd, cwd=cwd, env=env, text=True,
                         stdout=subprocess.PIPE, stderr=subprocess.PIPE)
    return _result(p) if wait else p


def _result(p):
    out, err = p.communicate(timeout=300)
    assert p.returncode == 0, err[-3000:]
    return json.loads(out)  # fails on any line but the record


def _cds(cache):
    return cache / "document_vector_indexer_spark" / "cds"


def _entries(cache):
    return sorted(n for n in os.listdir(_cds(cache)) if n != "conf")


@pytest.fixture(scope="module")
def cli_runs(tmp_path_factory):
    """``cli index`` twice with one cache: the first start finds no
    archive and writes one as it exits, the second moves it into place
    and starts from it."""
    tmp = tmp_path_factory.mktemp("cli_cds")
    docs = tmp / "docs"
    docs.mkdir()
    for i, topic in enumerate(["sort merge joins shuffle", "onions caramelize"]):
        (docs / f"d{i}.txt").write_text(f"Document {i} is about {topic}. " * 20)
    cache = tmp / "cache"
    env = _env(tmp, cache)
    runs = []
    for name in ("cold", "warm"):
        cmd = [sys.executable, "-m", "document_vector_indexer_spark.cli", "index",
               str(docs), "--embedding-dim", "16", "--output", str(tmp / name)]
        runs.append(subprocess.run(cmd, cwd=tmp, env=env, capture_output=True,
                                   text=True, timeout=300))
        runs[-1].entries = _entries(cache)
    return tmp, cache, runs


def test_cli_stdout_holds_only_its_own_lines(cli_runs):
    """The JVM shares the process's stdout: its CDS log lines (hundreds
    while it writes an archive) must not reach a command's output."""
    tmp, _cache, (cold, warm) = cli_runs
    key = session._cds_key(_find_spark_home())
    for run, name in ((cold, "cold"), (warm, "warm")):
        assert run.returncode == 0, run.stderr[-3000:]
        assert run.stdout.splitlines() == [
            f"Done. Indexed 2 chunks to {tmp / name} (strategy=fixed, embedder=local)"
        ], run.stdout[:3000]
    # the archive-writing start waited for the file before its exit
    [tmp_file] = cold.entries
    assert tmp_file.startswith(key + ".") and tmp_file.endswith(".tmp")
    [archive] = warm.entries
    assert archive.startswith(key + "-") and archive.endswith(".jsa")


def test_warm_start_maps_archive_and_keeps_caller_options(cli_runs, tmp_path):
    """The archive is really mapped (the class-load log names the
    dynamic archive as the source), and the caller's own java options
    reach the JVM next to the CDS flags."""
    _tmp, cache, _runs = cli_runs
    log = tmp_path / "class_load.log"
    own = f"-Ddvi.test.prop=kept -Xlog:class+load=info:file={log}"
    rec = _start(_env(tmp_path, cache), tmp_path,
                 {"spark.driver.extraJavaOptions": own})
    assert rec["sum"] == 4950
    assert rec["prop"] == "kept"
    assert own in rec["opts"] and "-XX:SharedArchiveFile=" in rec["opts"]
    assert "source: shared objects file (top)" in log.read_text()


@pytest.mark.parametrize("damage", ["garbage", "truncated"])
def test_damaged_archive_still_starts(cli_runs, tmp_path, damage):
    """Random bytes fail the JVM's own header check (``-Xshare:auto``
    starts without them); a truncated archive keeps a valid header, on
    which the JVM crashes, so the start deletes it by its size."""
    _tmp, built, _runs = cli_runs
    [name] = _entries(built)
    cache = tmp_path / "cache"
    _cds(cache).mkdir(parents=True)
    if damage == "garbage":
        name = f"{name.split('-')[0]}-{1 << 20}.jsa"
        data = os.urandom(1 << 20)
    else:
        data = (_cds(built) / name).read_bytes()[: 1 << 20]
    (_cds(cache) / name).write_bytes(data)
    rec = _start(_env(tmp_path, cache), tmp_path)
    assert rec["sum"] == 4950
    if damage == "garbage":
        assert "-XX:SharedArchiveFile=" in rec["opts"]
    else:
        assert "-XX:ArchiveClassesAtExit=" in rec["opts"]
        assert name not in _entries(cache)


def test_user_conf_dir_disables_cds(tmp_path):
    """A conf dir with a real file must stay on the classpath: the start
    skips CDS, and the file's conf takes effect."""
    conf_dir = tmp_path / "user_conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text("spark.dvi.test.marker  from-conf-dir\n")
    cache = tmp_path / "cache"
    rec = _start(_env(tmp_path, cache, conf_dir), tmp_path)
    assert rec["sum"] == 4950
    assert rec["marker"] == "from-conf-dir"
    assert "Archive" not in rec["opts"] and "Xlog:cds" not in rec["opts"]
    assert not _cds(cache).exists()


def test_concurrent_first_starts_leave_one_archive(tmp_path):
    """Two first starts each write a temporary archive under their own
    pid; the next start moves one into place and deletes the other."""
    cache = tmp_path / "cache"
    env = _env(tmp_path, cache)
    procs = [_start(env, tmp_path, wait=False) for _ in range(2)]
    for p in procs:
        assert _result(p)["sum"] == 4950
    temps = _entries(cache)
    assert len(temps) == 2 and all(n.endswith(".tmp") for n in temps)
    rec = _start(env, tmp_path)
    assert rec["sum"] == 4950 and "-XX:SharedArchiveFile=" in rec["opts"]
    [archive] = _entries(cache)
    assert archive.endswith(".jsa")
    assert session._is_archive(str(_cds(cache) / archive))


def test_ingest_leaves_nothing_in_cwd_or_temp_dir(cli_runs, tmp_path):
    """An ingest's catalog DDL writes no ``spark-warehouse/`` into the
    working directory, and the shipped package zip and the warehouse are
    gone from the temp dir once the process exits."""
    _tmp, cache, _runs = cli_runs
    cwd, tmpdir = tmp_path / "cwd", tmp_path / "tmp"
    cwd.mkdir()
    tmpdir.mkdir()
    env = dict(_env(tmp_path, cache), TMPDIR=str(tmpdir))
    script = (
        "import sys\n"
        "from document_vector_indexer_spark.session import get_spark\n"
        "from document_vector_indexer_spark.io import ingest_engine_layout\n"
        "spark = get_spark(app_name='test-ingest')\n"
        "ingest_engine_layout(spark, sys.argv[1], sys.argv[2])\n"
    )
    subprocess.run([sys.executable, "-c", script, SF_SMALL, str(tmp_path / "ingested")],
                   cwd=cwd, env=env, check=True, capture_output=True, timeout=300)
    assert (tmp_path / "ingested" / "events.parquet" / "_SUCCESS").exists()
    assert os.listdir(cwd) == []
    assert [n for n in os.listdir(tmpdir) if n.startswith("dvi_spark_")] == []
