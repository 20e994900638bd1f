"""The benchmark workloads, each a closed loop with one client.

Every workload has the same shape, so every end-to-end metric means the
same thing on each: after set-up, one cold *build* (the first write a
fresh process makes, as every ``cli`` invocation is a fresh process),
then a loop of *requests* until the run's seconds are used (a minimum
count always runs).

=================  ==========================  ===============================
workload           build                       request
=================  ==========================  ===============================
headline_queries   io.ingest_engine_layout     one bench.HEADLINE key,
                   of the sf0.1 star fixture   constructed, executed and
                   and first touch of its      collected (the rows the oracle
                   tables                      check then compares)
index_search       cli index --strategy fixed  one search: PipelineModel.load,
                   over the base slice, then   transform, knn_brute, join,
                   cli curate --dedup near     collect (the calls cli query
                   over the documents table    makes)
=================  ==========================  ===============================

With a tracer, each workload also runs its calls one public function at
a time and materializes the lazy pipelines prefix by prefix to the
``noop`` sink, so every layer gets a self time. See ``DESIGN.md``.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import os
import random
import shutil
import sys
import time

import numpy as np

import gen

SF_HEADLINE = 0.1
SF_FLOOR = 0.001
FIXTURE_SEED = 42
INDEX_DIM = 768
CHUNK_SIZE, OVERLAP, TOP_K = 1200, 200, 5
MIN_SEARCHES = 2  # the first search after the build is the cold one
NEAR_THRESHOLD = 0.25  # the cli's --near-threshold default


class Sizes:
    """Input sizes; ``tiny`` is the self-test's smallest scale."""

    def __init__(self, tiny: bool):
        self.sf = SF_FLOOR if tiny else SF_HEADLINE
        self.n_base, self.n_delta = (12, 4) if tiny else (80, 8)
        self.n_queries = 4 if tiny else 12
        # unique, low-quality, exact copies, near variants
        self.cur = (60, 10, 6, 6) if tiny else (500, 50, 50, 50)


def host_loop_s() -> float:
    """Median seconds of five runs of a fixed pure-Python loop: how fast
    the host runs at the moment, independent of the engine under test."""
    samples = []
    for _ in range(5):
        t = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x += i * i
        samples.append(time.perf_counter() - t)
    return sorted(samples)[2]


class Run:
    """Samples, operation counts and failures of one benchmark run."""

    def __init__(self, spark, seed: int, seconds: float, work: str, cache: str,
                 sizes: Sizes, tracer=None):
        self.spark, self.seed, self.seconds = spark, seed, seconds
        self.work, self.cache, self.sizes, self.tracer = work, cache, sizes, tracer
        self.build_s: list[float] = []
        self.request_s: list[float] = []
        self.attempted = 0
        self.failures: list[str] = []
        self.failed = 0
        self.layers: dict[str, float] = {}
        self.info: dict = {}
        self.host_loops: list[float] = []

    def build_done(self, seconds: float) -> None:
        """Record the build's time and the host's speed right after it."""
        self.build_s.append(seconds)
        self.host_loops.append(host_loop_s())

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else contextlib.nullcontext({})

    def fail(self, errs: list[str], ops: int = 1) -> None:
        if errs:
            self.failures += errs
            self.failed += ops

    def dir(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _timed(fn, *a, **kw) -> tuple[float, object]:
    t = time.perf_counter()
    out = fn(*a, **kw)
    return time.perf_counter() - t, out


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cli(argv: list[str]) -> str:
    """Run a cli command in this session; return what it printed."""
    from document_vector_indexer_spark import cli

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cli.main(argv)
    sys.stderr.write(buf.getvalue())
    return buf.getvalue()


def _dir_bytes_files(path: str) -> tuple[int, int]:
    n = b = 0
    for d, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                n += 1
                b += os.path.getsize(os.path.join(d, f))
    return b, n


def _prefix_times(run: Run, stages: list[tuple[str, object]]) -> tuple[dict, dict]:
    """Materialize each cumulative prefix to noop; a stage's self time is
    its prefix time minus the previous prefix's, or 0 when the stage adds
    less than the timing noise. Returns the self times and each prefix's
    span. Every prefix starts with no cached data (the MinHash
    signatures persist themselves), as the one cli run does."""
    _noop(stages[-1][1])  # compile and warm the longest prefix first
    self_s, spans, prev = {}, {}, 0.0
    for name, df in stages:
        run.spark.catalog.clearCache()
        with run.span(f"prefix.{name}") as sp:
            _noop(df)
        spans[name] = sp
        self_s[name] = max(0.0, _dur(sp) - prev)
        prev = _dur(sp)
    return self_s, spans


# --- headline_queries ---------------------------------------------------


def cache_dir(base: str) -> str:
    """Where generated star fixtures and their oracle results are kept
    between runs: named after the generator's source, so a change to
    ``gen.py`` starts a fresh cache."""
    with open(gen.__file__, "rb") as fh:
        digest = hashlib.sha256(fh.read()).hexdigest()[:16]
    return os.path.join(base, f"cache-{digest}")


def star_fixture(run: Run, sf: float) -> str:
    """The seed-42 star fixture at ``sf``, generated once per cache."""
    path = os.path.join(run.cache, f"star-sf{sf}-seed{FIXTURE_SEED}")
    if not os.path.exists(os.path.join(path, "_COMPLETE")):
        for stale in (path, path + "-oracle"):
            shutil.rmtree(stale, ignore_errors=True)
        gen.write_star_fixture(path, sf, FIXTURE_SEED)
        open(os.path.join(path, "_COMPLETE"), "w").close()
    return path


class _OracleResults:
    """The DuckDB oracle over the star fixture, in the shape
    ``parity_util.compare`` reads (``execute(sql).fetchdf()``). A cached
    fixture never changes, so each result is computed once per oracle
    query and kept beside it."""

    def __init__(self, fixture: str):
        self.fixture, self.dir, self.con = fixture, fixture + "-oracle", None

    def execute(self, sql: str) -> "_OracleResults":
        import pandas as pd
        from tests import parity_util

        path = os.path.join(self.dir, hashlib.sha256(sql.encode()).hexdigest() + ".pkl")
        if not os.path.exists(path):
            if self.con is None:
                self.con = parity_util.duckdb_conn(self.fixture)
            os.makedirs(self.dir, exist_ok=True)
            self.con.execute(sql).fetchdf().to_pickle(path + ".tmp")
            os.replace(path + ".tmp", path)
        self.result = pd.read_pickle(path)
        return self

    def fetchdf(self):
        return self.result


class _Collected:
    """A collected result in the shape ``parity_util.compare`` reads."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):  # noqa: N802  (the DataFrame method it stands in for)
        return self.pdf

    def count(self) -> int:
        return len(self.pdf)


def _headline_pass(run: Run, specs, keys, sf_dir: str, traced_prefix: str | None):
    """Construct each key and collect its rows; return per-key seconds
    and the collected frames."""
    secs, frames = {}, {}
    for key in keys:
        t = time.perf_counter()
        with run.span(f"{traced_prefix}.construct") if traced_prefix else contextlib.nullcontext():
            df = specs[key].fn(run.spark, sf_dir)
        with run.span(f"{traced_prefix}.execute", key=key) if traced_prefix else contextlib.nullcontext():
            frames[key] = df.toPandas()
        secs[key] = time.perf_counter() - t
    return secs, frames


def _register_tables(run: Run, dest: str) -> None:
    """First touch of every table (catalog, footers, bucketed events)."""
    from document_vector_indexer_spark import io as dio

    for name in dio.TABLES:
        dio.load_table(run.spark, dest, name).schema  # noqa: B018


def headline_queries(run: Run) -> None:
    import bench
    import checks
    from document_vector_indexer_spark import io as dio
    from document_vector_indexer_spark.queries.registry import all_queries

    specs = all_queries()
    fixture = star_fixture(run, run.sizes.sf)
    rng = random.Random(run.seed)
    dest = run.dir("ingest")
    t = time.perf_counter()
    with run.span("io.ingest_engine_layout") as sp:
        dio.ingest_engine_layout(run.spark, fixture, dest)
    # a build ends when its tables are registered: the first touch of
    # each would otherwise land on whichever key the seeded order runs
    # first
    with run.span("io.load_table"):
        _register_tables(run, dest)
    run.build_done(time.perf_counter() - t)
    run.attempted += 1
    if run.tracer:
        # one traced pass stands for the loop
        _trace_ingest(run, sp, fixture, dest)
        frames = _trace_headline(run, specs, bench.HEADLINE, dest)
        run.attempted += len(frames)
    t_loop = time.perf_counter()
    while not run.tracer:
        keys = rng.sample(bench.HEADLINE, len(bench.HEADLINE))
        secs, frames = _headline_pass(run, specs, keys, dest, None)
        run.request_s += secs.values()
        run.attempted += len(keys)
        if time.perf_counter() - t_loop >= run.seconds:
            break
    # the last pass's rows against the oracle: every pass runs the same
    # plans over the same tables
    con = _OracleResults(fixture)
    for key, frame in frames.items():
        run.fail(checks.headline_key(_Collected(frame), con, specs[key].oracle, key))


def _trace_ingest(run: Run, sp: dict, src: str, dest: str) -> None:
    c = sp["counters"]
    nbytes, nfiles = _dir_bytes_files(dest)
    run.layers.update({
        "io.ingest_engine_layout_s": _dur(sp),
        "io.ingest.jobs": c["jobs"],
        "io.ingest.tasks": c["tasks"],
        "io.ingest.bytes_written": float(nbytes),
        "io.ingest.files_written": float(nfiles),
        "io.ingest.write_amp": nbytes / _dir_bytes_files(src)[0],
    })


def _trace_headline(run: Run, specs, keys, dest: str) -> dict:
    """A traced pass at the headline scale, then the same pass over an
    ingested sf0.001 (the scheduling floor); returns the first pass's
    rows."""
    from document_vector_indexer_spark import io as dio

    tr = run.tracer
    secs, frames = _headline_pass(run, specs, keys, dest, "queries")
    sf_pass = sum(secs.values())
    floor_dir = run.dir("floor")
    dio.ingest_engine_layout(run.spark, star_fixture(run, SF_FLOOR), floor_dir)
    _register_tables(run, floor_dir)
    floor = sum(_headline_pass(run, specs, keys, floor_dir, "floor")[0].values())
    execs = [s for s in tr.spans if s["name"] == "queries.execute"]
    run.layers.update({
        "io.load_table_s": tr.total("io.load_table"),
        "queries.construct_s": tr.total("queries.construct"),
        "queries.execute_s": tr.total("queries.execute"),
        "queries.pass_s": sf_pass,
        "queries.floor_s": floor,
        "queries.floor_ratio": sf_pass / floor,
        "queries.jobs": tr.total("queries.execute", "jobs") + tr.total("queries.construct", "jobs"),
        "queries.stages": tr.total("queries.execute", "stages"),
        "queries.tasks": tr.total("queries.execute", "tasks"),
        **{f"queries.{s['key']}.execute_s": _dur(s) for s in execs},
    })
    run.info["layers"] = {"ingest": run.layers["io.ingest_engine_layout_s"],
                          "load_table": run.layers["io.load_table_s"],
                          "construct": run.layers["queries.construct_s"],
                          "execute": run.layers["queries.execute_s"]}
    return frames


# --- index_search -------------------------------------------------------


def _doc_dirs(run: Run) -> tuple[str, str, dict[str, str], set[str]]:
    """The base slice, base + delta, the text each file holds, and the
    base file names."""
    base, delta, both = run.dir("docs", "base"), run.dir("docs", "delta"), run.dir("docs", "all")
    texts = gen.write_doc_dir(base, delta, run.sizes.n_base, run.sizes.n_delta, run.seed)
    os.makedirs(both)
    for d in (base, delta):
        for f in os.listdir(d):
            os.link(os.path.join(d, f), os.path.join(both, f))
    return base, both, texts, set(os.listdir(base))


def _index_argv(src: str, out: str, incremental: bool) -> list[str]:
    argv = ["index", src, "--strategy", "fixed", "--chunk-size", str(CHUNK_SIZE),
            "--overlap", str(OVERLAP), "--embedding-dim", str(INDEX_DIM), "--output", out]
    return argv + ["--incremental"] if incremental else argv


def search(run: Run, table: str, text: str):
    """The calls ``cli query`` makes for one query; returns the top-k rows."""
    from pyspark.ml import PipelineModel
    from pyspark.ml.functions import vector_to_array
    from pyspark.sql import functions as F

    from document_vector_indexer_spark.operators.similarity import knn_brute

    spark = run.spark
    chunks = spark.read.parquet(table)
    with run.span("operators.embedding.model_load"):
        model = PipelineModel.load(os.path.join(table, "_idf_model"))
    q = spark.createDataFrame([(text,)], "chunk_text string")
    q = (
        model.transform(q)
        .withColumn("embedding", vector_to_array(F.col("_emb")).cast("array<float>"))
        .select(F.lit(0).alias("qid"), "embedding")
    )
    with run.span("operators.similarity.knn_brute"):
        top = knn_brute(chunks, q, k=TOP_K, id_col="id").join(
            chunks.select("id", "chunk_text", "filename"), "id"
        )
        return top.orderBy("rk").collect()


def _query_vectors(spark, table: str, texts: list[str]) -> dict[str, np.ndarray]:
    from pyspark.ml import PipelineModel
    from pyspark.ml.functions import vector_to_array
    from pyspark.sql import functions as F

    model = PipelineModel.load(os.path.join(table, "_idf_model"))
    rows = model.transform(spark.createDataFrame([(t,) for t in texts], "chunk_text string")).select(
        "chunk_text", vector_to_array(F.col("_emb")).cast("array<float>").alias("e")
    ).collect()
    return {r["chunk_text"]: np.asarray(r["e"], dtype=np.float64) for r in rows}


def index_search(run: Run) -> None:
    import checks

    base, both, texts, base_files = _doc_dirs(run)
    queries = gen.query_texts(run.sizes.n_queries, run.seed)
    cur_table, cur_want, cur_groups = _curate_table(run)
    table = run.dir("index")
    run.info.update(base_docs=len(base_files), delta_docs=len(texts) - len(base_files),
                    curate_docs=cur_want["n_in"])
    if run.tracer:
        # decomposed first, so the cli runs they are compared with are warm
        _trace_index(run, base, both)
        _trace_curate(run, cur_table, cur_groups)
    # the build: index the documents, then curate the documents table
    t, _ = _timed(_cli, _index_argv(base, table, False))
    run.attempted += 1
    t_cur = _curate(run, cur_table, cur_want)
    run.build_done(t + t_cur)
    run.layers.update({"cli.index_s": t, "cli.curate_s": t_cur})
    if run.tracer:
        run.layers["cli.curate.residual_s"] = t_cur - sum(run.info["curate.layers"].values())
        # the incremental append runs in the traced run only: a second
        # index pass does not fit the untraced run's time budget
        run.layers["cli.index_incr_s"], _ = _timed(_cli, _index_argv(both, table, True))
        run.attempted += 1
    else:
        texts = {f: t for f, t in texts.items() if f in base_files}
    results = []
    t_loop = time.perf_counter()
    while True:
        text = queries[len(results) % len(queries)]
        t, rows = _timed(search, run, table, text)
        run.request_s.append(t)
        results.append((text, [r["id"] for r in rows]))
        run.attempted += 1
        if len(results) >= MIN_SEARCHES and time.perf_counter() - t_loop >= run.seconds:
            break
    pdf = _check_index(run, table, texts, base_files, delta=bool(run.tracer))
    emb = np.stack(pdf["embedding"].map(lambda e: np.asarray(e, dtype=np.float64)).to_list())
    row_ids = pdf["id"].to_numpy()
    qvecs = _query_vectors(run.spark, table, sorted({text for text, _ in results}))
    for text, ids in results:
        run.fail(checks.topk(ids, emb, row_ids, qvecs[text], TOP_K))
    if run.tracer:
        _trace_search(run, table, queries[0], len(pdf))


def _check_index(run: Run, table: str, texts: dict[str, str], base_files: set[str], delta: bool):
    """Check the index table (the chunks of ``texts``); an incremental
    table fails both of its builds. Returns the table's rows."""
    import checks

    pdf = run.spark.read.parquet(table).select("id", "chunk_text", "filename", "embedding").toPandas()
    run.fail(checks.chunk_table(pdf, checks.expected_chunks(texts, CHUNK_SIZE, OVERLAP))
             + checks.ids_and_embeddings(pdf, base_files, INDEX_DIM, delta=delta),
             2 if delta else 1)
    return pdf


def _trace_index(run: Run, base: str, both: str) -> None:
    """Decompose a full and an incremental index run layer by layer, into
    a scratch table, before the cli runs time the same work."""
    from pyspark.ml import PipelineModel
    from pyspark.sql import functions as F

    from document_vector_indexer_spark.functions import text as TX
    from document_vector_indexer_spark.operators.chunking import chunk_documents
    from document_vector_indexer_spark.operators.embedding import embed_with_model, fit_local_embedder
    from document_vector_indexer_spark.operators.ranking import global_id
    from document_vector_indexer_spark.plans.pipeline import write_chunk_table
    from document_vector_indexer_spark.sources.binary_docs import read_documents

    spark, L = run.spark, run.layers
    scratch = run.dir("decomposed")
    model_path = run.dir("decomposed_model")
    for incremental in (False, True):
        tag = "index_incr" if incremental else "index"
        raw = read_documents(spark, both if incremental else base)
        with run.span("sources.binary_docs.read_documents") as rd:
            n_files = raw.count()
        errors = raw.filter(~F.col("ok")).count()
        docs = raw.filter(F.col("ok")).select("filename", "text")
        offset = 0
        if incremental:
            existing = spark.read.parquet(scratch)
            docs = docs.join(existing.select("filename").distinct(), "filename", "left_anti")
            offset = existing.agg(F.max("id")).first()[0]
        cleaned = docs.withColumn("text", TX.clean_text("text")).filter(F.length("text") > 0)
        chunks = chunk_documents(cleaned, strategy="fixed", chunk_size=CHUNK_SIZE,
                                 overlap=OVERLAP, text_col="text", id_cols=("filename",))
        # global_id samples its boundaries eagerly, executing the chunk
        # lineage once; fitting executes it again up to the ids
        with run.span("operators.ranking.global_id") as gid:
            ided = global_id(chunks, ["filename", "split_strategy", "chunk_pos"], "id").withColumn(
                "id", (F.col("id") + F.lit(offset)).cast("long"))
        if incremental:
            with run.span("operators.embedding.model_load"):
                model = PipelineModel.load(model_path)
            fit = None
        else:
            with run.span("operators.embedding.fit") as fit:
                model = fit_local_embedder(ided, text_col="chunk_text", dim=INDEX_DIM)
            model.write().overwrite().save(model_path)
        embedded = embed_with_model(model, ided).withColumn("created_at", F.current_timestamp())
        t, pre = _prefix_times(run, [("read", docs), ("clean", cleaned), ("chunk", chunks),
                                      ("id", ided), ("embed", embedded)])
        with run.span("plans.pipeline.write_chunk_table") as w:
            write_chunk_table(embedded.select("id", "chunk_text", "embedding", "filename",
                                              "split_strategy", "chunk_pos", "created_at"),
                              scratch, mode="append" if incremental else "overwrite")
        gid_s = t["id"] + max(0.0, _dur(gid) - _dur(pre["chunk"]))
        fit_s = max(0.0, _dur(fit) - _dur(pre["id"])) if fit else 0.0
        layers = {"read": t["read"], "clean": t["clean"], "chunk": t["chunk"], "id": gid_s,
                  "fit": fit_s, "embed": t["embed"],
                  "write": max(0.0, _dur(w) - _dur(pre["embed"]))}
        run.info[f"{tag}.layers"] = layers
        if not incremental:
            nbytes, nfiles = _dir_bytes_files(scratch)
            L.update({
                "sources.binary_docs.read_documents_s": t["read"],
                "sources.binary_docs.files": float(n_files),
                "sources.binary_docs.extract_errors": float(errors),
                "sources.binary_docs.python_rows": rd["counters"]["python_rows"],
                "functions.text.clean_text_s": t["clean"],
                "operators.chunking.chunk_documents_s": t["chunk"],
                "operators.chunking.chunks": float(ided.count()),
                "operators.ranking.global_id_s": gid_s,
                "operators.ranking.global_id.jobs": gid["counters"]["jobs"],
                "operators.embedding.fit_s": fit_s,
                "operators.embedding.fit.jobs": fit["counters"]["jobs"],
                "operators.embedding.transform_s": t["embed"],
                "plans.pipeline.write_chunk_table_s": layers["write"],
                "plans.pipeline.bytes_written": float(nbytes),
                "plans.pipeline.files_written": float(nfiles),
            })


def _trace_search(run: Run, table: str, text: str, n_rows: int) -> None:
    from pyspark.sql import functions as F

    from document_vector_indexer_spark.functions import vector as V

    tr, L = run.tracer, run.layers
    n = len(run.request_s)
    chunks = run.spark.read.parquet(table)
    qvec = _query_vectors(run.spark, table, [text])[text].astype(np.float32).tolist()
    with run.span("functions.vector.dot") as sp:
        _noop(chunks.select(V.dot(F.col("embedding"), F.array(*[F.lit(x) for x in qvec])).alias("d")))
    # the decomposed incremental index loaded a model first; average the
    # searches' spans
    loads = [s for s in tr.spans if s["name"] == "operators.embedding.model_load"][-n:]
    knns = [s for s in tr.spans if s["name"] == "operators.similarity.knn_brute"][-n:]
    L.update({
        "operators.embedding.model_load_s": sum(map(_dur, loads)) / n,
        "operators.similarity.knn_brute_s": sum(map(_dur, knns)) / n,
        "operators.similarity.rows_scored": float(n_rows),
        "operators.similarity.jobs": sum(s["counters"]["jobs"] for s in knns) / n,
        "operators.similarity.stages": sum(s["counters"]["stages"] for s in knns) / n,
        "functions.vector.dot_s": _dur(sp),
    })
    for tag in ("index", "index_incr"):
        L[f"cli.{tag}.residual_s"] = L[f"cli.{tag}_s"] - sum(run.info[f"{tag}.layers"].values())


# --- curation (part of index_search) -----------------------------------


def _curate_table(run: Run) -> tuple[str, dict, dict[int, int]]:
    """The seeded curation input, the counts a curation must print and
    each doc's planted group."""
    table = run.dir("curate", "docs.parquet")
    n_unique, n_low, n_exact, n_near = run.sizes.cur
    want, groups = gen.write_curate_table(table, n_unique, n_low, n_exact, n_near, run.seed)
    # the originals hold doc_ids 0..n_unique-1 and are the survivors
    want["splits"] = gen.expected_splits(list(range(n_unique)))
    return table, want, groups


def _curate(run: Run, table: str, want: dict) -> float:
    """One ``cli curate --dedup near``, checked against the planted counts."""
    import checks

    out = run.dir("curate", "out")
    t, printed = _timed(_cli, ["curate", table, "--dedup", "near", "--output", out])
    run.attempted += 1
    run.fail(checks.curate_output(printed, want))
    shutil.rmtree(out, ignore_errors=True)
    return t


def _trace_curate(run: Run, table: str, groups: dict[int, int]) -> None:
    """The curate command's layers, in its order: the quality rules, the
    exact dedup, MinHash pairs, connected components (eager, over the
    pairs), the anti join against the component losers, the split
    write."""
    from pyspark.sql import functions as F

    from document_vector_indexer_spark.cli import _load_input
    from document_vector_indexer_spark.operators.dedup import (
        connected_components, exact_dedup_keep_first, minhash_portable_pairs)
    from document_vector_indexer_spark.operators.textanalysis import gopher_rules
    from document_vector_indexer_spark.operators.trainprep import hash_split

    docs = _load_input(run.spark, table)
    kept = docs.withColumn("_keep", gopher_rules(F.col("text"))["keep"]).filter("_keep").drop("_keep")
    deduped = exact_dedup_keep_first(kept, text_col="text", id_col="doc_id")
    pairs = minhash_portable_pairs(deduped, threshold=NEAR_THRESHOLD, text_col="text", id_col="doc_id")
    t, pre = _prefix_times(run, [("docs", docs), ("quality", kept), ("exact", deduped),
                                  ("pairs", pairs)])
    run.spark.catalog.clearCache()  # as before the pairs prefix it is compared with
    with run.span("operators.dedup.connected_components") as cc:
        comp = connected_components(pairs)
    losers = comp.filter(F.col("id") != F.col("component")).select(F.col("id").alias("doc_id"))
    near = deduped.join(losers.hint("shuffle_hash"), "doc_id", "left_anti")
    t_near, pre_near = _prefix_times(run, [("near", near)])
    with run.span("operators.trainprep.hash_split") as hs:
        hash_split(near, id_col="doc_id").write.mode("overwrite").partitionBy("split").parquet(
            run.dir("curate", "decomposed"))
    got = pairs.select("id_a", "id_b").collect()
    # a useful pair joins two docs of one planted group
    useful = sum(1 for r in got
                 if groups.get(r["id_a"], r["id_a"]) == groups.get(r["id_b"], r["id_b"]))
    near_s = _dur(pre_near["near"])
    layers = {
        "docs": t["docs"], "quality": t["quality"], "exact": t["exact"], "minhash": t["pairs"],
        "cc": max(0.0, _dur(cc) - _dur(pre["pairs"])),
        "near_join": max(0.0, near_s - _dur(pre["exact"])),
        "split": max(0.0, _dur(hs) - near_s),
    }
    run.info["curate.layers"] = layers
    run.layers.update({
        "operators.textanalysis.gopher_rules_s": t["quality"],
        "operators.dedup.exact_dedup_s": t["exact"],
        "operators.dedup.minhash_pairs_s": t["pairs"],
        "operators.dedup.pairs": float(len(got)),
        "operators.dedup.connected_components_s": layers["cc"],
        "operators.dedup.cc.jobs": cc["counters"]["jobs"],
        "operators.dedup.useful_ratio": useful / len(got) if got else 0.0,
        "operators.trainprep.hash_split_s": layers["split"],
    })


WORKLOADS = {
    "headline_queries": headline_queries,
    "index_search": index_search,
}
