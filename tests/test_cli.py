"""CLI end-to-end: index a directory of text documents, then query —
the reference's whole user journey (index_documents.py CLI + the
pgvector top-k query it delegates) in two commands."""

from __future__ import annotations

import ast

import pytest

from document_vector_indexer_spark.cli import main


@pytest.fixture(scope="module")
def doc_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("raw_docs")
    (d / "spark.txt").write_text(
        "Apache Spark executes declarative dataframe plans with catalyst. "
        "A sort merge join shuffles both sides by the join key. "
        "Broadcast joins ship the small side to every executor." * 3
    )
    (d / "duck.txt").write_text(
        "DuckDB is an in-process analytical database. "
        "Vectorized execution processes column batches. " * 3
    )
    (d / "cooking.txt").write_text(
        "Slice the onions finely and caramelize them slowly in butter. " * 4
    )
    return d


def _printed_count(msg: str, pattern: str):
    import re

    m = re.search(pattern, msg)
    assert m, msg
    return m.group(1)


def test_cli_index_then_query(spark, doc_dir, tmp_path, capsys):
    out = str(tmp_path / "chunks")
    main(
        [
            "index", str(doc_dir),
            "--strategy", "fixed", "--chunk-size", "200", "--overlap", "40",
            "--embedding-dim", "32", "--output", out,
        ]
    )
    assert "Done. Indexed" in capsys.readouterr().out

    chunk_df = spark.read.parquet(out)
    assert chunk_df.count() > 3
    assert set(chunk_df.columns) == {
        "id", "chunk_text", "embedding", "filename", "split_strategy",
        "chunk_pos", "created_at",
    }

    main(["query", "--chunks", out, "--text",
          "how does a sort merge join shuffle", "--k", "3"])
    lines = [l for l in capsys.readouterr().out.splitlines() if l.startswith("[")]
    assert len(lines) == 3
    # the spark doc must outrank cooking content for a join query
    assert "spark.txt" in lines[0]


def test_cli_self_retrieval_at_corpus_scale(spark, tmp_path, capsys):
    """Retrieval sanity over the real corpus: indexing the sf0.001
    documents and querying with one document's own text must rank a
    chunk of that document first."""
    out = str(tmp_path / "chunks_corpus")
    main(
        [
            "index", "/root/testdata/sf0.001/documents.parquet",
            "--strategy", "fixed", "--chunk-size", "300", "--overlap", "50",
            "--embedding-dim", "256", "--output", out,
        ]
    )
    capsys.readouterr()
    # the corpus is same-vocabulary word soup, so distinct documents sit
    # close in TF-IDF space — query with an exact chunk's text: its own
    # chunk has an identical token multiset and must rank first (cos=1)
    target = (
        spark.read.parquet(out).filter("filename = 'doc_123'").orderBy("chunk_pos")
        .collect()[0]
    )
    main(["query", "--chunks", out, "--text", target.chunk_text, "--k", "3"])
    lines = [l for l in capsys.readouterr().out.splitlines() if l.startswith("[")]
    assert lines and "doc_123:" in lines[0], lines
    assert "sim=1.0000" in lines[0], lines


def test_cli_word2vec_embedder(spark, doc_dir, tmp_path, capsys):
    out = str(tmp_path / "chunks_w2v")
    main(
        [
            "index", str(doc_dir), "--strategy", "fixed",
            "--chunk-size", "200", "--overlap", "40",
            "--embedding-dim", "24", "--embedder", "word2vec",
            "--output", out,
        ]
    )
    assert "Done. Indexed" in capsys.readouterr().out
    emb = spark.read.parquet(out).select("embedding").collect()
    assert all(len(r.embedding) == 24 for r in emb)
    main(["query", "--chunks", out, "--text", "sort merge join shuffle", "--k", "2"])
    lines = [l for l in capsys.readouterr().out.splitlines() if l.startswith("[")]
    assert len(lines) == 2 and "spark.txt" in lines[0]


def test_cli_reindex_idempotent(spark, doc_dir, tmp_path, capsys):
    out = str(tmp_path / "chunks_twice")
    args = ["index", str(doc_dir), "--chunk-size", "200", "--overlap", "40",
            "--embedding-dim", "16", "--output", out]
    main(args)
    n1 = spark.read.parquet(out).count()
    main(args)  # re-run must converge, not duplicate (unlike the reference)
    n2 = spark.read.parquet(out).count()
    capsys.readouterr()
    assert n1 == n2 > 0


def test_cli_friendly_errors(tmp_path, capsys):
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        main(["query", "--chunks", str(tmp_path / "nope"), "--text", "x"])
    with _pytest.raises(SystemExit):
        main(["index", str(tmp_path / "missing_input"), "--output", str(tmp_path / "o")])


def test_cli_index_parquet_input(tmp_path, capsys):
    out = str(tmp_path / "chunks_pq")
    main(
        [
            "index", "/root/testdata/sf0.001/documents.parquet",
            "--strategy", "paragraph", "--embedding-dim", "16",
            "--output", out,
        ]
    )
    assert "Done. Indexed" in capsys.readouterr().out


def test_cli_curate_end_to_end(spark, tmp_path, capsys):
    """curate: quality filter drops junk, dedup drops the copy, splits
    partition the survivors — all visible in the summary line."""
    import pyspark.sql.functions as F

    good = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "because it is chased by a hunter in the deep green forest today "
    ) * 3
    rows = [(i, f"doc_{i}", good + f"unique tail {i}") for i in range(8)]
    rows.append((100, "doc_100", rows[0][2]))  # exact duplicate of doc 0
    rows.append((101, "doc_101", "### ### ###"))  # fails gopher rules
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        rows, "doc_id long, filename string, text string"
    ).write.parquet(src)

    out = str(tmp_path / "curated")
    main(["curate", src, "--output", out])
    msg = capsys.readouterr().out
    assert "10 docs -> 9 pass quality" in msg, msg  # junk doc dropped
    assert "(1 dropped)" in msg, msg
    assert "8 after exact dedup" in msg, msg
    assert "1 duplicates" in msg, msg

    curated = spark.read.parquet(out)
    splits = _printed_count(msg, r"splits (\{.*\}) at")
    assert ast.literal_eval(splits) == {
        r["split"]: r["count"] for r in curated.groupBy("split").count().collect()
    }
    ids = {r["doc_id"] for r in curated.select("doc_id").collect()}
    assert 101 not in ids, "gopher-failing doc survived"
    assert 100 not in ids and 0 in ids, "dedup must keep the lowest id"
    assert set(curated.select("split").distinct().toPandas()["split"]) <= {
        "train", "val", "test"
    }
    # rerun is idempotent (overwrite) and split assignment is stable
    # (materialize before the overwrite deletes the files under the
    # lazy first read)
    a = {(r["doc_id"], r["split"]) for r in curated.select("doc_id", "split").collect()}
    main(["curate", src, "--output", out])
    again = spark.read.parquet(out)
    b = {(r["doc_id"], r["split"]) for r in again.select("doc_id", "split").collect()}
    assert a == b


def test_cli_incremental_index(spark, doc_dir, tmp_path, capsys):
    """--incremental must index only the new file, keep old rows
    byte-identical (same model, same ids), and continue ids densely."""
    import shutil

    d = tmp_path / "docs_inc"
    shutil.copytree(doc_dir, d)
    out = str(tmp_path / "chunks_inc")
    args = ["index", str(d), "--strategy", "fixed", "--chunk-size", "200",
            "--overlap", "40", "--embedding-dim", "32", "--output", out]
    main(args)
    # the printed count is read from the footers; it must be Spark's
    n_full = _printed_count(capsys.readouterr().out, r"Indexed (\d+) chunks")
    assert int(n_full) == spark.read.parquet(out).count()
    before = {
        (r.id, r.filename, r.chunk_pos)
        for r in spark.read.parquet(out)
        .select("id", "filename", "chunk_pos").collect()
    }
    max_id_before = max(i for i, _, _ in before)

    # nothing new -> no-op
    main([*args, "--incremental"])
    assert "up to date" in capsys.readouterr().out

    (d / "fresh.txt").write_text(
        "A freshly added document about broadcast hash joins. " * 5
    )
    main([*args, "--incremental"])
    msg = capsys.readouterr().out
    assert "incremental" in msg
    after_df = spark.read.parquet(out)
    # the incremental run prints the whole table's count
    assert int(_printed_count(msg, r"Indexed (\d+) chunks")) == after_df.count()
    after = {
        (r.id, r.filename, r.chunk_pos)
        for r in after_df.select("id", "filename", "chunk_pos").collect()
    }
    assert before < after, "old rows changed or vanished"
    new_rows = after - before
    assert new_rows and all(f.endswith("fresh.txt") for _, f, _ in new_rows)
    assert min(i for i, _, _ in new_rows) == max_id_before + 1
    ids = [r.id for r in after_df.select("id").collect()]
    assert sorted(ids) == list(range(1, len(ids) + 1)), "ids not dense"


def _near_dup_docs(spark, tmp_path) -> str:
    """Eight docs sharing a long base text with distinct tails, plus
    doc 100: doc 0's text with one word changed. Returns the parquet
    path."""
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "because it is chased by a hunter in the deep green forest today "
    ) * 3
    rows = [(i, f"doc_{i}", base + f"unique tail piece {i} " * 3)
            for i in range(8)]
    rows.append((100, "doc_100", rows[0][2].replace("hunter", "wolf")))
    src = str(tmp_path / "near_docs.parquet")
    spark.createDataFrame(
        rows, "doc_id long, filename string, text string"
    ).write.parquet(src)
    return src


def test_cli_curate_near_dedup(spark, tmp_path, capsys):
    """--dedup near must also drop NEAR duplicates (doc 100: doc 0's
    text with one word changed — exact dedup alone keeps it)."""
    src = _near_dup_docs(spark, tmp_path)

    out_exact = str(tmp_path / "cur_exact")
    main(["curate", src, "--output", out_exact])
    capsys.readouterr()
    exact_ids = {
        r.doc_id for r in spark.read.parquet(out_exact).select("doc_id").collect()
    }
    assert 100 in exact_ids, "near-dup should survive exact-only dedup"

    out_near = str(tmp_path / "cur_near")
    spark.catalog.clearCache()
    main(["curate", src, "--output", out_near, "--dedup", "near"])
    msg = capsys.readouterr().out
    # near dedup persists nothing: the session's cache stays empty
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    near = spark.read.parquet(out_near)
    near_ids = {r.doc_id for r in near.select("doc_id").collect()}
    n_dedup = _printed_count(msg, r"-> (\d+) after exact\+near dedup")
    assert int(n_dedup) == near.count(), msg
    assert 100 not in near_ids, "near-dup survived --dedup near"
    assert 0 in near_ids, "survivor must be the lowest id"


def test_cli_curate_near_dedup_job_count(spark, tmp_path, capsys, jobs_run):
    """``cli curate --dedup near`` on the planted near-dup input runs
    23 Spark jobs: the summary aggregate, the MinHash and
    connected-components passes, and the partitioned write. 23 is the
    count measured before the near-dup tuning parameters became module
    constants; a change in it means the pipeline's job structure
    changed."""
    src = _near_dup_docs(spark, tmp_path)
    out = str(tmp_path / "cur_near_jobs")
    n = jobs_run(
        lambda: main(["curate", src, "--output", out, "--dedup", "near"])
    )
    assert "after exact+near dedup" in capsys.readouterr().out
    assert n == 23


def test_cli_incremental_refuses_unstable_identity(spark, tmp_path, capsys):
    """--incremental over a parquet input WITHOUT doc_id must refuse:
    synthesized order-based filenames shift when the input grows, so
    the anti join would silently drop the new doc and re-index an old
    one under a new name (round-4 review, reproduced)."""
    src = str(tmp_path / "no_id.parquet")
    spark.createDataFrame(
        [("m " + "alpha beta gamma " * 20,), ("z " + "delta eps zeta " * 20,)],
        "text string",
    ).write.parquet(src)
    out = str(tmp_path / "chunks_noid")
    main(["index", src, "--chunk-size", "100", "--overlap", "20",
          "--embedding-dim", "8", "--output", out])
    capsys.readouterr()
    with pytest.raises(SystemExit, match="stable doc_id"):
        main(["index", src, "--incremental", "--chunk-size", "100",
              "--overlap", "20", "--embedding-dim", "8", "--output", out])


def test_cli_incremental_refuses_embedder_space_mismatch(tmp_path, doc_dir, capsys):
    """--incremental --embedder api on a local-model index must refuse
    (two vector spaces in one table)."""
    out = str(tmp_path / "chunks_space")
    main(["index", str(doc_dir), "--chunk-size", "200", "--overlap", "40",
          "--embedding-dim", "16", "--output", out])
    capsys.readouterr()
    with pytest.raises(SystemExit, match="different embedding space"):
        main(["index", str(doc_dir), "--incremental", "--embedder", "api",
              "--chunk-size", "200", "--overlap", "40",
              "--embedding-dim", "16", "--output", out])


def test_cli_hybrid_query(spark, doc_dir, tmp_path, capsys):
    """--hybrid fuses BM25 over chunk text with vector kNN: a query
    whose exact words appear in the spark doc must rank it first, and
    the output must show both per-list ranks."""
    out = str(tmp_path / "chunks_hybrid")
    main(
        [
            "index", str(doc_dir),
            "--strategy", "fixed", "--chunk-size", "200", "--overlap", "40",
            "--embedding-dim", "32", "--output", out,
        ]
    )
    capsys.readouterr()
    main(["query", "--chunks", out, "--text",
          "sort merge join shuffles", "--k", "3", "--hybrid"])
    lines = [l for l in capsys.readouterr().out.splitlines() if l.startswith("[")]
    assert len(lines) == 3
    assert "spark.txt" in lines[0]
    assert "rrf=" in lines[0] and "lex#" in lines[0] and "vec#" in lines[0]


def test_cli_hybrid_query_empty_text_exits(spark, doc_dir, tmp_path, capsys):
    out = str(tmp_path / "chunks_hybrid_e")
    main(
        [
            "index", str(doc_dir),
            "--strategy", "fixed", "--chunk-size", "200", "--overlap", "40",
            "--embedding-dim", "32", "--output", out,
        ]
    )
    capsys.readouterr()
    with pytest.raises(SystemExit):
        main(["query", "--chunks", out, "--text", "   ", "--hybrid"])


def test_cli_analyze_report(spark, capsys):
    """`analyze` prints one JSON corpus report whose headline numbers
    match independent recomputation from the same parquet."""
    import json

    from pyspark.sql import functions as F

    from document_vector_indexer_spark.cli import main
    from document_vector_indexer_spark.functions import text as TX

    src = "/root/testdata/sf0.001/documents.parquet"
    main(["analyze", src])
    out = capsys.readouterr().out.strip().splitlines()[-1]
    report = json.loads(out)
    docs = spark.read.parquet(src)
    n = docs.count()
    toks = docs.agg(
        F.sum(TX.token_count_ws(F.col("text"))).cast("long")
    ).first()[0]
    assert report["n_docs"] == n
    assert report["total_tokens"] == toks
    assert report["exact_dup_docs"] == n - docs.select("text").distinct().count()
    assert sum(report["langs"].values()) == n
    assert sum(b["n_docs"] for b in report["length_buckets"]) == n
    assert len(report["vocab_top10"]) == 10
    from document_vector_indexer_spark.operators.mining import BUCKET_EDGES

    # utilization can exceed 1.0 only in the open-ended top bucket
    # (tokens > top edge still land there by design)
    assert all(
        b["util_ppm"] <= 10**6
        for b in report["length_buckets"]
        if b["bucket_len"] < BUCKET_EDGES[-1]
    )


def test_cli_index_cdc_strategy(spark, doc_dir, tmp_path, capsys):
    """--strategy cdc indexes end-to-end and the chunk table is
    queryable; chunks are word-joined substrings of their documents."""
    out = str(tmp_path / "chunks_cdc")
    main(
        [
            "index", str(doc_dir), "--strategy", "cdc",
            "--embedding-dim", "24", "--output", out,
        ]
    )
    assert "Done. Indexed" in capsys.readouterr().out
    chunks = spark.read.parquet(out)
    rows = chunks.collect()
    assert rows and all(r.split_strategy == "cdc" for r in rows)
    assert {r.filename for r in rows} == {"spark.txt", "duck.txt", "cooking.txt"}
    main(["query", "--chunks", out, "--text", "sort merge join shuffle",
          "--k", "2"])
    lines = [l for l in capsys.readouterr().out.splitlines() if l.startswith("[")]
    assert len(lines) == 2 and "spark.txt" in lines[0]


def test_load_input_bad_diagnostics_single_pass(spark, tmp_path, capsys,
                                                monkeypatch):
    """The failed-extraction diagnostic (warning + 10-row sample) must
    execute extraction over the bad set exactly ONCE and never collect
    more than 10 rows (round-4 VERDICT item 4: the old collect()[:10]
    shipped every bad row to the driver and re-ran extraction).

    An accumulator-bumping mapInPandas layer is spliced on top of
    read_documents: every extracted file bumps it once per pipeline
    execution, so the accumulator value after _load_input == n_files
    iff the diagnostic ran one pass (count() fills the persist cache,
    limit(10) reads it)."""
    import document_vector_indexer_spark.cli as cli
    from document_vector_indexer_spark.sources import binary_docs

    d = tmp_path / "mixed"
    d.mkdir()
    n_bad = 12  # > the 10-row sample cap
    for i in range(n_bad):
        (d / f"bad_{i:02d}.pdf").write_bytes(b"%PDF-garbage")
    (d / "good.txt").write_text("hello world")

    acc = spark.sparkContext.accumulator(0)
    real = binary_docs.read_documents

    def counting(spark_, path):
        df = real(spark_, path)

        def bump(batches):
            for pdf in batches:
                acc.add(len(pdf))
                yield pdf

        return df.mapInPandas(bump, df.schema)

    monkeypatch.setattr(binary_docs, "read_documents", counting)
    good = cli._load_input(spark, str(d))

    n_files = n_bad + 1
    assert acc.value == n_files, (
        f"diagnostic ran {acc.value / n_files:.1f} extraction passes; want 1"
    )
    err = capsys.readouterr().err
    assert f"warning: {n_bad} file(s) failed extraction:" in err
    sample = [l for l in err.splitlines() if l.startswith("  bad_")]
    assert len(sample) == 10  # capped, not all 12
    assert good.count() == 1  # only good.txt survives


def test_cli_index_extracts_each_document_once(spark, tmp_path, monkeypatch):
    """``cli index`` over a document directory runs the extraction
    kernel once per file: the diagnostics, the chunk-id sample and
    counts, the embedder fit and the write all read the persisted
    extraction, which is released when the command ends. Same
    accumulator splice as the diagnostics test above."""
    import document_vector_indexer_spark.cli as cli
    from document_vector_indexer_spark.sources import binary_docs

    d = tmp_path / "docs"
    d.mkdir()
    n_files = 6
    for i in range(n_files):
        (d / f"doc_{i}.txt").write_text(
            f"Document {i} talks about shuffles. " * 20
        )
    (d / "broken.pdf").write_bytes(b"%PDF-garbage")
    n_files += 1

    acc = spark.sparkContext.accumulator(0)
    real = binary_docs.read_documents

    def counting(spark_, path):
        df = real(spark_, path)

        def bump(batches):
            for pdf in batches:
                acc.add(len(pdf))
                yield pdf

        return df.mapInPandas(bump, df.schema)

    monkeypatch.setattr(binary_docs, "read_documents", counting)
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    out = str(tmp_path / "chunks")
    cli.main(["index", str(d), "--chunk-size", "120", "--overlap", "20",
              "--embedding-dim", "16", "--output", out])

    assert acc.value == n_files, (
        f"cli index ran {acc.value / n_files:.1f} extraction passes; want 1"
    )
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
    assert spark.read.parquet(out).select("filename").distinct().count() == 6


def test_cli_index_then_query_real_pdf_docx(spark, tmp_path, capsys):
    """The reference's ACTUAL user journey — index a directory of real
    PDF/DOCX files, then query — end-to-end in this container via the
    pure-stdlib extraction kernels (reference index_documents.py whole
    pipeline: extract -> clean -> chunk -> embed -> sink -> top-k)."""
    from tests.test_real_kernels import _build_docx, _build_pdf

    d = tmp_path / "mixed_docs"
    d.mkdir()
    pdf_ops = (
        b"BT /F1 12 Tf 72 720 Td (Sort merge join shuffles both sides "
        b"by the join key before merging sorted runs.) Tj ET"
    )
    (d / "joins.pdf").write_bytes(_build_pdf(pdf_ops, compress=True))
    (d / "cooking.docx").write_bytes(
        _build_docx(
            ["Slice the onions finely and caramelize them slowly in butter.",
             "Deglaze the pan with a splash of white wine."]
        )
    )
    (d / "duck.txt").write_text(
        "DuckDB is an in-process analytical database with vectorized "
        "execution over column batches."
    )

    out = str(tmp_path / "chunks_mixed")
    main(
        [
            "index", str(d),
            "--strategy", "fixed", "--chunk-size", "200", "--overlap", "40",
            "--embedding-dim", "64", "--output", out,
        ]
    )
    assert "Done. Indexed" in capsys.readouterr().out

    chunks = spark.read.parquet(out)
    assert {r.filename for r in chunks.select("filename").distinct().collect()} == {
        "joins.pdf", "cooking.docx", "duck.txt"
    }

    main(["query", "--chunks", out, "--text",
          "how does a sort merge join shuffle", "--k", "3"])
    lines = [l for l in capsys.readouterr().out.splitlines() if l.startswith("[")]
    assert len(lines) == 3
    assert "joins.pdf" in lines[0]  # the PDF's content must rank first
