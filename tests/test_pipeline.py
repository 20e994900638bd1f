"""End-to-end pipeline + source/sink tests: the reference's main()
contract (clean -> chunk -> embed -> chunk table -> sink), idempotent
re-runs, and the binary-document source."""

from __future__ import annotations

import os

import pytest

from document_vector_indexer_spark.plans.pipeline import (
    index_documents,
    write_chunk_table,
)
from document_vector_indexer_spark.sources.binary_docs import read_documents
from document_vector_indexer_spark.sources.pgvector import vector_literal


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(100)


def test_index_documents_contract(spark, docs):
    out = index_documents(docs, strategy="fixed", chunk_size=180, overlap=30,
                          embedding_dim=32)
    assert out.columns == [
        "id", "chunk_text", "embedding", "filename", "split_strategy",
        "chunk_pos", "created_at",
    ]
    rows = out.collect()
    assert rows
    # reference invariants (index_documents.py:175-185,227-228):
    # one embedding per chunk, exact dim, non-empty text, dense ids
    assert all(len(r.embedding) == 32 for r in rows)
    assert all(r.chunk_text for r in rows)
    ids = sorted(r.id for r in rows)
    assert ids == list(range(1, len(rows) + 1))


@pytest.mark.parametrize("strategy", ["fixed", "sentence", "paragraph"])
def test_all_strategies_run(spark, docs, strategy):
    out = index_documents(docs.limit(20), strategy=strategy, embedding_dim=16)
    assert out.count() > 0
    assert out.select("split_strategy").distinct().collect()[0][0] == strategy


def test_api_embedder_path(spark, docs):
    out = index_documents(docs.limit(20), embedder="api", embedding_dim=16)
    assert all(len(r.embedding) == 16 for r in out.select("embedding").collect())


def test_sink_idempotent_rerun(spark, docs, tmp_path):
    """The reference duplicates rows on re-run (SURVEY.md §3.1); our
    sink must converge instead."""
    path = os.path.join(str(tmp_path), "chunks")
    out = index_documents(docs.limit(30), strategy="fixed", embedding_dim=16)
    write_chunk_table(out, path)
    n1 = spark.read.parquet(path).count()
    write_chunk_table(out, path)  # re-run, same strategy partition
    n2 = spark.read.parquet(path).count()
    assert n1 == n2 > 0


def test_binary_docs_source(spark, tmp_path):
    d = tmp_path / "raw"
    d.mkdir()
    (d / "a.txt").write_text("Hello world. This is a test document.")
    (d / "b.txt").write_text("Another file here.")
    (d / "c.pdf").write_bytes(b"%PDF-1.4 fake")
    got = read_documents(spark, str(d)).orderBy("filename").collect()
    by_name = {r.filename: r for r in got}
    assert by_name["a.txt"].ok and "Hello world" in by_name["a.txt"].text
    assert by_name["b.txt"].ok
    # unparseable PDF -> explicit error row (pymupdf absent here, so
    # the pure-Python fallback tier rejects it; with pymupdf installed
    # the message differs but ok must still be False)
    assert not by_name["c.pdf"].ok
    assert by_name["c.pdf"].extract_error


def test_pgvector_literal(spark):
    df = spark.createDataFrame([(1, [1.5, -2.0, 3.25])], "id long, embedding array<float>")
    lit = df.select(vector_literal().alias("v")).collect()[0].v
    assert lit == "[1.5,-2.0,3.25]"
