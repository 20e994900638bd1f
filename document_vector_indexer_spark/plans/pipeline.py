"""The reference's whole program (/root/reference/index_documents.py:253-308
``main()``) as ONE declarative DataFrame chain, and the only module
that knows how a chunk table is built:

    documents -> clean (R3) -> drop empty -> chunk per filename
    (R4/R6/R7 via R8) -> dense id -> embed (R9) -> chunk table
    (id, chunk_text, embedding, filename, split_strategy, chunk_pos,
    created_at) -> sink (R10-R12)

Steps, in chain order: ``chunk_table`` (the id-less prefix — the
streaming ingest and the registry keys that embed without an id stop
here), ``number_chunks``, ``fit_embedder`` and ``embed_chunks``, then
``write_chunk_table``. ``index_documents`` runs the whole chain with a
freshly fitted model; the CLI runs the same steps itself because it
persists the fitted model (or reloads it for an incremental append)
between ``number_chunks`` and ``embed_chunks``.

Differences from the reference, by design:
- Parallel by partition instead of a sequential batch loop; embedding
  batches form per Arrow batch inside mapInPandas (same 32-text
  batching, reference index_documents.py:261,291-306).
- Idempotent-by-overwrite sink: the reference duplicates rows on
  re-run (no global txn, SURVEY.md §3.1); we overwrite per
  (filename, split_strategy) partition via dynamic partition
  overwrite, so a re-run converges instead of duplicating.
- `id` is a deterministic dense rank over (filename, strategy,
  chunk_pos) via ``operators.ranking.global_id`` — the two-pass
  sample-boundaries form, never a single-task empty-partitionBy
  window (the reference's SERIAL, index_documents.py:217). Assigned on
  the CHUNK frame, before embedding, so the boundary-sampling job
  never executes the mapInPandas embedder. A streaming table has no
  id: it keeps the composite natural key (filename, split_strategy,
  chunk_pos), since a dense id needs the whole table.
- `created_at` is stamped once per run (the reference stamps per
  insert-batch, index_documents.py:235) — excluded from any oracle
  output (wall clock).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from document_vector_indexer_spark.functions import text as TX
from document_vector_indexer_spark.operators.chunking import chunk_documents
from document_vector_indexer_spark.operators.embedding import (
    DEFAULT_DIM,
    embed_api_map_in_pandas,
    embed_with_model,
    fit_local_embedder,
    fit_word2vec_embedder,
)
from document_vector_indexer_spark.operators.ranking import global_id

# the `document_chunks` column order (index_documents.py:214-223)
CHUNK_TABLE_COLUMNS = (
    "id", "chunk_text", "embedding", "filename", "split_strategy",
    "chunk_pos", "created_at",
)


def doc_filename() -> Column:
    """The ``filename`` of a documents-table row: ``doc_<doc_id>``."""
    return F.concat(F.lit("doc_"), F.col("doc_id"))


def chunk_table(
    docs: DataFrame, strategy: str, chunk_size: int, overlap: int
) -> DataFrame:
    """documents (``text`` plus ``filename``, or ``doc_id`` to derive
    it from) -> id-less chunks ``(filename, chunk_pos, chunk_text,
    split_strategy)``. Documents whose cleaned text is empty are dropped
    before chunking."""
    if "filename" not in docs.columns:
        docs = docs.withColumn("filename", doc_filename())
    cleaned = docs.withColumn("text", TX.clean_text("text")).filter(
        F.length("text") > 0
    )
    return chunk_documents(
        cleaned,
        strategy=strategy,
        chunk_size=chunk_size,
        overlap=overlap,
        text_col="text",
        id_cols=("filename",),
    )


def number_chunks(chunks: DataFrame, offset: int = 0) -> DataFrame:
    """Dense 1-based ``id`` over (filename, split_strategy, chunk_pos),
    shifted by ``offset`` (the largest id already in the table, when
    appending). Number BEFORE embedding: global_id's boundary-sampling
    job executes the chunk lineage once, and must never pay for the
    embedder (mapInPandas is not column-prunable)."""
    return global_id(
        chunks, ["filename", "split_strategy", "chunk_pos"], "id"
    ).withColumn("id", (F.col("id") + F.lit(offset)).cast("long"))


def fit_embedder(chunks: DataFrame, embedder: str, dim: int):
    """The model ``embed_chunks`` applies for ``embedder``: a fitted
    TF-IDF (``local``) or Word2Vec (``word2vec``) PipelineModel, or
    None for ``api``, which embeds through the batch operator."""
    if embedder == "api":
        return None
    if embedder == "local":
        return fit_local_embedder(chunks, text_col="chunk_text", dim=dim)
    if embedder == "word2vec":
        return fit_word2vec_embedder(chunks, text_col="chunk_text", dim=dim)
    raise ValueError(f"unknown embedder: {embedder}")


def embed_chunks(
    chunks: DataFrame, model, dim: int, batch_size: int = 32
) -> DataFrame:
    """chunks -> chunk table: embed with the fitted ``model``, or, when
    it is None, through the batch API operator at ``dim`` floats in
    batches of ``batch_size``; stamp ``created_at``; select the
    ``document_chunks`` columns (``id`` only if the chunks carry one)."""
    if model is None:
        embedded = embed_api_map_in_pandas(chunks, dim=dim, batch_size=batch_size)
    else:
        embedded = embed_with_model(model, chunks)
    out = embedded.withColumn("created_at", F.current_timestamp())
    return out.select(*[c for c in CHUNK_TABLE_COLUMNS if c in out.columns])


def index_documents(
    docs: DataFrame,
    strategy: str = "fixed",
    chunk_size: int = 1200,
    overlap: int = 200,
    embedding_dim: int = DEFAULT_DIM,
    embedder: str = "local",
) -> DataFrame:
    """documents -> embedded chunk table (the `document_chunks` schema,
    index_documents.py:214-223), with a model fitted on these chunks."""
    chunks = number_chunks(chunk_table(docs, strategy, chunk_size, overlap))
    model = fit_embedder(chunks, embedder, embedding_dim)
    return embed_chunks(chunks, model, embedding_dim)


def write_chunk_table(chunks: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Idempotent parquet sink: dynamic overwrite of only the
    (split_strategy) partitions present in this run — re-running a
    strategy replaces its rows instead of appending duplicates.
    Use mode="append" for an incremental run's new documents (the
    caller's anti join already guarantees no duplicates)."""
    spark = chunks.sparkSession
    # scope the dynamic-overwrite conf to this write: permanently
    # flipping a session-wide mode would silently change the semantics
    # of every later overwrite in the same session (round-2 ADVICE)
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    try:
        prev = spark.conf.get(conf_key)
    except Exception:  # unset in fresh sessions
        prev = None
    spark.conf.set(conf_key, "dynamic")
    try:
        (
            chunks.write.mode(mode)
            .partitionBy("split_strategy")
            .parquet(path)
        )
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)
