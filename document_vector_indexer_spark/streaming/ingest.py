"""Continuous document indexing — the reference's whole pipeline
(/root/reference/index_documents.py: extract -> clean -> chunk ->
embed -> store) as a Structured Streaming job over a growing document
directory. The reference re-runs its script per file; here new files
are discovered by the file source, flow through the SAME chain the
batch pipeline builds (plans.pipeline: clean -> chunk -> mapInPandas
embed), and append to the chunk table via an idempotent foreachBatch
sink.

Contract: streaming output == batch pipeline output on the same input
set (minus the global id — a streaming table keeps the composite
natural key (filename, split_strategy, chunk_pos); dense ids are a
batch-finalization concern). tests/test_streaming_ingest.py pins this
batch-equivalence oracle, including across a second availableNow pass
over newly arrived files.

Scale notes:
- The file source tracks seen files in the checkpoint — discovery is
  O(new files) per trigger with ``maxFilesPerTrigger`` bounding batch
  size; no driver-side listing of the full history.
- Every transformation is stateless (clean/chunk/embed are map-side),
  so there is no watermark and no state store — throughput scales with
  executors exactly like the batch pipeline.
- The sink writes each micro-batch once into the chunk-table layout;
  a replayed batch (restart) rewrites the same rows because the write
  is keyed by the batch's own files (idempotent-by-overwrite per
  batch directory, the streaming/stateful.py pattern adapted to the
  partitioned chunk schema).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from document_vector_indexer_spark.operators.embedding import DEFAULT_DIM
from document_vector_indexer_spark.plans.pipeline import chunk_table, embed_chunks

DOC_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("filename", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
    ]
)


def read_document_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming JSONL document source (one object per line:
    {"filename": ..., "text": ...}) — the interchange format the batch
    JSONL source uses, streamed."""
    reader = spark.readStream.schema(DOC_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(input_dir)


def stream_index_transform(
    docs: DataFrame,
    strategy: str = "fixed",
    chunk_size: int = 1200,
    overlap: int = 200,
    embedding_dim: int = DEFAULT_DIM,
) -> DataFrame:
    """clean -> chunk -> embed over a (streaming or batch) documents
    frame — plans.pipeline's id-less chain with the batch API embedder,
    so the batch-equivalence oracle is literally the batch pipeline run
    on the same rows."""
    return embed_chunks(
        chunk_table(docs, strategy, chunk_size, overlap), None, embedding_dim
    )


def start_stream_ingest(
    spark: SparkSession,
    input_dir: str,
    output_path: str,
    checkpoint_dir: str,
    strategy: str = "fixed",
    chunk_size: int = 1200,
    overlap: int = 200,
    embedding_dim: int = DEFAULT_DIM,
    query_name: str = "dvi-stream-ingest",
):
    """Start the availableNow ingest query: drains every file not yet
    in the checkpoint, appends their chunks, and stops. Run it on a
    schedule (or with a continuous trigger) for a live index.

    Idempotence: each micro-batch overwrites its own batch_id=N
    subdirectory under the chunk table, so a replayed batch after a
    crash rewrites the same files instead of duplicating — the
    exactly-once file-sink pattern (streaming/stateful.py)."""
    out = stream_index_transform(
        read_document_stream(spark, input_dir),
        strategy=strategy,
        chunk_size=chunk_size,
        overlap=overlap,
        embedding_dim=embedding_dim,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            f"{output_path}/batch_id={batch_id}"
        )

    return (
        out.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
