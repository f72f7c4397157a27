"""End-to-end ingest pipeline (SURVEY §3.2): binary files → extract →
chunk → embed → chunks table + incrementally-maintained registry.

The reference's per-upload imperative pipeline
(/root/reference/backend/ingestion.py:62-133) and its batch variant
(/root/reference/backend/main.py:350-487) are the SAME DataFrame plan
here — a single declarative chain; the "batch optimization" the
reference hand-codes (defer embedding, one model call, one upsert) is
simply how Spark executes the plan: per-stage, whole-batch, vectorized.

Registry maintenance (SURVEY §4.1 "materialized aggregate"): the
``documents`` registry is the groupBy(document_id) aggregate of chunks.
The reference keeps a JSON side-file in sync under a lock
(/root/reference/backend/document_registry.py:28-78); here the registry
is recomputed for the ingested increment and unioned/overwritten —
set-oriented, no lock, no O(n) scroll.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_knowledge_base_spark.functions.text import sanitize_filename
from vector_knowledge_base_spark.pipeline.chunker import chunk_documents_df
from vector_knowledge_base_spark.pipeline.embed import _embed_column
from vector_knowledge_base_spark.pipeline.extract import extract_files_df, read_binary_files


def ingest_directory(
    spark: SparkSession,
    input_dir: str,
    category: str | None = None,
    tags: list[str] | None = None,
    embedding_dim: int = 64,
) -> DataFrame:
    """Full ingest: scan → extract → chunk → embed. Returns the chunks
    DataFrame (FIXTURES.md §3 schema subset); write with
    ``.write.parquet(..., mode="append")`` partitioned as needed."""
    files = read_binary_files(spark, input_dir)
    extracted = extract_files_df(files)
    ok = extracted.where(F.col("error").isNull() & (F.length("text") > 0))

    # document identity: stable hash of sanitized filename + content hash
    docs = ok.select(
        F.abs(F.xxhash64("path")).alias("doc_id"),
        sanitize_filename(F.col("filename")).alias("filename"),
        F.col("text"),
        F.regexp_replace("extension", r"^\.", "").alias("lang"),
        F.col("extractor_meta"),
    )

    # filename and extractor_meta ride through the chunker to every chunk
    chunks = _embed_column(chunk_documents_df(docs), dim=embedding_dim)
    out = chunks.select(
        F.concat_ws("_", "doc_id", "chunk_index").alias("chunk_id"),
        "doc_id",
        "filename",
        "text",
        "embedding",
        "chunk_index",
        "total_chunks",
        "token_count",
        F.current_timestamp().alias("upload_date"),
        F.lit(category).alias("category"),
        F.lit(tags).cast("array<string>").alias("tags"),
        "extractor_meta",
    )
    return out


def build_registry(chunks: DataFrame) -> DataFrame:
    """documents registry = aggregate view of chunks (A1/A2;
    /root/reference/backend/document_registry.py:165-215 semantics:
    one row per document, first filename, earliest upload, chunk count)."""
    return chunks.groupBy("doc_id").agg(
        F.first("filename").alias("filename"),
        F.min("upload_date").alias("upload_date"),
        F.max("total_chunks").alias("total_chunks"),
        F.count(F.lit(1)).alias("n_chunks"),
    )


def file_statuses(extracted: DataFrame) -> DataFrame:
    """A8: per-file upload status over the extraction output — mirrors
    the reference's per-file result list
    (/root/reference/backend/main.py:400-426: {filename, status} for
    successes, {filename, reason} for rejects). A file is rejected when
    extraction errored or produced no text."""
    rejected = F.col("error").isNotNull() | (
        F.coalesce(F.length("text"), F.lit(0)) == 0
    )
    return extracted.select(
        "filename",
        F.when(rejected, F.lit("rejected")).otherwise(F.lit("success")).alias(
            "status"
        ),
        F.when(rejected, F.coalesce("error", F.lit("empty text"))).alias("reason"),
    )


def batch_upload_summary(statuses: DataFrame) -> DataFrame:
    """A8: one-row batch summary {status, uploaded, rejected} matching
    the reference's batch-upload response
    (/root/reference/backend/main.py:428-435,480-487): 'partial_success'
    when every file was rejected, else 'success'."""
    counts = statuses.agg(
        F.sum(F.when(F.col("status") == "success", 1).otherwise(0)).alias(
            "uploaded"
        ),
        F.sum(F.when(F.col("status") == "rejected", 1).otherwise(0)).alias(
            "rejected"
        ),
    )
    return counts.select(
        F.when(
            (F.col("uploaded") == 0) & (F.col("rejected") > 0),
            F.lit("partial_success"),
        )
        .otherwise(F.lit("success"))
        .alias("status"),
        "uploaded",
        "rejected",
    )


def delete_document(chunks: DataFrame, key: str, value) -> DataFrame:
    """S17: predicate delete as a relational rewrite
    (/root/reference/backend/vector_db.py:204-228) — with Delta this is
    ``DELETE WHERE``; on plain parquet, filter-and-rewrite."""
    return chunks.where(~(F.col(key) == F.lit(value)) | F.col(key).isNull())


def upsert_registry(spark, registry_path: str, batch_summary: DataFrame) -> None:
    """Merge a batch's per-document summaries into the registry table on
    disk (A2 incremental maintenance — the relational form of the
    reference's locked JSON-dict update,
    /root/reference/backend/document_registry.py:57-122).

    Merge rules are associative/commutative per column (latest filename,
    earliest upload_date, max total_chunks, summed n_chunks), so the
    result is independent of how ingestion was batched — any stream
    chopping converges to the same registry as one big batch."""
    import os

    from vector_knowledge_base_spark.sources.storage import _rewrite

    if os.path.exists(registry_path):
        old = spark.read.parquet(registry_path).alias("o")
        new = batch_summary.alias("n")
        merged = old.join(new, "doc_id", "full_outer").select(
            "doc_id",
            F.coalesce("n.filename", "o.filename").alias("filename"),
            F.least("o.upload_date", "n.upload_date").alias("upload_date"),
            F.greatest("o.total_chunks", "n.total_chunks").alias("total_chunks"),
            (
                F.coalesce("o.n_chunks", F.lit(0)) + F.coalesce("n.n_chunks", F.lit(0))
            ).alias("n_chunks"),
        )
        _rewrite(merged, registry_path)
    else:
        batch_summary.write.parquet(registry_path)


def streaming_registry_sink(
    chunks_stream: DataFrame, registry_path: str, checkpoint: str
):
    """Continuous registry maintenance: each micro-batch of chunk rows
    aggregates to per-document summaries and MERGEs into the registry
    (foreachBatch — the streaming write-path idiom for sinks that need
    upsert semantics plain appends can't express). availableNow trigger:
    drain what exists, then stop — the scheduled-ingest mode."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_registry(
            batch_df.sparkSession, registry_path, build_registry(batch_df)
        )

    return (
        chunks_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
