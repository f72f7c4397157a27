"""Inline (in-memory) document sources and export sinks.

- ``create_document``: S21 — the reference's MCP create-document endpoint
  (/root/reference/backend/main.py:1026-1154): a document arrives as a
  string (.txt/.md/.json, ≤100 KB) and flows through the SAME ingest
  pipeline. Here it is a 1-row DataFrame through the same chunk→embed
  plan — the single-file path IS the batch path on one row (SURVEY §3.2).
- ``export_zip``: S19 — the ZIP export sink
  (/root/reference/backend/main.py:917-1000): reconstruct folder paths,
  stream files into a ZIP. Driver-side by design (a ZIP is a single
  sequential artifact); the path reconstruction is the distributed part
  (operators/folders.file_paths) and the blobs stream through
  ``toLocalIterator`` so the full corpus never materializes in driver
  memory at once.
"""

from __future__ import annotations

from vector_knowledge_base_spark.sources.localframe import local_df as _local_df

import os
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ALLOWED_INLINE_EXTENSIONS = {".txt", ".md", ".json"}  # main.py:1022
MAX_INLINE_BYTES = 100 * 1024  # 100 KB limit, main.py:1023-1024


def create_document(
    spark: SparkSession,
    filename: str,
    content: str,
    category: str | None = None,
    tags: list[str] | None = None,
    embedding_dim: int = 64,
) -> DataFrame:
    """String → chunks rows, via the standard pipeline stages."""
    ext = os.path.splitext(filename)[1].lower()
    if ext not in ALLOWED_INLINE_EXTENSIONS:
        raise ValueError(f"inline documents must be one of {sorted(ALLOWED_INLINE_EXTENSIONS)}")
    if len(content.encode("utf-8")) > MAX_INLINE_BYTES:
        raise ValueError(f"inline document exceeds {MAX_INLINE_BYTES} bytes")

    from vector_knowledge_base_spark.functions.text import sanitize_filename
    from vector_knowledge_base_spark.pipeline.chunker import chunk_documents_df
    from vector_knowledge_base_spark.pipeline.embed import _embed_column

    doc = _local_df(spark, 
        [(filename, content)], "filename string, text string"
    ).select(
        F.abs(F.xxhash64("filename", "text")).alias("doc_id"),
        sanitize_filename(F.col("filename")).alias("filename"),
        "text",
        F.regexp_replace(F.lit(ext), r"^\.", "").alias("lang"),
    )
    chunks = _embed_column(chunk_documents_df(doc), dim=embedding_dim)
    return chunks.select(
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
    )


def export_zip(
    files: DataFrame,
    zip_path: str,
    path_col: str = "folder_path",
    name_col: str = "filename",
    content_col: str = "content",
) -> int:
    """Stream (folder_path, filename, content) rows into a ZIP.

    ``toLocalIterator`` pulls one partition at a time — bounded driver
    memory regardless of corpus size. Returns the number of entries."""
    n = 0
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for row in files.select(path_col, name_col, content_col).toLocalIterator():
            arc = f"{row[0]}/{row[1]}" if row[0] else row[1]
            zf.writestr(arc, bytes(row[2]))
            n += 1
    return n


def ingest_jsonl(
    spark: SparkSession,
    path: str,
    category: str | None = None,
    tags: list[str] | None = None,
    embedding_dim: int = 64,
    filename_col: str = "filename",
    text_col: str = "text",
) -> DataFrame:
    """JSONL corpus source (r11 — S-family addition beyond the
    reference's upload endpoints): one JSON object per line with at
    least (filename, text) — the standard LLM training-data
    interchange shape — flowing through the SAME chunk→embed plan as
    a directory upload. Fully distributed end to end: the JSON scan
    parallelizes per line-split, and there is no driver-side per-row
    loop at any corpus size (contrast the reference's one-file-at-a-
    time upload loop). Rows with null/empty text are dropped (a JSONL
    export of a filtered corpus legitimately contains tombstones);
    unknown extra fields are ignored — interchange files carry
    whatever metadata their producer liked."""
    from vector_knowledge_base_spark.functions.text import sanitize_filename
    from vector_knowledge_base_spark.pipeline.chunker import chunk_documents_df
    from vector_knowledge_base_spark.pipeline.embed import _embed_column

    raw = spark.read.json(path)
    missing = [c for c in (filename_col, text_col) if c not in raw.columns]
    if missing:
        raise ValueError(
            f"ingest_jsonl: required fields {missing} absent from "
            f"{path} (found {sorted(raw.columns)})"
        )
    doc = (
        raw.where(
            F.col(text_col).isNotNull() & (F.length(text_col) > 0)
        )
        .select(
            F.abs(F.xxhash64(filename_col, text_col)).alias("doc_id"),
            sanitize_filename(F.col(filename_col)).alias("filename"),
            F.col(text_col).alias("text"),
            F.lower(
                F.regexp_extract(filename_col, r"\.([A-Za-z0-9]+)$", 1)
            ).alias("lang"),
        )
    )
    chunks = _embed_column(chunk_documents_df(doc), dim=embedding_dim)
    return chunks.select(
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
    )
