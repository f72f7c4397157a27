"""Text embedding (SURVEY §2.9 M1).

The reference embeds with SentenceTransformers all-mpnet-base-v2, 768-d,
loaded once per process and batch-encoded
(/root/reference/backend/embedding_service.py:16-87). In Spark the same
shape is an Arrow-batched pandas UDF with a per-executor model cache:
the model loads once per Python worker, every batch is encoded in one
call, and embeddings are unit-normalized at write time so cosine ≡ dot.

Because the real model is an external dependency (absent here and
nondeterministic across hardware), the default embedder is a
deterministic hashed bag-of-words: token → md5 bucket, counts
accumulated, ℓ2-normalized. It preserves the properties the engine
relies on (fixed dim, unit norm, token-overlap ⇒ cosine similarity) and
makes every downstream test reproducible. ``model_name="mpnet"``
switches to the real model when sentence_transformers is installed.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache
from typing import Iterator

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vector_knowledge_base_spark.pipeline.chunker import _spread

DEFAULT_DIM = 64  # matches the synthetic embeddings fixture; 768 for mpnet

_MODEL_CACHE: dict = {}


# md5 is the per-token cost; real corpora repeat tokens constantly
# (Zipf), so bucket per DISTINCT token and memoize per worker process —
# measured ~3x on the sf0.1 embed stage. BOUNDED: long-lived workers on
# an open vocabulary (the 100 TB regime) would otherwise grow the dict
# without limit; Zipf means a 1M-entry LRU keeps nearly all the hit rate
# while capping worst-case memory at ~100 MB/worker.
@lru_cache(maxsize=1_000_000)
def _token_bucket(token: str, dim: int) -> int:
    return int(hashlib.md5(token.encode("utf-8")).hexdigest()[:8], 16) % dim


def embed_texts(texts: list[str], dim: int = DEFAULT_DIM) -> np.ndarray:
    """Deterministic hashed-BoW embedding, unit-normalized. Vectorized
    enough for test corpora; the Spark path batches via Arrow anyway."""
    out = np.zeros((len(texts), dim), dtype=np.float64)
    bucket = _token_bucket
    for i, text in enumerate(texts):
        for tok in (text or "").split():
            out[i, bucket(tok, dim)] += 1.0
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return out / norms


def _load_real_model(model_name: str):
    """Per-executor singleton (reference embedding_service.py:17-27)."""
    if model_name not in _MODEL_CACHE:
        try:
            from sentence_transformers import SentenceTransformer  # type: ignore
        except ImportError as e:  # pragma: no cover - model not in container
            raise NotImplementedError(
                "sentence_transformers not installed; use the deterministic "
                "hashed embedder (model_name='hashed')"
            ) from e
        _MODEL_CACHE[model_name] = SentenceTransformer(model_name)
    return _MODEL_CACHE[model_name]


def embed_df(
    df: DataFrame,
    text_col: str = "text",
    output_col: str = "embedding",
    dim: int = DEFAULT_DIM,
    model_name: str = "hashed",
    precision: str = "float32",
) -> DataFrame:
    """Append an ``array<float>`` embedding column via pandas UDF.

    Arrow moves each batch to Python once; the hashed embedder (or the
    cached real model) encodes the whole batch in one call — the
    distributed equivalent of the reference's corpus-wide
    ``embed_batch_async`` (/root/reference/backend/main.py:437-440).

    A dense input is spread across the workers first. The ingest
    sources embed ``chunk_documents_df`` output, which is already
    spread, through ``_embed_column`` instead: probing the partition
    count of that frame would run the chunker's shuffle as a job of its
    own."""
    return _embed_column(
        _spread(df), text_col, output_col, dim, model_name, precision
    )


def _embed_column(
    df: DataFrame,
    text_col: str = "text",
    output_col: str = "embedding",
    dim: int = DEFAULT_DIM,
    model_name: str = "hashed",
    precision: str = "float32",
) -> DataFrame:
    """``embed_df`` without the spread: the UDF column alone."""
    import pandas as pd

    np_type = np.float32 if precision == "float32" else np.float64
    spark_type = T.FloatType() if precision == "float32" else T.DoubleType()

    # no type hints: `from __future__ import annotations` stringifies them,
    # which pandas_udf cannot resolve; hint-less defaults to SCALAR.
    @F.pandas_udf(T.ArrayType(spark_type))
    def _embed(batch):
        texts = batch.fillna("").tolist()
        if model_name == "hashed":
            mat = embed_texts(texts, dim)
        else:  # pragma: no cover - real model path
            model = _load_real_model(model_name)
            mat = model.encode(texts, normalize_embeddings=True)
        return pd.Series([row.astype(np_type) for row in mat])

    return df.withColumn(output_col, _embed(F.col(text_col)))
