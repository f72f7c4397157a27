"""Token-aware document chunking (SURVEY §2.9 M2-M4).

Behavioral parity with the reference chunker
(/root/reference/backend/chunker.py:83-154 prose packing + overlap,
:33-61 oversize split, :156-211 Python-AST code chunking, :22-31 token
counting) re-implemented from its observed semantics:

- sentences split on ``(?<=[.!?])\\s+(?=[A-Z])`` (or terminal punctuation
  at end-of-string), stripped, empties dropped;
- sentences longer than MAX_MODEL_TOKENS are word-packed into pieces;
- greedy packing: add sentences while total ≤ chunk_size (always ≥1);
- overlap: walk back from the chunk tail until ≥ chunk_overlap tokens,
  but never rewind the whole chunk (guaranteed forward progress);
- Python code: pack top-level AST nodes (line spans) into ≤ chunk_size
  chunks, one flush when the budget would overflow; SyntaxError falls
  back to prose chunking;
- token counter: whitespace split (the reference's no-tokenizer fallback;
  a real BPE tokenizer plugs in via ``token_counter``).

Spark integration is ``mapInPandas`` (one document row → N chunk rows):
the chunker is pure Python per document, embarrassingly parallel across
partitions, and never holds more than one Arrow batch in memory — the
100 TB shape, since documents are independent.
"""

from __future__ import annotations

import ast
import re
from typing import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAX_MODEL_TOKENS = 500
CHUNK_SIZE = 500
CHUNK_OVERLAP = 50

_SENTENCE_RE = re.compile(r"(?<=[.!?])\s+(?=[A-Z])|(?<=[.!?])\s*$")

CODE_LANGUAGES = {"py", "js", "java", "cpp", "python", "javascript"}
PYTHON_LANGUAGES = {"py", "python"}


def count_tokens_ws(text: str) -> int:
    """Whitespace token count (reference fallback semantics)."""
    return len(text.split())


def split_oversized(
    text: str,
    max_tokens: int = MAX_MODEL_TOKENS,
    token_counter: Callable[[str], int] = count_tokens_ws,
) -> list[str]:
    """Word-boundary split of a too-long sentence into ≤max_tokens pieces."""
    if token_counter(text) <= max_tokens:
        return [text]
    pieces: list[str] = []
    piece: list[str] = []
    piece_tokens = 0
    for word in text.split():
        wt = token_counter(word)
        if piece_tokens + wt > max_tokens and piece:
            pieces.append(" ".join(piece))
            piece, piece_tokens = [], 0
        piece.append(word)
        piece_tokens += wt
    if piece:
        pieces.append(" ".join(piece))
    return pieces


def _chunk_prose(
    text: str,
    chunk_size: int,
    chunk_overlap: int,
    token_counter: Callable[[str], int],
) -> list[dict]:
    raw = _SENTENCE_RE.split(text)
    sentences = [s.strip() for s in raw if s and s.strip()]

    expanded: list[str] = []
    for s in sentences:
        if token_counter(s) > MAX_MODEL_TOKENS:
            expanded.extend(split_oversized(s, MAX_MODEL_TOKENS, token_counter))
        else:
            expanded.append(s)
    sentences = expanded
    counts = [token_counter(s) for s in sentences]

    chunks: list[dict] = []
    i = 0
    while i < len(sentences):
        chunk_sents: list[str] = []
        chunk_counts: list[int] = []
        total = 0
        while i < len(sentences):
            if total + counts[i] > chunk_size and chunk_sents:
                break
            chunk_sents.append(sentences[i])
            chunk_counts.append(counts[i])
            total += counts[i]
            i += 1
        chunks.append(
            {
                "text": " ".join(chunk_sents),
                "chunk_index": len(chunks),
                "token_count": total,
            }
        )
        if i < len(sentences):
            # overlap backtrack: ≥ chunk_overlap tokens, but always keep
            # net forward progress of at least one sentence
            overlap_tokens = 0
            rewind = 0
            for j in range(len(chunk_sents) - 1, -1, -1):
                overlap_tokens += chunk_counts[j]
                if rewind + 1 >= len(chunk_sents):
                    break
                rewind += 1
                if overlap_tokens >= chunk_overlap:
                    break
            i -= rewind
    return chunks


def _chunk_python_code(
    text: str,
    chunk_size: int,
    chunk_overlap: int,
    token_counter: Callable[[str], int],
) -> list[dict]:
    try:
        tree = ast.parse(text)
    except SyntaxError:
        return _chunk_prose(text, chunk_size, chunk_overlap, token_counter)
    lines = text.splitlines()
    chunks: list[dict] = []
    cur_lines: list[str] = []
    cur_tokens = 0
    for node in tree.body:
        if not (hasattr(node, "lineno") and hasattr(node, "end_lineno")):
            continue
        node_lines = lines[node.lineno - 1 : node.end_lineno]
        node_tokens = token_counter("\n".join(node_lines))
        if cur_tokens + node_tokens > chunk_size and cur_lines:
            chunks.append(
                {
                    "text": "\n".join(cur_lines),
                    "chunk_index": len(chunks),
                    "token_count": cur_tokens,
                }
            )
            cur_lines, cur_tokens = [], 0
        cur_lines.extend(node_lines)
        cur_tokens += node_tokens
    if cur_lines:
        chunks.append(
            {
                "text": "\n".join(cur_lines),
                "chunk_index": len(chunks),
                "token_count": cur_tokens,
            }
        )
    return chunks


def chunk_document(
    text: str,
    language: str | None = None,
    chunk_size: int = CHUNK_SIZE,
    chunk_overlap: int = CHUNK_OVERLAP,
    token_counter: Callable[[str], int] = count_tokens_ws,
) -> list[dict]:
    """Chunk one document; dispatches code vs prose on ``language``."""
    if not text:
        return []
    if language in PYTHON_LANGUAGES:
        return _chunk_python_code(text, chunk_size, chunk_overlap, token_counter)
    return _chunk_prose(text, chunk_size, chunk_overlap, token_counter)


CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("chunk_index", T.IntegerType()),
        T.StructField("total_chunks", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("token_count", T.IntegerType()),
    ]
)


def _spread(df: DataFrame) -> DataFrame:
    """Spread a dense (e.g. single-file) input across the workers before
    a Python stage. Streams pass through: ``.rdd`` is illegal on them,
    and their source already partitions them. On a frame whose plan ends
    in a shuffle, the partition-count probe runs that shuffle under AQE,
    so call this only on scan-shaped inputs."""
    if df.isStreaming:
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def chunk_documents_df(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str | None = "lang",
    chunk_size: int = CHUNK_SIZE,
    chunk_overlap: int = CHUNK_OVERLAP,
) -> DataFrame:
    """Distributed chunking: one doc row in → N chunk rows out, via
    mapInPandas (UDTF shape, SURVEY §2.11 family 2).

    Every other column of ``docs`` (all but the id, text and language
    columns, and any named like a chunk field) is carried through to
    each of the document's chunk rows, after the chunk fields. Document
    metadata therefore needs no join back onto the chunks. The output
    keeps the spread input's partition count, so it can be embedded
    without another spread."""
    import pandas as pd

    consumed = {id_col, text_col, lang_col}
    extra = [
        f
        for f in docs.schema.fields
        if f.name not in consumed and f.name not in CHUNK_SCHEMA.names
    ]
    extra_names = [f.name for f in extra]
    cols = [id_col, text_col] + ([lang_col] if lang_col else [])
    docs = _spread(docs.select(*cols, *extra_names))

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = {k: [] for k in CHUNK_SCHEMA.names}
            src: list[int] = []
            langs = pdf[lang_col] if lang_col else [None] * len(pdf)
            for i, (doc_id, text, lang) in enumerate(
                zip(pdf[id_col], pdf[text_col], langs)
            ):
                chunks = chunk_document(text, lang, chunk_size, chunk_overlap)
                for c in chunks:
                    out["doc_id"].append(doc_id)
                    out["chunk_index"].append(c["chunk_index"])
                    out["total_chunks"].append(len(chunks))
                    out["text"].append(c["text"])
                    out["token_count"].append(c["token_count"])
                src.extend([i] * len(chunks))
            frame = pd.DataFrame(out)
            if extra_names:
                carried = pdf[extra_names].take(src).reset_index(drop=True)
                frame = pd.concat([frame, carried], axis=1)
            yield frame

    return docs.mapInPandas(run, schema=T.StructType(CHUNK_SCHEMA.fields + extra))
