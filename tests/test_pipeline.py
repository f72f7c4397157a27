"""End-to-end ingest pipeline tests: binaryFile scan → extract → chunk →
embed → registry, on generated fixture files (FIXTURES.md §4)."""

from __future__ import annotations

import numpy as np
import pytest

from vector_knowledge_base_spark.pipeline.chunker import chunk_documents_df
from vector_knowledge_base_spark.pipeline.embed import embed_df, embed_texts
from vector_knowledge_base_spark.pipeline.extract import extract_one
from vector_knowledge_base_spark.pipeline.ingest import (
    build_registry,
    delete_document,
    ingest_directory,
)


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("uploads")
    (d / "notes.txt").write_text("First sentence. Second sentence! Third one?")
    (d / "readme.md").write_text("# Title\nSome prose here. More prose there.")
    (d / "data.csv").write_text("a,b,c\n1,2,3\n4,5,6\n")
    (d / "data_semi.csv").write_text("x;y\n7;8\n9;10\n")
    (d / "latin.csv").write_bytes("nom,ville\ncafé,Zürich\n".encode("latin-1"))
    (d / "script.py").write_text("def f():\n    return 1\n\ndef g():\n    return 2\n")
    (d / "bad.py").write_text("def broken(:\n    pass. Prose fallback. Works fine.")
    (d / "prog.cs").write_text("using System;\nnamespace Acme.App;\nclass C {}\n")
    (d / "fake.pdf").write_bytes(b"%PDF-1.4 stub")
    (d / "evil<name>.txt").write_text("Sanitize me. Please do.")
    return str(d)


# ---- extract_one unit behavior -------------------------------------------

def test_extract_txt():
    text, meta, err = extract_one("/x/a.txt", b"hello world")
    assert text == "hello world" and err is None


def test_extract_csv_sniffs_semicolon():
    text, meta, err = extract_one("/x/a.csv", b"x;y\n7;8\n")
    assert err is None
    assert meta["delimiter"] == ";"
    assert text.splitlines()[0] == "x | y"


def test_extract_csv_latin1():
    text, meta, err = extract_one("/x/a.csv", "a,b\ncafé,x\n".encode("latin-1"))
    assert err is None and meta["encoding"] == "latin-1" and "café" in text


def test_extract_cs_namespace():
    text, meta, err = extract_one(
        "/x/p.cs", b"using System;\nnamespace Acme.App;\nclass C {}"
    )
    assert err is None and meta["namespace"] == "Acme.App"


def test_extract_binary_stubbed():
    text, meta, err = extract_one("/x/doc.pdf", b"%PDF-1.4")
    assert text == "" and err is not None and "not installed" in err


def test_extract_disallowed_extension():
    _, _, err = extract_one("/x/a.exe", b"MZ")
    assert err is not None and "unsupported" in err


# ---- embedder ------------------------------------------------------------

def test_embed_deterministic_unit_norm():
    m1 = embed_texts(["hello world", "hello world", "other text"], dim=32)
    assert np.allclose(m1[0], m1[1])
    assert not np.allclose(m1[0], m1[2])
    assert np.allclose(np.linalg.norm(m1, axis=1), 1.0)
    # identical across calls (determinism)
    m2 = embed_texts(["hello world"], dim=32)
    assert np.allclose(m1[0], m2[0])


def test_embed_empty_text_is_zero_safe():
    m = embed_texts([""], dim=8)
    assert np.isfinite(m).all()


# ---- distributed pipeline ------------------------------------------------

def test_ingest_end_to_end(spark, fixture_dir):
    chunks = ingest_directory(spark, fixture_dir, category="test", tags=["t1"])
    rows = chunks.collect()
    assert len(rows) > 0
    by_file = {}
    for r in rows:
        by_file.setdefault(r.filename, []).append(r)
    # stubbed pdf must not produce chunks; text files must
    assert not any(f.endswith(".pdf") for f in by_file)
    assert "notes.txt" in by_file
    # sanitization applied (illegal chars replaced)
    assert "evil_name_.txt" in by_file
    for r in rows:
        assert r.token_count <= 500
        assert len(r.embedding) == 64
        assert abs(float(np.linalg.norm(r.embedding)) - 1.0) < 1e-5
    # chunk_index dense per doc
    for f, rs in by_file.items():
        idx = sorted(r.chunk_index for r in rs)
        assert idx == list(range(len(idx)))


def test_registry_is_chunk_aggregate(spark, fixture_dir):
    chunks = ingest_directory(spark, fixture_dir).cache()
    reg = build_registry(chunks)
    r = {row.doc_id: row for row in reg.collect()}
    # invariant: registry row count == distinct doc count; n_chunks == total_chunks
    assert len(r) == chunks.select("doc_id").distinct().count()
    for row in r.values():
        assert row.n_chunks == row.total_chunks


def test_delete_document(spark, fixture_dir):
    chunks = ingest_directory(spark, fixture_dir).cache()
    remaining = delete_document(chunks, "filename", "notes.txt")
    assert remaining.where("filename = 'notes.txt'").count() == 0
    assert remaining.count() == chunks.count() - chunks.where(
        "filename = 'notes.txt'"
    ).count()


def test_chunk_documents_df_on_testdata(spark):
    from vector_knowledge_base_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    chunks = chunk_documents_df(docs)
    agg = chunks.groupBy("doc_id").count().collect()
    assert len(agg) == docs.count()  # every doc chunked
    assert chunks.where("token_count > 500").count() == 0


def test_chunker_carries_document_columns_to_every_chunk(spark):
    """Columns other than id/text/lang ride through the chunker: every
    chunk row of a multi-chunk document carries that document's values
    (a string and a map column here), after the chunk fields. Documents
    with no chunks add no rows and shift no other document's values;
    40 documents over the session's partitions put several in each
    Arrow batch."""
    sent = "Sentence number {} about tokens."
    rows = []
    for i in range(40):
        text = "" if i % 9 == 4 else " ".join(
            sent.format(j) for j in range(1 + (i * 7) % 30)
        )
        meta = None if i % 5 == 3 else {"i": str(i), "pages": str(i % 4)}
        rows.append((i, text, "txt" if i % 2 else "md", f"d{i}.txt", meta))
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, filename string, "
        "extractor_meta map<string,string>",
    )
    chunks = chunk_documents_df(docs, chunk_size=40, chunk_overlap=5)
    assert chunks.columns == [
        "doc_id", "chunk_index", "total_chunks", "text", "token_count",
        "filename", "extractor_meta",
    ]
    want = {i: (name, meta) for i, _, _, name, meta in rows}
    per_doc = {}
    for r in chunks.collect():
        assert (r.filename, r.extractor_meta) == want[r.doc_id]
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + 1
    assert set(per_doc) == {i for i, text, *_ in rows if text}
    assert max(per_doc.values()) > 1
    # the chunk fields are those of the id/text/lang-only chunker
    bare = chunk_documents_df(
        docs.select("doc_id", "text", "lang"), chunk_size=40, chunk_overlap=5
    )
    key = ["doc_id", "chunk_index", "total_chunks", "text", "token_count"]
    assert sorted(tuple(r) for r in chunks.select(*key).collect()) == sorted(
        tuple(r) for r in bare.collect()
    )


def test_ingest_sources_broadcast_no_document_frame(spark, fixture_dir, tmp_path):
    """Scale guard: document metadata reaches the chunk rows through the
    chunker, not through a broadcast join of the document frame (which
    would ship every document's filename to every executor)."""
    import json

    from vector_knowledge_base_spark.sources.inline import (
        create_document,
        ingest_jsonl,
    )

    jl = tmp_path / "docs.jsonl"
    jl.write_text(
        "\n".join(
            json.dumps({"filename": f"f{i}.txt", "text": f"Doc {i} text."})
            for i in range(3)
        )
    )
    frames = {
        "ingest_jsonl": ingest_jsonl(spark, str(jl)),
        "create_document": create_document(spark, "n.txt", "One. Two."),
        "ingest_directory": ingest_directory(spark, fixture_dir),
    }
    for name, df in frames.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan, (name, plan)
        assert df.count() > 0, name
