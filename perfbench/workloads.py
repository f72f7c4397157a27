"""The two workloads: closed loops with one client thread over the
``KnowledgeBase`` facade and the public dedup operators.

Each timed operation records wall time and the driver process's CPU
time; operations that dispatch Spark also record the CPU of the JVM and
its Python workers. Answer checks run outside the timed region.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import time
import traceback

import numpy as np

from perfbench import host, inputs, oracle

K = 10
BATCH = 100
SETUPS = 2
HYBRID_N = 1000  # search_hybrid's default top-n per side
SERVE_DOCS = 2500
DIM = 64

# serve_read is not a traffic mix: no source gives one, so every kind
# gets an equal share of the measured time, in interleaved slices, and
# is reported on its own
SERVE_KINDS = ("search", "filtered_search", "hybrid_search", "batch_search")
SLICE_S = 0.25
# every n-th operation of a kind has its answer checked; a stride of 3
# reaches both filter shapes
CHECK_EVERY = {"search": 15, "filtered_search": 3, "hybrid_search": 1,
               "batch_search": 4}


class Run:
    """State of one benchmark run: samples, phase windows, checks."""

    def __init__(self, spark, work, inp, seconds, trace, tracer, jvm_pid):
        self.spark, self.work, self.inp = spark, work, inp
        self.seconds, self.trace, self.tracer = seconds, trace, tracer
        self.jvm_pid = jvm_pid
        self.rng = np.random.default_rng(inp.seed + 1)
        self.samples: dict[str, list] = {}
        self.traced_samples: dict[str, list] = {}
        self.windows: dict[str, list] = {}
        self.cycles: list[float] = []
        self.setup: list[dict] = []
        self.attempted = 0
        self.failed_ops: set[int] = set()
        self.failures: list[str] = []
        self.checks: dict[str, list[int]] = {}
        # comparisons whose differences are reported, not failed
        self.observed: dict[str, list[int]] = {}
        self.differences: list[str] = []
        self.extra: dict[str, float] = {}
        self._n: dict[str, int] = {}
        self.last_wall = 0.0
        self.last_cand = None

    # -- timing -------------------------------------------------------------

    def group(self, name: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(name, name)

    def timed(self, kind: str, fn, phase: str | None = None):
        """Run one operation; returns (op id, result or None on error).
        A traced run traces every Spark phase operation and every other
        serving operation, so the untraced half measures the overhead."""
        n = self._n[kind] = self._n.get(kind, 0) + 1
        traced = self.trace and (phase is not None or n % 2 == 0)
        self.tracer.enabled = traced
        self.attempted += 1
        op = self.attempted
        if phase:
            self.group(phase)
            jvm0 = host.tree_cpu_s(self.jvm_pid)
        t0, c0, p0 = time.time(), time.process_time(), time.perf_counter()
        out = None
        try:
            with self.tracer.op(kind):
                out = fn()
        except Exception:  # a failed op is counted, reported, and skipped
            self.fail(op, f"{kind} raised:\n{traceback.format_exc()}")
        wall = time.perf_counter() - p0
        cpu = time.process_time() - c0
        jvm = None
        if phase:
            jvm = host.tree_cpu_s(self.jvm_pid) - jvm0
            self.group("other")
        self.tracer.enabled = False
        self.last_wall = wall
        dest = self.traced_samples if traced else self.samples
        dest.setdefault(kind, []).append((wall, cpu, jvm))
        if phase:
            self.windows.setdefault(phase, []).append((t0, t0 + wall))
        return op, out

    @contextlib.contextmanager
    def checking(self):
        """Untimed answer checks; their wall time is reported apart."""
        t0 = time.perf_counter()
        self.group("check")
        try:
            yield
        finally:
            self.group("other")
            self.extra["checks_s"] = (self.extra.get("checks_s", 0.0)
                                      + time.perf_counter() - t0)

    def fail(self, op: int, msg: str) -> None:
        self.failed_ops.add(op)
        if len(self.failures) < 20:
            self.failures.append(msg)
        print(f"perfbench: op {op} failed: {msg}", file=sys.stderr)

    def check(self, name: str, op: int, ok: bool, detail: str = "") -> None:
        c = self.checks.setdefault(name, [0, 0])
        c[0] += bool(ok)
        c[1] += 1
        if not ok:
            self.fail(op, f"check {name}: {detail}")

    def observe(self, name: str, same: bool, detail: str = "") -> None:
        c = self.observed.setdefault(name, [0, 0])
        c[0] += bool(same)
        c[1] += 1
        if not same and len(self.differences) < 5:
            self.differences.append(f"{name}: {detail}")

    def final_check(self, name: str, ok: bool, detail: str = "") -> None:
        """A check of end state counts as one attempted operation."""
        self.attempted += 1
        self.check(name, self.attempted, ok, detail)

    # -- shared steps -------------------------------------------------------

    def new_kb(self, tag: str):
        from vector_knowledge_base_spark.service import KnowledgeBase

        ws = os.path.join(self.work, f"kb-{tag}")
        shutil.rmtree(ws, ignore_errors=True)
        return KnowledgeBase(self.spark, ws, embedding_dim=DIM,
                             storage="txlog")

    def setup_kb(self, i: int, hybrid: bool):
        """One full set-up: write the generated inputs, load them into a
        fresh txlog table, tag categories, build the serving artifacts
        and warm them. Returns the facade."""
        t0 = time.perf_counter()
        path = os.path.join(self.work, "corpus.jsonl")
        in_bytes = inputs.write_jsonl(self.inp.corpus, path)
        kb = self.new_kb(str(i))
        _, n = self.timed("ingest", lambda: kb.import_jsonl(path), "ingest")
        ingest_s = self.last_wall
        self.timed("categorize", lambda: kb.update_chunks(
            "true", {"category": "concat('cat', regexp_extract(filename, "
                     "'^c([0-9])_', 1))"}), "categorize")
        build_hybrid = lambda: (kb.search_hits("warm", k=K),  # noqa: E731
                                hybrid and kb.search_hybrid("warm", k=K))
        self.timed("build", build_hybrid, "build")
        for q in self.inp.queries[:8]:
            kb.search_hits(q, k=K)
            kb.search_hits(q, k=K, filters={"category": "cat0"})
            if hybrid:
                kb.search_hybrid(q, k=K)
        self.setup.append({"s": time.perf_counter() - t0,
                           "ingest_s": ingest_s, "chunks": n})
        self.extra["input_bytes"] = in_bytes
        return kb

    def setups(self, hybrid: bool):
        """``SETUPS`` set-ups from nothing; the first one also pays the
        fresh JVM's code generation and Python worker start-up, as every
        process does once. Returns the last facade."""
        kb = None
        for i in range(SETUPS):
            kb = self.setup_kb(i, hybrid)
        self.final_check("committed_chunks", self.setup[-1]["chunks"] == len(
            self.inp.corpus), f"{self.setup[-1]['chunks']} chunks for "
            f"{len(self.inp.corpus)} generated single-chunk docs")
        return kb

    @staticmethod
    def snapshot(kb) -> oracle.Snapshot:
        return oracle.Snapshot(kb.chunks().select(
            "chunk_id", "doc_id", "filename", "text", "category",
            "embedding").toPandas())

    def check_hits(self, name, op, snap, query, hits, filters=None):
        want, ids, scores = snap.topk(oracle.embed([query], DIM)[0], K,
                                      filters)
        got = [(h["chunk_id"], h["score"]) for h in hits]
        self.check(name, op, oracle.same_ranking(got, want, ids, scores),
                   f"query {query[:40]!r} filters {str(filters)[:60]}: "
                   + oracle.first_difference(got, want))

    def table_facts(self, kb, in_bytes: float) -> None:
        with self.checking():
            d = kb.detail().first()
        self.extra["data_files"] = d["n_files"]
        self.extra["bytes_per_input_byte"] = d["n_bytes"] / in_bytes


# -- serve_read --------------------------------------------------------------

def serve_read(run: Run) -> None:
    inp = run.inp
    kb = run.setups(hybrid=True)
    with run.checking():
        snap = run.snapshot(kb)
    run.table_facts(kb, run.extra["input_bytes"])
    cats = [f"cat{i}" for i in range(inputs.N_CATEGORIES)]
    qi = int(run.rng.integers(len(inp.queries)))
    sampled: list[tuple] = []  # (check name, op, query, filters, hits)
    hybrid_sampled: list[tuple] = []
    n = dict.fromkeys(SERVE_KINDS, 0)

    def one(kind: str) -> None:
        nonlocal qi
        q = inp.queries[qi % len(inp.queries)]
        qi += 1
        n[kind] += 1
        keep = (n[kind] - 1) % CHECK_EVERY[kind] == 0
        if kind == "search":
            op, hits = run.timed(kind, lambda: kb.search_hits(q, k=K))
            if keep and hits is not None:
                sampled.append(("search", op, q, None, hits))
        elif kind == "filtered_search":
            # shapes go in pairs, so a traced run, which traces every
            # other operation, traces and leaves untraced both alike
            if (n[kind] - 1) // 2 % 2 == 0:
                shape, f = "filtered_cat", {
                    "category": cats[int(run.rng.integers(len(cats)))]}
            else:
                shape, f = "filtered_names", {"filename": inp.name_lists[
                    n[kind] // 4 % len(inp.name_lists)]}
            op, hits = run.timed(kind,
                                 lambda: kb.search_hits(q, k=K, filters=f))
            if keep and hits is not None:
                sampled.append((shape, op, q, f, hits))
        elif kind == "hybrid_search":
            op, hits = run.timed(kind, lambda: kb.search_hybrid(q, k=K))
            if keep and hits is not None:
                hybrid_sampled.append((op, q, hits))
        else:
            qs = [inp.queries[(qi + j) % len(inp.queries)]
                  for j in range(BATCH)]
            op, res = run.timed(kind, lambda: kb.search_batch(qs, k=K))
            if keep and res is not None:
                for j in range(0, BATCH, 25):
                    sampled.append(("batch_search", op, qs[j], None, res[j]))

    start = time.perf_counter()
    while time.perf_counter() - start < run.seconds:
        for kind in SERVE_KINDS:
            s0 = time.perf_counter()
            while time.perf_counter() - s0 < SLICE_S:
                one(kind)
    with run.checking():
        for kind, op, q, f, hits in sampled:
            run.check_hits(f"{kind}_equals_numpy_topk", op, snap, q, hits, f)
        spark_rows = kb.search_hybrid_batch(
            [q for _, q, _ in hybrid_sampled], k=K, mode="spark").toPandas()
        for i, (op, q, hits) in enumerate(hybrid_sampled):
            lo, hi = snap.hybrid_bounds(oracle.embed([q], DIM)[0],
                                        q.split(" "), HYBRID_N)
            rows = spark_rows[spark_rows.query_id == i].sort_values(
                ["rrf_score", "chunk_id"], ascending=[False, True])
            spark = list(zip(rows.chunk_id, rows.rrf_score))
            got = [(h["chunk_id"], h["rrf_score"]) for h in hits]
            bad = [f"{mode} {why}" for mode, ans in (("serve", got),
                                                      ("spark", spark))
                   if (why := oracle.hybrid_mismatch(ans, K, snap.ids,
                                                     lo, hi))]
            run.check("hybrid_within_exact_bounds", op, not bad,
                      f"query {q[:40]!r}: " + "; ".join(bad))
            # both regimes rank unrounded cosines, each with its own
            # float sums, so they may order equal cosines differently
            run.observe("hybrid_serve_equals_spark_batch", got == spark,
                        f"query {q[:40]!r}: "
                        + oracle.first_difference(got, spark))


# -- write_churn -------------------------------------------------------------

class Churn:
    """What write_churn has committed so far, for its answer checks."""

    def __init__(self, run: Run, kb, docs):
        self.run, self.kb = run, kb
        self.by_name = {d.filename: d for d in docs}
        self.deleted: set[str] = set()
        self.live = len(docs)
        self.in_bytes = run.extra.get("input_bytes", 0)
        self.qi = int(run.rng.integers(len(run.inp.queries)))
        self.done = 0

    def no_deleted(self, op, hits, what):
        bad = [h["filename"] for h in hits if h["filename"] in self.deleted]
        self.run.check("deleted_never_returned", op, not bad,
                       f"{what} returned deleted {bad[:3]}")

    def next_queries(self, n: int) -> list[str]:
        qs = self.run.inp.queries
        out = [qs[(self.qi + j) % len(qs)] for j in range(n)]
        self.qi += n
        return out

    def cycle(self, batch, victim: str) -> None:
        from vector_knowledge_base_spark.operators import components, text_dedup

        run, kb = self.run, self.kb
        c0 = time.perf_counter()
        self.done += 1
        path = os.path.join(run.work, f"batch{self.done}.jsonl")
        self.in_bytes += inputs.write_jsonl(batch, path)
        cat = batch[0].category
        run.timed("append", lambda: kb.import_jsonl(path, category=cat),
                  "append")
        self.live += len(batch)
        self.by_name.update((d.filename, d) for d in batch)
        probe = batch[0]
        op, hits = run.timed("fresh_after_append",
                             lambda: kb.search_hits(probe.text, k=K),
                             "refresh")
        if hits is not None:
            top = hits[0]["filename"] if hits else None
            run.check("new_doc_rank1_after_append", op,
                      top == probe.filename,
                      f"top hit {top} for {probe.filename}")

        def dedup():
            docs = kb.chunks().select("doc_id", "text")
            sig = text_dedup.minhash_signatures(docs)
            run.last_cand = text_dedup.minhash_lsh_candidates(sig)
            return components.dedup_canonical(docs, run.last_cand).toPandas()

        dop, canon = run.timed("dedup", dedup, "dedup")
        run.timed("delete", lambda: kb.delete_document(victim), "delete")
        self.deleted.add(victim)
        self.live -= 1
        gone = self.by_name[victim].text
        op, hits = run.timed("fresh_after_delete",
                             lambda: kb.search_hits(gone, k=K), "refresh")
        if hits is not None:
            self.no_deleted(op, hits, "fresh_after_delete")
        qs = self.next_queries(BATCH)
        bop, bulk = run.timed(
            "bulk_knn",
            lambda: kb.search_batch(qs, k=K, mode="spark").toPandas(),
            "bulk_knn")
        run.cycles.append(time.perf_counter() - c0)
        # untimed checks against the committed table
        with run.checking():
            snap = run.snapshot(kb)
            if canon is not None:
                self.check_dedup(dop, snap, canon)
            if bulk is not None:
                for j in range(0, BATCH, 20):
                    rows = bulk[bulk.query_id == j].sort_values(
                        ["score", "chunk_id"], ascending=[False, True])
                    hits = [{"chunk_id": r.chunk_id, "score": r.score,
                             "filename": r.filename}
                            for r in rows.itertuples()]
                    run.check_hits("bulk_knn_equals_numpy_topk", bop, snap,
                                   qs[j], hits)
                    self.no_deleted(bop, hits, "bulk_knn")
            if run.trace:
                useful_pairs(run, snap)

    def check_dedup(self, op, snap, canon) -> None:
        """Every live planted near-duplicate shares its source's
        canonical id."""
        doc_of = dict(zip(snap.pdf.filename, snap.pdf.doc_id))
        canon_of = dict(zip(canon.doc_id, canon.canonical_id))
        bad = []
        for name, d in self.by_name.items():
            if d.dup_of is None or {name, d.dup_of} & self.deleted:
                continue
            a, b = doc_of.get(name), doc_of.get(d.dup_of)
            if a is None or b is None or canon_of.get(a) != canon_of.get(b):
                bad.append(name)
        self.run.check("planted_dups_share_canonical", op, not bad,
                       f"{len(bad)} planted near-duplicates not merged, "
                       f"e.g. {bad[:3]}")
        self.run.extra["dedup_docs"] = len(canon)


def write_churn(run: Run) -> None:
    inp = run.inp
    kb = run.setups(hybrid=False)
    churn = Churn(run, kb, inp.corpus)
    start = time.perf_counter()
    c = 0
    while c < len(inp.batches) and (
            c == 0 or time.perf_counter() - start < run.seconds):
        churn.cycle(inp.batches[c], inp.delete_order[c])
        c += 1
    with run.checking():
        n_docs = kb.list_documents().count()
    run.final_check("final_doc_count", n_docs == churn.live,
                    f"{n_docs} documents, expected {churn.live}")
    run.table_facts(kb, churn.in_bytes)


def useful_pairs(run, snap) -> None:
    """Trace-only: candidate pairs, and the share whose exact 3-shingle
    Jaccard clears the default banding's threshold (4 bands x 2 rows)."""
    pairs = run.last_cand.toPandas()
    text_of = dict(zip(snap.pdf.doc_id, snap.pdf.text))
    thr = (1 / 4) ** (1 / 2)
    useful = sum(
        oracle.shingle_jaccard(text_of[a], text_of[b]) >= thr
        for a, b in zip(pairs.doc_id_a, pairs.doc_id_b)
        if a in text_of and b in text_of
    )
    run.extra.setdefault("cand_pairs", []).append(len(pairs))
    run.extra.setdefault("useful_pairs", []).append(useful)


WORKLOADS = {
    "serve_read": (serve_read, dict(n_docs=SERVE_DOCS, dup_rate=0.0)),
    "write_churn": (write_churn, dict(n_docs=SERVE_DOCS, dup_rate=0.1,
                                      n_batches=40)),
}
