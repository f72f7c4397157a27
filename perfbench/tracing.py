"""Spans around the program's public functions, and per-phase Spark
metrics read back from the benchmark's own Spark event log.

A span is recorded by wrapping a function where its caller looks it up:
a name bound at import (``service.embed_texts``) is replaced in the
importing module, a name imported at call time (``ann.build_ivf``) in
its home module, a method on its class. Spans stay in memory until the
run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time

import numpy as np


class Span:
    __slots__ = ("name", "t0", "p0", "dur", "parent", "op", "tag", "kids")

    def __init__(self, name, parent, op):
        self.name, self.parent, self.op = name, parent, op
        self.t0, self.p0 = time.time(), time.perf_counter()
        self.dur, self.tag, self.kids = None, None, 0.0


class Tracer:
    """Records spans while ``enabled``; a disabled tracer adds one
    attribute check per wrapped call."""

    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = False
        self._stack: list[Span] = []
        self._op = 0
        self._undo: list[tuple] = []

    def wrap(self, owner, attr: str, name: str, tag=None) -> None:
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name) as sp:
                out = fn(*args, **kwargs)
                if tag is not None:
                    sp.tag = tag(out)
                return out

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, fn))

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, parent, self._op)
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.dur = time.perf_counter() - sp.p0
            self._stack.pop()
            if parent is not None:
                parent.kids += sp.dur

    @contextlib.contextmanager
    def op(self, kind: str):
        """Root span of one workload operation."""
        self._op += 1
        if not self.enabled:
            yield None
            return
        with self.span(f"op.{kind}") as sp:
            yield sp

    def summary(self) -> dict:
        """Per span name: calls, duration p50, total and self time."""
        by: dict[str, list[Span]] = {}
        for sp in self.spans:
            by.setdefault(sp.name, []).append(sp)
        return {
            name: {
                "calls": len(sps),
                "ms_p50": float(np.median([s.dur for s in sps])) * 1e3,
                "total_s": sum(s.dur for s in sps),
                "self_s": sum(s.dur - s.kids for s in sps),
            }
            for name, sps in sorted(by.items())
        }

    def windows(self, name: str) -> list[tuple[float, float]]:
        return [(s.t0, s.t0 + s.dur) for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        index = {id(s): i for i, s in enumerate(self.spans)}
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "start": s.t0,
                    "end": s.t0 + s.dur, "self_s": s.dur - s.kids,
                    "parent": index.get(id(s.parent)), "op": s.op,
                    "tag": s.tag,
                }) + "\n")


def install_layer_spans(tracer: Tracer) -> None:
    """Wrap every public function the per-layer metrics are read from."""
    from vector_knowledge_base_spark import service
    from vector_knowledge_base_spark.functions import filters
    from vector_knowledge_base_spark.operators import ann, components, serving
    from vector_knowledge_base_spark.sources import txlog

    tracer.wrap(service, "embed_texts", "embed.embed_texts")
    tracer.wrap(filters, "filter_dsl_to_mask", "filters.mask")
    for attr in ("query", "query_batch", "apply_append_batches"):
        tracer.wrap(serving.KnnServer, attr, f"serving.{attr}")
    for attr in ("keyword_topn", "hybrid_query"):
        tracer.wrap(serving.HybridKnnServer, attr, f"serving.{attr}")
    tracer.wrap(serving, "append_only_batches", "serving.append_only_batches",
                tag=lambda out: "rebuild" if out is None else "delta")
    tracer.wrap(ann, "build_ivf", "ann.build_ivf")
    for attr in ("create_table", "append_table", "delete_where"):
        tracer.wrap(txlog, attr, f"txlog.{attr}")
    tracer.wrap(components, "connected_components",
                "components.connected_components")


# -- Spark event log ---------------------------------------------------------

SPARK_FIELDS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "driver_gap_s",
)


def read_event_log(log_dir: str) -> dict:
    """Jobs (group, submit, end, stages) and per-stage task totals from
    the uncompressed, non-rolling event log(s) in ``log_dir``."""
    jobs: dict[int, dict] = {}
    stage_tot: dict[int, dict] = {}
    completed: set[int] = set()
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit": ev["Submission Time"] / 1e3,
                        "end": None,
                        "stages": list(ev.get("Stage IDs") or []),
                    }
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    completed.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    t = stage_tot.setdefault(ev["Stage ID"], dict.fromkeys(
                        SPARK_FIELDS[2:-1], 0.0))
                    t["tasks"] += 1
                    t["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    t["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    t["shuffle_read_bytes"] += (
                        sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0))
                    t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    t["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
    return {"jobs": jobs, "stage_totals": stage_tot, "completed": completed}


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    return total + (cur_b - cur_a if cur_b is not None else 0.0)


def phase_metrics(log: dict, phase: str, windows: list[tuple[float, float]]):
    """Spark totals of job group ``phase``, per phase instance. The
    driver gap is the instances' wall time not covered by any job."""
    n = len(windows)
    out = dict.fromkeys(SPARK_FIELDS, 0.0)
    if n == 0:
        return out
    jobs = [j for j in log["jobs"].values() if j["group"] == phase]
    seen: set[int] = set()
    for j in jobs:
        for sid in j["stages"]:
            if sid in seen or sid not in log["completed"]:
                continue
            seen.add(sid)
            for k, v in log["stage_totals"].get(sid, {}).items():
                out[k] += v
    out["jobs"], out["stages"] = len(jobs), len(seen)
    busy = _union_len([(j["submit"], j["end"] or j["submit"]) for j in jobs])
    out["driver_gap_s"] = max(0.0, sum(b - a for a, b in windows) - busy)
    return {k: v / n for k, v in out.items()}


def jobs_within(log: dict, windows: list[tuple[float, float]]) -> int:
    """Jobs submitted inside any of ``windows`` (any group)."""
    return sum(
        any(a - 1e-3 <= j["submit"] <= b + 1e-3 for a, b in windows)
        for j in log["jobs"].values()
    )
