"""Turn one run's samples, spans and event log into the named metrics.

Names and units come from ``BENCHMARK.json``: ``--trace 0`` reports its
``end_to_end`` list and ``--trace 1`` its ``per_layer`` list. A metric
of an operation the workload does not run reads 0.
"""

from __future__ import annotations

import json
import os

import numpy as np

from perfbench import host, tracing
from perfbench.workloads import BATCH

SPARK_PHASES = ("ingest", "build", "refresh", "append", "delete", "dedup",
                "bulk_knn")
P99_MIN_SAMPLES = 1000


def _median(xs) -> float:
    return float(np.median(xs)) if len(xs) else 0.0


def _walls(samples: dict, *kinds) -> np.ndarray:
    return np.array([s[0] for k in kinds for s in samples.get(k, [])])


def op_table(samples: dict) -> dict:
    """Per operation kind: sample count, wall p50/p99/mean, CPU p50."""
    out = {}
    for kind, ss in sorted(samples.items()):
        wall = np.array([s[0] for s in ss])
        jvm = [s[2] for s in ss if s[2] is not None]
        out[kind] = {
            "n": len(ss),
            "wall_p50_ms": _median(wall) * 1e3,
            "wall_p99_ms": float(np.percentile(wall, 99)) * 1e3
            if len(wall) >= P99_MIN_SAMPLES else None,
            "wall_mean_ms": float(wall.mean()) * 1e3,
            "python_cpu_p50_ms": _median([s[1] for s in ss]) * 1e3,
            "jvm_tree_cpu_p50_ms": _median(jvm) * 1e3 if jvm else None,
        }
    return out


def facade_metrics(run, samples: dict) -> dict:
    """Every end-to-end figure the facade's users see."""
    w = lambda *k: _walls(samples, *k)  # noqa: E731

    def p99(x):
        return float(np.percentile(x, 99)) if len(x) >= P99_MIN_SAMPLES else 0.0

    batch = w("batch_search")
    n_docs = [s["chunks"] for s in run.setup]
    ingest_s = [s["ingest_s"] for s in run.setup]
    return {
        "setup_s": _median([s["s"] for s in run.setup]),
        "search_p50_ms": _median(w("search")) * 1e3,
        "filtered_search_p50_ms": _median(w("filtered_search")) * 1e3,
        "churn_cycle_p50_s": _median(run.cycles),
        "driver_peak_rss_mb": host.peak_rss_mb(),
        "search_p99_ms": p99(w("search")) * 1e3,
        "filtered_search_p99_ms": p99(w("filtered_search")) * 1e3,
        "hybrid_search_p50_ms": _median(w("hybrid_search")) * 1e3,
        "batch_search_qps": BATCH * len(batch) / batch.sum()
        if len(batch) else 0.0,
        "append_p50_s": _median(w("append")),
        "delete_p50_s": _median(w("delete")),
        "fresh_after_append_p50_ms": _median(w("fresh_after_append")) * 1e3,
        "fresh_after_delete_p50_ms": _median(w("fresh_after_delete")) * 1e3,
        "ingest_docs_per_s": _median(n_docs) / _median(ingest_s),
        "dedup_docs_per_s": run.extra.get("dedup_docs", 0)
        / _median(w("dedup")) if len(w("dedup")) else 0.0,
        "bulk_knn_qps": BATCH / _median(w("bulk_knn"))
        if len(w("bulk_knn")) else 0.0,
        "ops_failed_frac": len(run.failed_ops) / run.attempted,
    }


def layer_metrics(run, log) -> dict:
    tr = run.tracer
    s = tr.summary()
    n_ops = sum(v["calls"] for k, v in s.items() if k.startswith("op."))
    get = lambda name, f: s.get(name, {}).get(f, 0.0)  # noqa: E731

    def per_op(name):
        return get(name, "calls") / n_ops if n_ops else 0.0

    def mean_s(name):
        c = get(name, "calls")
        return get(name, "total_s") / c if c else 0.0

    aob = [sp.tag for sp in tr.spans if sp.name == "serving.append_only_batches"]
    out = {
        "embed.embed_texts.calls": per_op("embed.embed_texts"),
        "embed.embed_texts.ms_p50": get("embed.embed_texts", "ms_p50"),
        "filters.mask.calls": per_op("filters.mask"),
        "filters.mask.ms_p50": get("filters.mask", "ms_p50"),
        "serving.rebuild_frac":
            aob.count("rebuild") / len(aob) if aob else 0.0,
        "ann.build_ivf.calls": per_op("ann.build_ivf"),
        "ann.build_ivf.s": mean_s("ann.build_ivf"),
        "txlog.append_table.s_p50": get("txlog.append_table", "ms_p50") / 1e3,
        "txlog.delete_where.s_p50": get("txlog.delete_where", "ms_p50") / 1e3,
        "txlog.create_table.s": mean_s("txlog.create_table"),
        "txlog.data_files": float(run.extra.get("data_files", 0)),
        "txlog.bytes_per_input_byte": run.extra.get("bytes_per_input_byte", 0.0),
    }
    for m in ("query", "query_batch", "keyword_topn", "hybrid_query",
              "apply_append_batches"):
        out[f"serving.{m}.ms_p50"] = get(f"serving.{m}", "ms_p50")
    cand = run.extra.get("cand_pairs", [])
    useful = run.extra.get("useful_pairs", [])
    out["dedup.candidate_pairs"] = float(np.mean(cand)) if cand else 0.0
    out["dedup.useful_pair_frac"] = sum(useful) / sum(cand) if sum(cand) else 0.0
    cc = tr.windows("components.connected_components")
    out["components.jobs"] = tracing.jobs_within(log, cc) / len(cc) if cc else 0.0
    for phase in SPARK_PHASES:
        for field, v in tracing.phase_metrics(
                log, phase, run.windows.get(phase, [])).items():
            out[f"spark.{phase}.{field}"] = float(v)
    return out


def cpu_metrics(run) -> dict:
    all_s = [s for ss in run.samples.values() for s in ss]
    all_s += [s for ss in run.traced_samples.values() for s in ss]
    wall = sum(s[0] for s in all_s)
    spark = [s for s in all_s if s[2] is not None]
    return {
        "cpu.python_frac_of_wall": sum(s[1] for s in all_s) / wall,
        "cpu.jvm_tree_frac_of_wall":
            sum(s[2] for s in spark) / sum(s[0] for s in spark)
            if spark else 0.0,
    }


def trace_overhead(run) -> float:
    """Geomean over kinds timed both ways of traced p50 / untraced p50,
    minus one: the in-process cost of the spans."""
    ratios = [
        _median(_walls(run.traced_samples, k)) / _median(_walls(run.samples, k))
        for k in run.samples if run.traced_samples.get(k)
    ]
    return float(np.exp(np.mean(np.log(ratios)))) - 1 if ratios else 0.0


def build_report(args, run, props, facts, proc, log) -> dict:
    with open(os.path.join(run.root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    # a traced run's facade figures come from its untraced half; the
    # Spark-phase operations have none, so theirs include spans and the
    # event log
    samples = {**run.traced_samples, **run.samples}
    values = facade_metrics(run, samples)
    values.update(cpu_metrics(run))
    if run.trace:
        values.update(layer_metrics(run, log))
        values["trace.overhead_frac"] = trace_overhead(run)
    wanted = spec["per_layer" if run.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not computed: {missing}")
    failed = len(run.failed_ops)
    result = {
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    return {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "host": facts, "process": proc, "inputs": props,
        "setups": run.setup, "cycles": len(run.cycles),
        "ops": op_table(samples),
        "checks": run.checks, "failures": run.failures,
        "observed": run.observed, "differences": run.differences,
        "all_metrics": {k: {"value": v, "unit": units.get(k, "")}
                        for k, v in values.items()},
        "result": result,
    }


def print_report(r: dict) -> None:
    p = lambda *a: print(*a, flush=True)  # noqa: E731
    h = r["host"]
    p(f"== perfbench {r['workload']} seed={r['seed']} seconds={r['seconds']}"
      f" trace={r['trace']}")
    p(f"host: nproc={h['nproc']} load1={h['load1']:.2f} load5={h['load5']:.2f}"
      f" busy_frac={h['busy_frac']:.2f} other_spark_jvms={h['other_spark_jvms']}"
      f" steal_frac={h['steal_frac']:.2f}"
      + ("  ** RUN HAD COMPANY **" if h["had_company"] else ""))
    p("process: " + ", ".join(f"{k}={v:.3f}" for k, v in r["process"].items()))
    p("inputs: " + ", ".join(f"{k}={v}" for k, v in r["inputs"].items()))
    p("setups (s): " + ", ".join(f"{s['s']:.3f}" for s in r["setups"])
      + f"; timed churn cycles: {r['cycles']}")
    p(f"{'op':<20}{'n':>6}{'p50 ms':>11}{'p99 ms':>11}{'mean ms':>11}"
      f"{'py cpu ms':>11}{'jvm cpu ms':>11}")
    for kind, o in r["ops"].items():
        f = lambda v: f"{v:>11.3f}" if v is not None else f"{'-':>11}"  # noqa
        p(f"{kind:<20}{o['n']:>6}{f(o['wall_p50_ms'])}{f(o['wall_p99_ms'])}"
          f"{f(o['wall_mean_ms'])}{f(o['python_cpu_p50_ms'])}"
          f"{f(o['jvm_tree_cpu_p50_ms'])}")
    p("checks: " + ", ".join(f"{k}={a}/{b}" for k, (a, b) in
                             sorted(r["checks"].items())))
    for msg in r["failures"]:
        p("FAILED: " + msg.splitlines()[0])
    if r["observed"]:
        p("compared, not failed: " + ", ".join(
            f"{k}={a}/{b}" for k, (a, b) in sorted(r["observed"].items())))
    for msg in r["differences"]:
        p("DIFFERS: " + msg)
    p("metrics (0 = operation not run by this workload):")
    for name, m in r["all_metrics"].items():
        p(f"  {name:<40}{m['value']:>16.6g} {m['unit']}")
