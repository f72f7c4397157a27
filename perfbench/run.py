"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 10 \\
        --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, drives ``KnowledgeBase`` on a ``local[nproc]`` Spark session from
one client thread, checks the answers, prints a report of every metric
with its unit and sample count, and ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` re-runs the workload with spans
and the Spark event log on and reports the per-layer metrics instead.
Scratch files live in ``.perfbench_work/`` (removed at exit); the report
and spans are kept in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

# numpy in the driver runs single-threaded, as PySpark runs it in its
# Python workers: the one client thread shares the cores with the
# local[nproc] executors. Must be set before numpy is first imported.
for _var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_var] = "1"

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import host, inputs, metrics, tracing  # noqa: E402
from perfbench.workloads import WORKLOADS, SERVE_DOCS, Run  # noqa: E402

PACKAGE = "vector_knowledge_base_spark"


def start_spark(work: str, trace: bool):
    from vector_knowledge_base_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        # no hsperfdata file in /tmp: every file of the run stays in work
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    n = host.nproc()
    spark = get_spark("perfbench", cpus=n, shuffle_partitions=n,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process it ran."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    tree = host.descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    host.wait_gone(tree, timeout_s=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ under {ROOT}; run from the "
              "repository root", file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    facts = host.host_facts()
    ticks0 = host.cpu_times()
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # Python workers import the package from the checkout; temp files
    # of every process stay inside the work directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    fn, gen_kwargs = WORKLOADS[args.workload]
    t0 = time.perf_counter()
    inp = inputs.generate(args.seed, **gen_kwargs)
    gen_s = time.perf_counter() - t0
    tracer = tracing.Tracer()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, bool(args.trace))
        spark_s = time.perf_counter() - t0
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        if args.trace:
            tracing.install_layer_spans(tracer)
        run = Run(spark, work, inp, args.seconds, bool(args.trace), tracer,
                  jvm_pid)
        run.workload, run.root = args.workload, ROOT
        fn(run)
        jvm_rss = host.peak_rss_mb(jvm_pid)
        tracer.unwrap_all()
        t0 = time.perf_counter()
        stop_spark(spark)
        spark = None
        stop_s = time.perf_counter() - t0
        facts["steal_frac"] = host.steal_frac(ticks0)
        # steal: other guests held this machine's CPUs during the run
        facts["had_company"] |= facts["steal_frac"] > 0.1
        log = (tracing.read_event_log(os.path.join(work, "eventlog"))
               if args.trace else None)
        report = metrics.build_report(
            args, run, inp.properties(SERVE_DOCS), facts,
            {"input_generation_s": gen_s, "spark_start_s": spark_s,
             "checks_s": run.extra["checks_s"], "spark_stop_s": stop_s,
             "jvm_peak_rss_mb": jvm_rss}, log)
    finally:
        tracer.unwrap_all()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    stem = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(report, f, indent=1, default=str)
    if args.trace:
        tracer.dump(stem + ".spans.jsonl")
    metrics.print_report(report)
    print(json.dumps(report["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
