"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ann-serve --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout; the engine package
``hnsw_vector_db_spark`` is imported from there, from source. All files
the run writes (Spark's local files, parquet tables, token shards) go to a
private directory under ``.perfbench/`` in the checkout, which is
removed at exit.

Stdout ends with two JSON lines. The first is the detailed report: each
workload's own metrics by name and unit, every latency with its sample
count and the percentile its tail is. The last is the result:
``{"correct", "attempted", "failed", "metrics"}`` where the metrics are
the end-to-end ones with ``--trace 0`` and the per-layer ones with
``--trace 1`` (a separate, traced run). See perfbench/METRICS.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the end-to-end metrics every workload reports in the result line
END_TO_END = ("setup_s", "py_peak_rss_mb", "throughput_per_s", "latency_p50_ms")


def _prepare_environment(work: str) -> None:
    """Keep every file Spark, py4j and the engine write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = tmp
    # executors' Python workers import the engine from source, too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(min(4, len(os.sched_getaffinity(0))))
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(work: str):
    from hnsw_vector_db_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        **{
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage in the status store for the ledger
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("VmHWM:")) / 1024


def peak_rss_mb(spark) -> dict[str, float]:
    """VmHWM in MiB of this Python process, and of it plus the driver JVM."""
    py = _vm_hwm_mb(os.getpid())
    jvm = _vm_hwm_mb(int(spark._jvm.java.lang.ProcessHandle.current().pid()))
    return {"py_peak_rss_mb": py, "peak_rss_mb": py + jvm}


def _detail(run, name: str, session_s: float, rss: dict) -> dict:
    """Each workload's own metrics, by name and unit."""
    m = {
        "setup_s": {"value": statistics.median(run.setup_s), "unit": "s"},
        **{k: {"value": v, "unit": "MB"} for k, v in rss.items()},
        "failed_op_frac": {"value": run.failed / max(run.attempted, 1), "unit": "ratio"},
    }
    for key, (value, unit) in run.report.items():
        if isinstance(value, dict):  # a latency summary
            m[f"{key}_p50_ms"] = {"value": value["p50"], "unit": unit, "n": value["n"]}
            m[f"{key}_tail_ms"] = {
                "value": value["tail"],
                "unit": unit,
                "percentile": value["tail_pct"],
                "n": value["n"],
            }
        else:
            m[key] = {"value": value, "unit": unit}
    return {
        "workload": name,
        "session_start_s": session_s,
        "setup_runs_s": run.setup_s,
        "loop_s": run.loop_s,
        "metrics": m,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "hnsw_vector_db_spark")):
        print(f"perfbench: no engine package hnsw_vector_db_spark in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        _prepare_environment(work)
        from perfbench import tracing
        from perfbench.workloads import WORKLOADS, Run

        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
                  file=sys.stderr)
            return 2
        t0 = time.time()
        spark = start_spark(work)
        session_s = time.time() - t0
        try:
            spark.sparkContext.setLogLevel("ERROR")
            tracer = tracing.Tracer(spark.sparkContext if args.trace else None)
            tracer.record("session", "get_spark", t0, t0 + session_s)
            run = Run(spark, tracer, args.seed, args.seconds, os.path.join(work, "data"))
            WORKLOADS[args.workload](run)
            rss = peak_rss_mb(spark)
            if args.trace:
                jobs, stages = tracing.read_ledger(spark.sparkContext)
                stats = tracing.attribute(tracer.spans, jobs, stages)
                metrics = tracing.layer_metrics(tracer, stats, run.loop_s)
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    detail = _detail(run, args.workload, session_s, rss)
    if not args.trace:
        metrics = {k: detail["metrics"][k] for k in END_TO_END}
    print(json.dumps(detail))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
