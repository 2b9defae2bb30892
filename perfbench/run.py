#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard_ingest --seed 1 --seconds 25 --trace 0

Runs one workload against the lake at sf0.1 on ``local[$SPARK_GRAFT_CPUS]``
and prints, as the last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics of a traced run with ``--trace 1``.
A human-readable summary goes to stderr. Every run gets a fresh scratch
directory inside the checkout (Spark local dirs, artifact store, the
versioned table), deleted at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("dashboard_ingest", "curation")


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _isolate(tmp: str) -> None:
    """Point every scratch path of Spark, the artifact store and Python at
    ``tmp``, and let Python workers import the program from the checkout."""
    for sub in ("local", "artifacts", "python", "java"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["SPARK_GRAFT_ARTIFACT_DIR"] = os.path.join(tmp, "artifacts")
    os.environ["TMPDIR"] = os.path.join(tmp, "python")
    # every JVM spark-submit starts keeps its temp files in tmp and
    # writes no hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""),
         f"-Djava.io.tmpdir={os.path.join(tmp, 'java')}", "-XX:-UsePerfData"]
    ).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
    except OSError:
        pass
    return out


def _wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def _stop(spark) -> None:
    """Stop Spark, then the gateway JVM and its worker processes, and wait
    until each has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = _children(proc.pid) if proc else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    _wait_gone(kids, 30)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "data_lake_spark")):
        print(f"perfbench: no data_lake_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import metrics, workloads

    if not os.path.isdir(workloads.SF_DIR):
        print(f"perfbench: lake data missing at {workloads.SF_DIR}", file=sys.stderr)
        return 2

    tmp = os.path.join(ROOT, ".perfbench-tmp", str(os.getpid()))
    _isolate(tmp)
    fn, clients = workloads.WORKLOADS[args.workload]
    spark = None
    try:
        t0 = time.perf_counter()
        from data_lake_spark.session import get_spark

        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
        run = workloads.Run(spark, bool(args.trace), clients, tmp)
        run.setup["session"] = session_s
        fn(run, args.seed, args.seconds)
        run.notes["peak_rss_mb"] = metrics.peak_rss_mb(
            spark._jvm.java.lang.ProcessHandle.current().pid()
        )
        cores = spark.sparkContext.defaultParallelism
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass

    e2e = metrics.e2e_values(run.setup_end - t0, run.latencies, run.ops, run.window_s)
    summary = {k: v["value"] for k, v in e2e.items()}
    summary.update(metrics.percentiles(run.latencies) if run.latencies else {})
    summary.update(
        samples=len(run.latencies),
        latency_mean_s=sum(run.latencies) / max(len(run.latencies), 1),
        window_s=run.window_s,
        failed_ratio=run.failed / max(run.attempted, 1),
        setup={k: round(v, 4) for k, v in run.setup.items()},
        **run.notes,
    )
    if args.trace:
        layers = metrics.layer_values(run.tracer.spans, run.setup, cores)
        summary["layers"] = {k: v["value"] for k, v in layers.items()}
    print("# summary " + json.dumps(summary), file=sys.stderr)
    result = {
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": layers if args.trace else e2e,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
