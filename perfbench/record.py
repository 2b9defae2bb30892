#!/usr/bin/env python3
"""Record one timed and one traced run per workload, and the layer split.

    python3 perfbench/record.py --seed 1 --seconds 25

For each workload, runs ``run.py`` with ``--trace 0`` and then with
``--trace 1`` on the same seed, and writes both runs' numbers, the
tracing overhead (traced minus timed mean latency) and, from the traced
run, how the per-operation layer times add up to the mean latency, to
``results/traced.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "results", "traced.json")

# layers on the blocking path of one operation, per workload
PATH = {
    "dashboard_ingest": (
        "catalog.load_s",
        "versioned.read_s",
        "api.endpoints.build_s",
        "spark.exec.collect_s",
    ),
    "curation": ("queries.build_s", "spark.exec.collect_s"),
}


def _run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
    result = json.loads(p.stdout.strip().splitlines()[-1])
    line = next(ln for ln in reversed(p.stderr.splitlines()) if "# summary " in ln)
    return result, json.loads(line.split("# summary ", 1)[1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=25)
    args = ap.parse_args()
    out = {"seed": args.seed, "seconds": args.seconds, "workloads": {}}
    for w, path in PATH.items():
        timed, timed_sum = _run(w, args.seed, args.seconds, 0)
        traced, traced_sum = _run(w, args.seed, args.seconds, 1)
        layers = {k: v["value"] for k, v in traced["metrics"].items()}
        blocking = {k: layers[k] for k in path}
        out["workloads"][w] = {
            "timed": {k: v["value"] for k, v in timed["metrics"].items()},
            "timed_latency_mean_s": timed_sum["latency_mean_s"],
            "traced_latency_mean_s": traced_sum["latency_mean_s"],
            "tracing_overhead_s": traced_sum["latency_mean_s"] - timed_sum["latency_mean_s"],
            "blocking_path_s": blocking,
            "blocking_path_sum_s": sum(blocking.values()),
            "correct": timed["correct"] and traced["correct"],
            "layers": layers,
        }
        print(f"{w}: mean latency {traced_sum['latency_mean_s']:.3f} s traced, "
              f"{timed_sum['latency_mean_s']:.3f} s timed; blocking path "
              f"{sum(blocking.values()):.3f} s", flush=True)
    with open(OUT, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
