#!/usr/bin/env python
"""Per-query layer profile: where each query's wall time goes.

For every named registry query, after one unmeasured warm run, each of
``--repeats`` runs is split into the benchmark's layers with
``perfbench.trace.SparkTracer``: *build* (Python constructing the
DataFrame, including its eager driver jobs), the collected plan's
Catalyst phases (analysis, optimization, planning) and *exec* (the
collect), with the Spark jobs, stages and tasks each ran. Prints the
median of every field per query and writes the formatted physical plan
to ``plans/<tag>/<name>.txt`` for before/after evidence.

Usage:
  python tools/query_profile.py q1,q2,... [--tag before] [--sf DIR] [--repeats 3]
"""

from __future__ import annotations

import argparse
import glob
import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# column -> (span layer, record field)
FIELDS = {
    "build_s": ("queries.build", "s"),
    "build_jobs": ("queries.build", "jobs"),
    "analysis_s": ("exec", "analysis_s"),
    "optimization_s": ("exec", "optimization_s"),
    "planning_s": ("exec", "planning_s"),
    "exec_s": ("exec", "s"),
    "exec_jobs": ("exec", "jobs"),
    "stages": ("exec", "stages"),
    "tasks": ("exec", "tasks"),
}


def main() -> None:
    from __spark_entry__ import SF0001

    ap = argparse.ArgumentParser()
    ap.add_argument("names", help="comma-separated query names")
    ap.add_argument("--tag", default="latest")
    ap.add_argument(
        "--sf", default=os.path.join(os.path.dirname(SF0001), "sf0.1")
    )
    ap.add_argument("--repeats", type=int, default=3)
    args = ap.parse_args()

    from perfbench.trace import SparkTracer

    from data_lake_spark.queries import full_registry
    from data_lake_spark.session import get_spark

    spark = get_spark("profile")
    reg = full_registry()
    plans_dir = os.path.join(REPO, "plans", args.tag)
    os.makedirs(plans_dir, exist_ok=True)

    # warm-up mirrors bench.py: touch tables, hot codegen, spawn workers
    for p in glob.glob(os.path.join(args.sf, "*.parquet")):
        spark.read.parquet(p).count()
    spark.range(1000).mapInPandas(lambda it: it, schema="id long").count()

    print("query", *FIELDS, sep="\t")
    for name in (n.strip() for n in args.names.split(",")):
        fn = reg[name].fn
        df = fn(spark, args.sf)
        df.collect()  # warm, unmeasured
        with open(os.path.join(plans_dir, f"{name}.txt"), "w") as fh:
            fh.write(
                df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
            )
        tr = SparkTracer(spark)
        for _ in range(args.repeats):
            with tr.span("queries.build", name):
                df = fn(spark, args.sf)
            with tr.span("exec", name, df):
                df.collect()
        cells = [
            format(
                statistics.median(r[field] for r in tr.spans[layer]),
                ".3f" if col.endswith("_s") else "g",
            )
            for col, (layer, field) in FIELDS.items()
        ]
        print(name, *cells, sep="\t", flush=True)


if __name__ == "__main__":
    main()
