#!/usr/bin/env python3
"""Derive the curation output digests from an oracle-verified run.

    python3 perfbench/derive_digests.py

Runs every curation query once at sf0.1, compares its output with the
query's DuckDB oracle from the registry (columns by name, rows sorted,
floats bit-identical), and writes the digest of each verified output to
``perfbench/digests.json``. Exits non-zero, writing nothing, if any
query differs from its oracle. The timed runs compare against these
digests instead of re-running the oracles.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = ROOT
    from data_lake_spark.catalog import TABLES
    from data_lake_spark.queries import full_registry
    from data_lake_spark.session import get_spark
    from perfbench import metrics, oracles
    from perfbench.workloads import DIGESTS, SF_DIR

    with tempfile.TemporaryDirectory() as tmp:
        os.environ["SPARK_GRAFT_ARTIFACT_DIR"] = tmp
        spark = get_spark("perfbench-digests")
        oracle = oracles.Oracle(SF_DIR, TABLES)
        reg = full_registry()
        out, bad, answers = {}, [], {}
        for q in metrics.CURATION_QUERIES:
            df = reg[q].fn(spark, SF_DIR)
            got = oracles.normalize(df.columns, df.collect())
            sql = reg[q].oracle
            if sql not in answers:  # stored twins share their twin's oracle
                answers[sql] = oracle.normalized(sql)
            want = answers[sql]
            if got != want:
                bad.append(q)
            out[q] = oracles.digest(got)
            print(f"{q}: {len(got) - 1} rows, {'ok' if got == want else 'DIFFERS'}", flush=True)
        oracle.close()
        spark.stop()
    if bad:
        print(f"oracle mismatch: {bad}", file=sys.stderr)
        return 1
    with open(DIGESTS, "w") as fh:
        json.dump({"lake": os.path.basename(SF_DIR), "digests": out}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
