#!/usr/bin/env python
"""Driver-style acceptance check in one command.

Mirrors what the external driver does: smoke `entry(spark)`, then run
every `queries()` entry AND its DuckDB `oracle_sql()` side-by-side at
sf0.01, comparing row counts and order-insensitive values (columns
sorted by name, stringified). Prints one line per query and a final
summary; exits non-zero on any mismatch.

Usage: python tools/acceptance.py [sf_dir] [--only n1,n2] [--module m1,m2]

``--only`` limits the sweep to the named queries; ``--module`` to the
queries whose implementation lives in a registry module whose name
contains any given token (e.g. ``--module ann,corpus_q``). Sharding
by module keeps per-addition re-gates cheap as the registry grows —
the full sweep stays the per-round gate.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    import argparse

    import duckdb

    import __spark_entry__ as e
    from data_lake_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default="", help="comma-separated query names")
    ap.add_argument(
        "--module", default="", help="comma-separated module-name substrings"
    )
    args = ap.parse_args()
    sf = args.sf_dir
    spark = get_spark("acceptance")

    n_entry = len(e.entry(spark).limit(5).collect())
    print(f"entry: {n_entry} rows {'OK' if n_entry > 0 else 'FAIL'}")

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        path = os.path.join(sf, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    qs, osql = e.queries(), e.oracle_sql()
    if args.only:
        keep = {n.strip() for n in args.only.split(",") if n.strip()}
        unknown = keep - set(qs)
        if unknown:
            print(f"unknown query names: {sorted(unknown)}")
            return 1
        qs = {n: f for n, f in qs.items() if n in keep}
    if args.module:
        toks = [t.strip() for t in args.module.split(",") if t.strip()]
        qs = {
            n: f
            for n, f in qs.items()
            if any(t in getattr(f, "__module__", "") for t in toks)
        }
        if not qs:
            print(f"no queries match --module {args.module}")
            return 1
    failures: list[str] = []
    for name in sorted(qs):
        try:
            a = qs[name](spark, sf).toPandas()
            if name not in osql:
                print(f"{name}: rows-only ({len(a)} rows)")
                continue
            b = con.execute(osql[name]).fetchdf()
            cols = sorted(a.columns)
            if sorted(b.columns) != cols:
                raise AssertionError(f"columns {cols} vs {sorted(b.columns)}")
            # order-insensitive: stringify, then sort ROWS by all columns
            # so engine ordering differences on orderBy ties don't produce
            # false mismatches
            av = a[cols].astype(str).sort_values(cols).reset_index(drop=True)
            bv = b[cols].astype(str).sort_values(cols).reset_index(drop=True)
            ok = av.shape == bv.shape and all(
                (av[c].values == bv[c].values).all() for c in cols
            )
            print(f"{name}: {av.shape[0]} rows {'MATCH' if ok else 'MISMATCH'}")
            if not ok:
                failures.append(name)
        except Exception as ex:  # noqa: BLE001 - report and continue
            print(f"{name}: ERROR {str(ex)[:120]}")
            failures.append(name)

    print(
        f"\n{len(qs) - len(failures)}/{len(qs)} queries pass"
        + (f"; FAILED: {failures}" if failures else "")
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
