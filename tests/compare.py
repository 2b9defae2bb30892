"""Local replica of the driver's DuckDB-oracle comparison.

Runs a Spark query and its oracle SQL on the same parquet tables, sorts
columns by name + rows by value, and compares cell-for-cell — floats must
be BIT-IDENTICAL, mirroring a value-hash gate. This is strictly harsher
than the driver's order-insensitive hash, so green here means green there.
"""

from __future__ import annotations

import math
import os
from typing import Any

import duckdb
import pandas as pd

from data_lake_spark.catalog import TABLES, table_path


# Oracle-result memo (r11, VERDICT item 3 — suite runtime): the stored
# serving twins share their decode twins' oracle SQL VERBATIM (same
# answer, different serving cost), so the suite used to pay the
# expensive oracles twice — the video keepers' recursive-closure CTE
# alone is ~31 s of single-threaded DuckDB at sf0.001, per test. The
# memo key is the exact (sql, sf_dir) pair; the SPARK side of every
# parity test still runs fresh. DuckDB results for identical SQL on
# identical parquet inputs are deterministic, so this cannot mask a
# parity break.
_ORACLE_MEMO: dict[tuple[str, str], pd.DataFrame] = {}


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    key = (sql, sf_dir)
    if key not in _ORACLE_MEMO:
        con = duckdb.connect()
        for t in TABLES:
            p = table_path(sf_dir, t)
            if os.path.exists(p):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
                )
        _ORACLE_MEMO[key] = con.execute(sql).fetchdf()
    # a copy, so a caller that mutates its result cannot corrupt the memo
    return _ORACLE_MEMO[key].copy()


def _norm_cell(v: Any) -> Any:
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<nan>"
        return repr(v)  # full precision — bit identity for doubles
    return str(v)


def normalize(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False):
        out.append(tuple(_norm_cell(v) for v in row))
    out.sort()
    return out


def compare(spark_df, oracle_sql: str, sf_dir: str) -> None:
    spdf = spark_df.toPandas()
    odf = run_oracle(oracle_sql, sf_dir)
    assert sorted(spdf.columns) == sorted(odf.columns), (
        f"schema mismatch: spark={sorted(spdf.columns)} oracle={sorted(odf.columns)}"
    )
    assert len(spdf) == len(odf), f"rowcount mismatch: spark={len(spdf)} oracle={len(odf)}"
    a, b = normalize(spdf), normalize(odf)
    for i, (ra, rb) in enumerate(zip(a, b)):
        assert ra == rb, f"row {i} mismatch:\n  spark : {ra}\n  oracle: {rb}"
