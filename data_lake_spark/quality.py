"""Declarative data-quality gate, compiled to one aggregate pass.

The reference has no quality checks at all — bad records surface as NaN
guards deep in the serving layer (averageProfitability.py:251,
detailedRanking.py:8-19) after they've already corrupted silver. The lake
equivalent (Glue Data Quality / Deequ) validates at the zone boundary.

Scale rule: N checks must not mean N scans. Every column check compiles
to a conditional-count expression and ALL of them run in a single
``df.agg(...)`` — one scan, one map-side-combinable aggregate, at 100 TB
the same cost as a count(). Referential integrity is the one exception
(it needs the dim), done as a broadcast LEFT ANTI count.

Usage::

    checks = [
        not_null("o_custkey"),
        unique("o_orderkey"),
        in_range("o_totalprice", 0, 1e7),
        accepted_values("o_orderstatus", ["F", "O", "P"]),
        matches("o_orderpriority", r"^[1-5]-"),
    ]
    results = run_checks(orders, checks)      # one job
    bad = [r for r in results if not r.passed]
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Check:
    name: str
    # produces the violation-count aggregate expression for this check
    agg: Callable[[], Column]
    # row-level violation predicate, when the check is per-row (unique()
    # is set-level and has none) — powers split_valid
    cond: Optional[Callable[[], Column]] = None


@dataclass(frozen=True)
class CheckResult:
    name: str
    violations: int
    n_rows: int
    passed: bool


def _count_if(cond: Column) -> Column:
    return F.sum(F.when(cond, 1).otherwise(0))


def _row_check(name: str, violated: Callable[[], Column]) -> Check:
    return Check(name, lambda: _count_if(violated()), violated)


def not_null(col: str) -> Check:
    return _row_check(f"not_null({col})", lambda: F.col(col).isNull())


def unique(col: str) -> Check:
    # duplicate count = rows - distinct values (exact; nulls counted by
    # not_null, not here)
    return Check(
        f"unique({col})",
        lambda: F.count(F.col(col)) - F.count_distinct(F.col(col)),
    )


def in_range(col: str, lo: float, hi: float) -> Check:
    c = F.col(col)
    return _row_check(
        f"in_range({col},{lo},{hi})",
        lambda: c.isNotNull() & ((c < lo) | (c > hi)),
    )


def accepted_values(col: str, values: Sequence[str]) -> Check:
    c = F.col(col)
    vals = list(values)
    return _row_check(
        f"accepted_values({col})",
        lambda: c.isNotNull() & ~c.isin(vals),
    )


def matches(col: str, pattern: str) -> Check:
    c = F.col(col)
    return _row_check(
        f"matches({col})", lambda: c.isNotNull() & ~c.rlike(pattern)
    )


def custom(name: str, violated: Column) -> Check:
    """Escape hatch: any row-level predicate marking a VIOLATION."""
    return _row_check(name, lambda: violated)


def run_checks(df: DataFrame, checks: Sequence[Check]) -> list[CheckResult]:
    """All checks in one aggregate job over one scan."""
    aggs = [F.count(F.lit(1)).alias("__rows")] + [
        c.agg().cast("long").alias(f"__c{i}") for i, c in enumerate(checks)
    ]
    row = df.agg(*aggs).collect()[0]
    n = row["__rows"]
    return [
        CheckResult(
            name=c.name,
            violations=int(row[f"__c{i}"] or 0),
            n_rows=n,
            passed=int(row[f"__c{i}"] or 0) == 0,
        )
        for i, c in enumerate(checks)
    ]


def referential_check(
    fact: DataFrame,
    fk: str,
    dim: DataFrame,
    pk: str,
    broadcast_dim: bool = True,
) -> CheckResult:
    """Orphaned-foreign-key count via LEFT ANTI join (key-only columns;
    dim broadcasts, so the fact never shuffles)."""
    d = dim.select(F.col(pk).alias("__pk")).distinct()
    if broadcast_dim:
        d = F.broadcast(d)
    orphans = (
        fact.select(F.col(fk).alias("__fk"))
        .filter(F.col("__fk").isNotNull())
        .join(d, F.col("__fk") == F.col("__pk"), "left_anti")
        .count()
    )
    return CheckResult(
        name=f"ref({fk}->{pk})",
        violations=orphans,
        n_rows=fact.count(),
        passed=orphans == 0,
    )


class QualityGateError(Exception):
    """Raised by enforce() when any check fails."""


def enforce(df: DataFrame, checks: Sequence[Check]) -> list[CheckResult]:
    """Run checks and raise if any fail — the zone-boundary gate."""
    results = run_checks(df, checks)
    failed = [r for r in results if not r.passed]
    if failed:
        detail = "; ".join(f"{r.name}: {r.violations} rows" for r in failed)
        raise QualityGateError(f"quality gate failed: {detail}")
    return results


def split_valid(
    df: DataFrame, checks: Sequence[Check]
) -> tuple[DataFrame, DataFrame]:
    """(good, bad): rows violating ANY row-level check are routed to the
    bad frame with a ``_violations`` column naming the failed checks.
    Set-level checks (unique) have no row predicate and raise here.

    This is the dead-letter form of the gate — the right shape for
    streams and 100 TB batches, where one poison record must quarantine,
    not abort the job (enforce() is the abort form for zone publishes)."""
    row_checks = [(c.name, c.cond) for c in checks]
    missing = [n for n, cond in row_checks if cond is None]
    if missing:
        raise ValueError(f"not row-level checks: {missing}")
    tags = F.array_compact(
        F.array(
            *[
                F.when(cond(), F.lit(name)) for name, cond in row_checks
            ]
        )
    )
    tagged = df.withColumn("_violations", tags)
    bad = tagged.filter(F.size("_violations") > 0)
    good = tagged.filter(F.size("_violations") == 0).drop("_violations")
    return good, bad
