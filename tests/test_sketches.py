"""Accuracy contracts for the sketch queries. The registry queries now
reduce the sketch to a ``within_tolerance`` boolean beside exact columns
(driver-checkable vs DuckDB); these tests assert that boolean AND keep the
finer engine-side accuracy characterization by computing the raw sketches
directly."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_lake_spark.queries import full_registry
from data_lake_spark.queries.temporal import _events_secs


def test_approx_distinct_query_within_tolerance(spark, sf_dir):
    rows = full_registry()["approx_distinct"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.exact_users > 0
        assert r.within_tolerance, (r.event_type, r.exact_users)


def test_approx_distinct_raw_within_rsd(spark, sf_dir):
    rows = (
        _events_secs(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.count_distinct("user_id").alias("exact_users"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        # rsd=0.02 requested; allow 3 sigma plus slack for tiny groups
        assert abs(r.approx_users - r.exact_users) <= max(
            3, 0.06 * r.exact_users
        ), (r.event_type, r.approx_users, r.exact_users)


def test_quantile_sketch_query_within_tolerance(spark, sf_dir):
    rows = full_registry()["quantile_sketch"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.p50_exact <= r.p90_exact <= r.p99_exact
        assert r.within_tolerance, r.event_type


def test_quantile_sketch_rank_accuracy(spark, sf_dir):
    """percentile_approx returns an order statistic (a real element), so
    the correct contract is RANK accuracy: the element's empirical CDF
    position must sit within the sketch tolerance of the target quantile.
    Comparing values against the interpolating exact percentile would
    fail whenever adjacent elements are far apart."""
    import bisect

    rows = (
        _events_secs(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.percentile_approx("value", [0.5, 0.9, 0.99], 10000).alias("aq")
        )
        .collect()
    )
    assert rows
    vals = {}
    for r in _events_secs(spark, sf_dir).select("event_type", "value").collect():
        vals.setdefault(r.event_type, []).append(r.value)
    for v in vals.values():
        v.sort()
    for r in rows:
        v = vals[r.event_type]
        n = len(v)
        for a, q in zip(r.aq, (0.5, 0.9, 0.99)):
            lo = bisect.bisect_left(v, a)
            hi = bisect.bisect_right(v, a)
            assert lo < hi, (r.event_type, a, "sketch value not in data")
            # any rank the element occupies may satisfy the quantile
            best = min(abs(rk / n - q) for rk in (lo, hi - 1))
            assert best <= 0.02 + 2.0 / n, (r.event_type, q, a, best)


def test_kll_merge_thousand_groups_rank_bound(spark):
    """The per-group-then-fold KLL shape at ~10^3 groups (the comment-
    level cardinality bound in kll_merged_quantiles, exercised): with
    k=800 sketches, every fold — across partitionings AND repeated runs
    (Spark's KLL compaction is internally randomized, so bit-identity
    is not achievable; the sort only pins the fold ORDER) — must stay
    well inside the ±3% rank bound the query promises."""
    import bisect

    from data_lake_spark.queries.sketches import kll_merged_quantiles

    df = spark.range(0, 100_000).select(
        (F.col("id") % 1000).cast("string").alias("g"),
        (F.col("id") * 37 % 9973).cast("double").alias("value"),
    )
    qs = [0.5, 0.9, 0.99]
    per_group = (
        df.groupBy("g")
        .agg(F.kll_sketch_agg_double("value", 800).alias("sk"))
        .localCheckpoint()
    )
    vals = sorted(v.value for v in df.select("value").collect())
    n = len(vals)
    for nparts in (4, 32, 32):  # repeat one partitioning: rerun stability
        r = kll_merged_quantiles(
            per_group.repartition(nparts), "g", qs
        ).collect()[0]
        assert r.n_groups == 1000
        for a, q in zip(r.approx_q, qs):
            lo = bisect.bisect_left(vals, a)
            hi = bisect.bisect_right(vals, a)
            assert lo < hi, (a, "merged quantile not an input element")
            best = min(abs(rk / n - q) for rk in (lo, hi - 1))
            assert best <= 0.03, (nparts, q, a, best)


def test_sketch_queries_on_empty_events_match_oracle(spark, sf_dir, tmp_path):
    # an empty events table with the real schema: theta_distinct used to
    # divide by zero and kll_quantile to index an empty sketch list; the
    # oracle answers n_types = 0 and within_tolerance = TRUE
    import pyarrow.parquet as pq

    from data_lake_spark.catalog import table_path
    from tests.compare import compare

    lake = str(tmp_path)
    events = pq.read_table(table_path(sf_dir, "events"))
    pq.write_table(events.slice(0, 0), table_path(lake, "events"))
    reg = full_registry()
    for name in ("theta_distinct", "kll_quantile"):
        compare(reg[name].fn(spark, lake), reg[name].oracle, lake)
