"""Quality gate (quality.py): violation counts are exact, all column
checks share ONE scan/aggregate, referential check finds orphans, and
enforce() blocks bad zone writes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_lake_spark.catalog import load_table
from data_lake_spark.quality import (
    QualityGateError,
    accepted_values,
    custom,
    enforce,
    in_range,
    matches,
    not_null,
    referential_check,
    run_checks,
    unique,
)


@pytest.fixture()
def dirty(spark):
    rows = [
        (1, "a", 10.0, "F"),
        (2, "b", -5.0, "O"),  # range violation
        (2, "c", 20.0, "X"),  # dup id + bad status
        (None, "d", 30.0, "F"),  # null id
        (4, None, 1e9, "O"),  # null name + range violation
    ]
    return spark.createDataFrame(
        rows, "id int, name string, amount double, status string"
    )


def test_counts_exact(dirty):
    res = {
        r.name: r
        for r in run_checks(
            dirty,
            [
                not_null("id"),
                unique("id"),
                in_range("amount", 0, 100),
                accepted_values("status", ["F", "O"]),
                matches("name", r"^[a-z]$"),
            ],
        )
    }
    assert res["not_null(id)"].violations == 1
    assert res["unique(id)"].violations == 1  # one duplicated value
    assert res["in_range(amount,0,100)"].violations == 2
    assert res["accepted_values(status)"].violations == 1
    assert res["matches(name)"].violations == 0  # nulls don't violate regex
    assert all(r.n_rows == 5 for r in res.values())


def test_single_scan_plan(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    checks = [
        not_null("o_custkey"),
        unique("o_orderkey"),
        in_range("o_totalprice", 0, 1e9),
        accepted_values("o_orderstatus", ["F", "O", "P"]),
        matches("o_orderpriority", r"^[1-5]-"),
    ]
    aggs = [F.count(F.lit(1)).alias("__rows")] + [
        c.agg().cast("long").alias(f"__c{i}") for i, c in enumerate(checks)
    ]
    plan = orders.agg(*aggs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1  # N checks, one scan
    # and the real thing runs clean on real data
    results = run_checks(orders, checks)
    assert all(r.passed for r in results)


def test_referential_clean_and_orphaned(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    ok = referential_check(orders, "o_custkey", customer, "c_custkey")
    assert ok.passed
    # poison one fk
    poisoned = orders.withColumn(
        "o_custkey",
        F.when(F.col("o_orderkey") == orders.first()["o_orderkey"], -1)
        .otherwise(F.col("o_custkey")),
    )
    bad = referential_check(poisoned, "o_custkey", customer, "c_custkey")
    assert not bad.passed and bad.violations == 1


def test_enforce_gates(dirty):
    with pytest.raises(QualityGateError) as ei:
        enforce(dirty, [not_null("id")])
    assert "not_null(id)" in str(ei.value)
    clean = dirty.filter(F.col("id").isNotNull())
    assert all(r.passed for r in enforce(clean, [not_null("id")]))


def test_custom_check(dirty):
    res = run_checks(
        dirty, [custom("amount_vs_status", (F.col("status") == "X"))]
    )
    assert res[0].violations == 1


def test_split_valid_routes_rows(dirty):
    from data_lake_spark.quality import split_valid

    good, bad = split_valid(
        dirty, [not_null("id"), in_range("amount", 0, 100)]
    )
    assert good.count() == 2  # rows (1,a) and (2,c)
    bad_rows = {r.name: list(r._violations) for r in bad.collect()}
    assert bad_rows["b"] == ["in_range(amount,0,100)"]
    assert bad_rows["d"] == ["not_null(id)"]
    assert set(bad_rows["e"] if "e" in bad_rows else bad_rows[None]) == {
        "in_range(amount,0,100)"
    }


def test_split_valid_rejects_set_level_checks(dirty):
    from data_lake_spark.quality import split_valid

    with pytest.raises(ValueError):
        split_valid(dirty, [unique("id")])


def test_split_valid_partitions_exactly(spark, sf_dir):
    # good ∪ bad is the whole table; good re-passes the gate
    from data_lake_spark.quality import split_valid

    docs = load_table(spark, sf_dir, "documents")
    checks = [not_null("text"), in_range("n_chars", 1, 10**7)]
    good, bad = split_valid(docs, checks)
    assert good.count() + bad.count() == docs.count()
    assert all(r.passed for r in run_checks(good, checks))


def test_drift_report_flags_null_burst_and_cardinality_collapse(spark):
    from data_lake_spark.operators.profile import drift_report, profile

    base_df = spark.createDataFrame(
        [(i, f"u{i}", float(i)) for i in range(200)],
        "id int, user string, v double",
    )
    # today: user collapsed to a constant, v started nulling 20%
    cur_df = spark.createDataFrame(
        [
            (i, "CONST", None if i % 5 == 0 else float(i))
            for i in range(200)
        ],
        "id int, user string, v double",
    )
    rep = {
        r.col_name: r
        for r in drift_report(profile(cur_df), profile(base_df)).collect()
    }
    assert not rep["id"].drifted
    assert rep["user"].drifted  # distinct collapse 200 -> 1
    assert rep["v"].drifted  # null burst 0 -> 20%
    # column add/remove both flag
    extra = spark.createDataFrame([(1, "a", 1.0, 9)], "id int, user string, v double, extra int")
    rep2 = {
        r.col_name: r
        for r in drift_report(profile(extra), profile(base_df)).collect()
    }
    assert rep2["extra"].drifted
