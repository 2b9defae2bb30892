"""Athena/Presto SQL compat layer: translator units + function-shim
semantics + end-to-end parity of the Athena-dialect queries.

The four registry queries (athena_*) are additionally covered by
test_oracle_parity's full-registry sweep; here we pin the translator's
string handling and the Presto date-function numbering on known dates.
"""

from __future__ import annotations

import datetime

import pytest

from data_lake_spark.sqlcompat import (
    register_presto_compat,
    run_athena_sql,
    translate_athena_sql,
)

# ---------------------------------------------------------------------------
# translator units (pure string → string, no Spark needed)
# ---------------------------------------------------------------------------


def test_double_quotes_become_backticks():
    assert translate_athena_sql('SELECT "date" FROM t') == "SELECT `date` FROM t"


def test_two_part_names_flattened():
    out = translate_athena_sql(
        'SELECT * FROM "data_lake_db"."bronze_users" u'
    )
    assert out == "SELECT * FROM `bronze_users` u"


def test_unquoted_database_prefix_stripped():
    assert (
        translate_athena_sql("SELECT * FROM data_lake_db.orders")
        == "SELECT * FROM orders"
    )


def test_string_literals_untouched():
    sql = "SELECT 'a \"quoted\" string', 'it''s date_add(''week'')' FROM t"
    assert translate_athena_sql(sql) == sql


def test_unit_date_add_rewritten_only_with_literal_unit():
    out = translate_athena_sql("SELECT date_add('week', -1, d) FROM t")
    assert "presto_date_add('week', -1, d)" in out
    # two-arg day-count form (Spark built-in) stays untouched
    out2 = translate_athena_sql("SELECT date_add(d, 7) FROM t")
    assert "presto_date_add" not in out2


def test_function_renames():
    out = translate_athena_sql("SELECT approx_distinct(x), arbitrary(y) FROM t")
    assert "approx_count_distinct(x)" in out
    assert "any_value(y)" in out
    # not renamed when it's an identifier, only at call sites
    assert (
        translate_athena_sql("SELECT arbitrary FROM t")
        == "SELECT arbitrary FROM t"
    )


# ---------------------------------------------------------------------------
# Presto function shims (SQL UDFs) — known-date semantics
# ---------------------------------------------------------------------------


def test_day_of_week_is_iso(spark):
    register_presto_compat(spark)
    # 2024-09-02 is a Monday, 2024-09-08 a Sunday (Presto: 1=Mon..7=Sun)
    row = spark.sql(
        "SELECT day_of_week(DATE '2024-09-02') AS mon,"
        "       day_of_week(DATE '2024-09-08') AS sun,"
        "       dow(DATE '2024-09-04') AS wed"
    ).first()
    assert (row.mon, row.sun, row.wed) == (1, 7, 3)


def test_week_and_year_of_week_iso_boundary(spark):
    register_presto_compat(spark)
    # 2021-01-01 falls in ISO week 53 of week-year 2020
    row = spark.sql(
        "SELECT week(DATE '2021-01-01') AS w,"
        "       year_of_week(DATE '2021-01-01') AS yw"
    ).first()
    assert (row.w, row.yw) == (53, 2020)


def test_presto_date_add_units(spark):
    register_presto_compat(spark)
    row = spark.sql(
        "SELECT presto_date_add('week', -1, DATE '2024-03-08') AS w,"
        "       presto_date_add('month', 2, DATE '2024-01-31') AS m,"
        "       presto_date_add('year', -1, DATE '2024-02-29') AS y,"
        "       presto_date_add('day', 3, DATE '2024-12-30') AS d"
    ).first()
    assert row.w == datetime.date(2024, 3, 1)
    assert row.m == datetime.date(2024, 3, 31)
    assert row.y == datetime.date(2023, 2, 28)
    assert row.d == datetime.date(2025, 1, 2)


def test_shims_installed_once_per_session(spark, monkeypatch):
    register_presto_compat(spark)

    def no_sql(*a, **k):
        raise AssertionError("shims re-registered on the same session")

    monkeypatch.setattr(spark, "sql", no_sql)
    register_presto_compat(spark)
    monkeypatch.undo()

    # temporary functions belong to one session: a new one installs its own
    other = spark.newSession()
    register_presto_compat(other)
    row = other.sql(
        "SELECT day_of_week(DATE '2024-09-02') AS d,"
        "       week(DATE '2021-01-01') AS w,"
        "       presto_date_add('week', -1, DATE '2024-03-08') AS a"
    ).first()
    assert (row.d, row.w, row.a) == (1, 53, datetime.date(2024, 3, 1))


def test_shims_inline_into_catalyst(spark):
    """SQL UDFs must constant-fold — the physical plan of a shim over a
    literal is a literal (no UDF node, no extra stage at any scale)."""
    register_presto_compat(spark)
    plan = (
        spark.sql("SELECT day_of_week(DATE '2024-09-02') AS d")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "day_of_week" not in plan.lower() or "1 AS" in plan


# ---------------------------------------------------------------------------
# end-to-end: the reference's own SQL text shape runs unchanged
# ---------------------------------------------------------------------------


def test_reference_dow_sql_shape_runs(spark, sf_dir):
    """A faithful copy of queries/earnings_by_day_of_week.sql's structure
    (quoted "date"-style identifiers, two-part names, day_of_week CASE,
    GROUP/ORDER BY the day_of_week expression) parses and returns the
    ISO weekday ordering."""
    from data_lake_spark.catalog import register_views

    register_views(spark, sf_dir)
    rows = run_athena_sql(
        spark,
        """
        SELECT CASE
                 WHEN day_of_week(CAST(o."o_orderdate" AS DATE)) = 6 THEN 'Sab'
                 WHEN day_of_week(CAST(o."o_orderdate" AS DATE)) = 7 THEN 'Dom'
                 ELSE 'Laboral'
               END AS kind,
               COUNT(*) AS n
        FROM "data_lake_db"."orders" o
        GROUP BY CASE
                 WHEN day_of_week(CAST(o."o_orderdate" AS DATE)) = 6 THEN 'Sab'
                 WHEN day_of_week(CAST(o."o_orderdate" AS DATE)) = 7 THEN 'Dom'
                 ELSE 'Laboral'
               END
        """,
    ).collect()
    by_kind = {r.kind: r.n for r in rows}
    assert set(by_kind) == {"Sab", "Dom", "Laboral"}
    # weekdays outnumber any single weekend day ~5:2
    assert by_kind["Laboral"] > by_kind["Sab"]
    assert by_kind["Laboral"] > by_kind["Dom"]
