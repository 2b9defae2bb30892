"""Driver-checkable queries exercising the Athena/Presto SQL compat layer.

Each query here is written as an **Athena-dialect SQL string** — the exact
syntax the reference's users write today (double-quoted identifiers,
``"data_lake_db"."table"`` two-part names, ``DATE('…')``, ``day_of_week``,
``WEEK``, unit-based ``DATE_ADD``; see ``/root/reference/queries/*.sql``,
``src/Athena/weekly_earnings.sql``, ``src/lambdas/earnings/needle.py``) —
and executed unchanged through :func:`data_lake_spark.sqlcompat.run_athena_sql`.
The DuckDB oracle is the same computation in DuckDB's dialect.

Money sums inside the Athena texts use the portable exact-micros fragment
(functions/exact.py: FLOOR to integer micros, integer SUM, divide at the
edge) — plain ANSI-portable SQL, valid in Presto, Spark, and DuckDB alike,
so cross-engine hashes are bit-identical regardless of aggregation order.

Scale note: everything here plans exactly like the DataFrame twins —
SQL UDF shims inline into Catalyst (constant-fold, codegen), the joins are
broadcast-able dim joins, the scalar subquery plans as a one-row broadcast.
The one Athena idiom deliberately NOT demonstrated is the disjunctive
OR-join (``earnings_by_day.sql:4-5``): Spark plans it as a nested-loop
join, so the engine's union-of-equi-joins rewrite
(queries/relational.q_or_key_join, SURVEY J4) is the scale path for it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from data_lake_spark.catalog import TABLES, register_views
from data_lake_spark.queries import QuerySpec
from data_lake_spark.sqlcompat import run_athena_sql

# portable exact money sum: FLOOR → integer micros → SUM → scale back
def _xsum(expr: str) -> str:
    return (
        f"CAST(SUM(CAST(FLOOR(({expr}) * 1000000.0) AS BIGINT)) AS DOUBLE)"
        " / 1000000.0"
    )


def _msum(expr: str) -> str:
    return f"SUM(CAST(FLOOR(({expr}) * 1000000.0) AS BIGINT))"


def _run(spark: SparkSession, sf_dir: str, athena_sql: str) -> DataFrame:
    # register only the tables the text names, not all ten
    names = tuple(t for t in TABLES if f'"data_lake_db"."{t}"' in athena_sql)
    register_views(spark, sf_dir, names)
    return run_athena_sql(spark, athena_sql)


# ---------------------------------------------------------------------------
# athena_earnings_day — queries/earnings_by_day.sql verbatim shape
# ---------------------------------------------------------------------------

_ATHENA_EARNINGS_DAY = f"""
SELECT      o."o_orderdate" AS report_date,
            {_xsum('o.o_totalprice')} AS total_amount
FROM        "data_lake_db"."orders" o
INNER JOIN  "data_lake_db"."customer" us
    ON      o.o_custkey = us.c_custkey
INNER JOIN  "data_lake_db"."nation" n
    ON      us.c_nationkey = n.n_nationkey
WHERE       CAST(o."o_orderdate" AS DATE)
                BETWEEN DATE('1996-01-01') AND DATE('1996-03-31') AND
            n.n_name = 'NATION_1'
GROUP BY    o."o_orderdate"
ORDER BY    o."o_orderdate"
"""


def q_athena_earnings_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship SQL file run as-is through the compat
    layer (queries/earnings_by_day.sql:1-11: quoted identifiers, two-part
    names, DATE('…') casts, dim filters, grouped daily sum)."""
    return _run(spark, sf_dir, _ATHENA_EARNINGS_DAY)


ORACLE_ATHENA_EARNINGS_DAY = f"""
SELECT o_orderdate AS report_date, {_xsum('o_totalprice')} AS total_amount
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-03-31'
  AND n_name = 'NATION_1'
GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# athena_dow_dist — queries/earnings_by_day_of_week.sql verbatim shape
# ---------------------------------------------------------------------------

_ATHENA_DOW = f"""
SELECT  CASE
            WHEN day_of_week(CAST(o."o_orderdate" AS DATE)) = 1 THEN 'Lun'
            WHEN day_of_week(CAST(o."o_orderdate" AS DATE)) = 2 THEN 'Mar'
            WHEN day_of_week(CAST(o."o_orderdate" AS DATE)) = 3 THEN 'Mie'
            WHEN day_of_week(CAST(o."o_orderdate" AS DATE)) = 4 THEN 'Jue'
            WHEN day_of_week(CAST(o."o_orderdate" AS DATE)) = 5 THEN 'Vie'
            WHEN day_of_week(CAST(o."o_orderdate" AS DATE)) = 6 THEN 'Sab'
            WHEN day_of_week(CAST(o."o_orderdate" AS DATE)) = 7 THEN 'Dom'
        END AS dow_label,
        day_of_week(CAST(o."o_orderdate" AS DATE)) AS dow_iso,
        ROUND({_xsum('o.o_totalprice')}, 2) AS total,
        {_xsum('o.o_totalprice')}
          / (SELECT {_xsum('o2.o_totalprice')}
             FROM "data_lake_db"."orders" o2
             WHERE CAST(o2.o_orderdate AS DATE)
                 BETWEEN DATE('1996-09-01') AND DATE('1996-09-30'))
          * 100 AS percentage
FROM    "data_lake_db"."orders" o
WHERE   CAST(o."o_orderdate" AS DATE)
            BETWEEN DATE('1996-09-01') AND DATE('1996-09-30')
GROUP BY day_of_week(CAST(o."o_orderdate" AS DATE))
ORDER BY dow_iso ASC
"""
# Dialect caveat vs the reference text (earnings_by_day_of_week.sql:23):
# Presto permits ORDER BY over a non-selected grouping expression; Spark's
# analyzer cannot re-match the expression once the day_of_week SQL UDF is
# inlined, so the compat query selects the ISO number and orders by the
# output column — same row order, one extra (useful) column.


def q_athena_dow_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries/earnings_by_day_of_week.sql:1-23 run as-is: ISO
    ``day_of_week`` CASE labels (the Presto numbering the reference's
    weekday names depend on), percentage-of-total via an uncorrelated
    scalar subquery, GROUP/ORDER BY the day_of_week expression."""
    return _run(spark, sf_dir, _ATHENA_DOW)


ORACLE_ATHENA_DOW = f"""
SELECT CASE ISODOW(CAST(o_orderdate AS DATE))
         WHEN 1 THEN 'Lun' WHEN 2 THEN 'Mar' WHEN 3 THEN 'Mie'
         WHEN 4 THEN 'Jue' WHEN 5 THEN 'Vie' WHEN 6 THEN 'Sab'
         WHEN 7 THEN 'Dom' END AS dow_label,
       CAST(ISODOW(CAST(o_orderdate AS DATE)) AS INT) AS dow_iso,
       ROUND({_xsum('o_totalprice')}, 2) AS total,
       {_xsum('o_totalprice')}
         / (SELECT {_xsum('o_totalprice')} FROM orders
            WHERE CAST(o_orderdate AS DATE)
                BETWEEN DATE '1996-09-01' AND DATE '1996-09-30')
         * 100 AS percentage
FROM orders
WHERE CAST(o_orderdate AS DATE)
    BETWEEN DATE '1996-09-01' AND DATE '1996-09-30'
GROUP BY ISODOW(CAST(o_orderdate AS DATE))
ORDER BY ISODOW(CAST(o_orderdate AS DATE)) ASC
"""


# ---------------------------------------------------------------------------
# athena_weekly — src/Athena/weekly_earnings.sql verbatim shape
# ---------------------------------------------------------------------------

_ATHENA_WEEKLY = f"""
SELECT  us.c_name AS nickname,
        YEAR(CAST(l."l_shipdate" AS DATE)) AS yr,
        WEEK(CAST(l."l_shipdate" AS DATE)) AS wk,
        {_xsum('l.l_extendedprice * (1 - l.l_discount)')} AS total_amount,
        SUM(CAST(l.l_quantity AS BIGINT)) AS total_seconds
FROM        "data_lake_db"."lineitem" l
INNER JOIN  "data_lake_db"."orders" o ON l.l_orderkey = o.o_orderkey
INNER JOIN  "data_lake_db"."customer" us ON o.o_custkey = us.c_custkey
WHERE   CAST(l."l_shipdate" AS DATE)
            BETWEEN DATE('1996-06-01') AND DATE('1996-08-31')
    AND us.c_custkey <= 50
GROUP BY us.c_name,
         YEAR(CAST(l."l_shipdate" AS DATE)),
         WEEK(CAST(l."l_shipdate" AS DATE))
ORDER BY nickname, yr, wk
"""


def q_athena_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """src/Athena/weekly_earnings.sql:1-6 run as-is: per-performer
    YEAR/WEEK grouping with Presto's ``WEEK()`` (ISO — the compat shim
    maps it to weekofyear, which is also ISO, SURVEY §2.9)."""
    return _run(spark, sf_dir, _ATHENA_WEEKLY)


ORACLE_ATHENA_WEEKLY = f"""
SELECT c_name AS nickname,
       CAST(YEAR(CAST(l_shipdate AS DATE)) AS INT) AS yr,
       CAST(WEEKOFYEAR(CAST(l_shipdate AS DATE)) AS INT) AS wk,
       {_xsum('l_extendedprice * (1 - l_discount)')} AS total_amount,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_seconds
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1996-06-01' AND DATE '1996-08-31'
  AND c_custkey <= 50
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# athena_needle_period — src/lambdas/earnings/needle.py period comparison
# ---------------------------------------------------------------------------

_ATHENA_NEEDLE = f"""
WITH monthly AS (
  SELECT EXTRACT(YEAR FROM CAST(o."o_orderdate" AS DATE)) AS y,
         EXTRACT(MONTH FROM CAST(o."o_orderdate" AS DATE)) AS m,
         {_msum('o.o_totalprice')} AS s_m
  FROM "data_lake_db"."orders" o
  WHERE CAST(o."o_orderdate" AS DATE)
            > date_add('year', -1, DATE('1996-12-31'))
    AND CAST(o."o_orderdate" AS DATE) <= DATE('1996-12-31')
  GROUP BY 1, 2
)
SELECT CAST(SUM(s_m) AS DOUBLE) / 1000000.0 / COUNT(*) AS avg_monthly,
       COUNT(*) AS n_months
FROM monthly
"""


def q_athena_needle_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """needle.py:104-136 run as Athena SQL: unit-based
    ``DATE_ADD('year', -1, …)`` (the compat layer routes it to the
    presto_date_add shim), EXTRACT period keys, AVG-over-grouped-sums as
    exact integer SUM ÷ COUNT."""
    return _run(spark, sf_dir, _ATHENA_NEEDLE)


ORACLE_ATHENA_NEEDLE = f"""
WITH monthly AS (
  SELECT EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) AS y,
         EXTRACT(MONTH FROM CAST(o_orderdate AS DATE)) AS m,
         {_msum('o_totalprice')} AS s_m
  FROM orders
  WHERE CAST(o_orderdate AS DATE) > DATE '1996-12-31' - INTERVAL 1 YEAR
    AND CAST(o_orderdate AS DATE) <= DATE '1996-12-31'
  GROUP BY 1, 2
)
SELECT CAST(SUM(s_m) AS DOUBLE) / 1000000.0 / COUNT(*) AS avg_monthly,
       COUNT(*) AS n_months
FROM monthly
"""


REGISTRY: dict[str, QuerySpec] = {
    "athena_earnings_day": QuerySpec(
        q_athena_earnings_day, ORACLE_ATHENA_EARNINGS_DAY,
        "Athena SQL run verbatim: flagship daily earnings",
    ),
    "athena_dow_dist": QuerySpec(
        q_athena_dow_dist, ORACLE_ATHENA_DOW,
        "Athena SQL run verbatim: day_of_week CASE + pct-of-total",
    ),
    "athena_weekly": QuerySpec(
        q_athena_weekly, ORACLE_ATHENA_WEEKLY,
        "Athena SQL run verbatim: YEAR/WEEK grouping",
    ),
    "athena_needle_period": QuerySpec(
        q_athena_needle_period, ORACLE_ATHENA_NEEDLE,
        "Athena SQL run verbatim: unit DATE_ADD + EXTRACT periods",
    ),
}
