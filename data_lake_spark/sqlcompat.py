"""Athena/Presto SQL compatibility layer: run the reference's SQL verbatim.

The reference's query surface is Athena (Presto/Trino dialect) SQL strings
(``/root/reference/queries/earnings_by_day.sql``,
``queries/earnings_by_day_of_week.sql``, ``src/Athena/weekly_earnings.sql``,
and the f-strings inside every ``src/lambdas/earnings/*.py`` handler). A
user switching to this engine should be able to paste those queries in
unchanged. This module provides exactly that:

- :func:`register_presto_compat` installs the Presto scalar functions Spark
  lacks (``day_of_week``, ``week``, unit-based ``date_add`` …) as **Spark
  SQL UDFs** (``CREATE TEMPORARY FUNCTION … RETURN``, Spark ≥ 4.0). SQL
  UDFs are inlined by Catalyst — ``day_of_week(DATE '…')`` constant-folds
  to a literal in the physical plan — so the shims carry zero runtime cost
  and stay inside whole-stage codegen at any scale.
- :func:`translate_athena_sql` rewrites the *syntax* Spark cannot parse:
  double-quoted identifiers → backticks, ``"db"."table"`` two-part names →
  flat view names, and the handful of function spellings that differ
  (``approx_distinct`` → ``approx_count_distinct``,
  ``date_add('week', -1, d)`` → ``presto_date_add('week', -1, d)``).
  The rewriter is string-literal-aware: nothing inside ``'…'`` (with ``''``
  escapes) is ever touched.
- :func:`run_athena_sql` = register + translate + ``spark.sql``.

Dialect facts encoded here (SURVEY §2.9 parity table):
- Presto ``day_of_week`` is ISO 1=Mon…7=Sun; Spark ``dayofweek`` is
  1=Sun…7=Sat (``/root/reference/src/lambdas/earnings/earningsByDayOfWeek.py:123``
  relies on the ISO numbering for its weekday CASE labels).
- Presto ``WEEK()`` == ISO week == Spark ``weekofyear`` (compatible).
- Presto ``DATE_ADD(unit, n, d)`` takes a unit string
  (``src/lambdas/earnings/needle.py:113-118``); Spark's two-arg
  ``date_add`` counts days only.
"""

from __future__ import annotations

import re
import threading
import weakref

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "register_presto_compat",
    "translate_athena_sql",
    "run_athena_sql",
]

# ---------------------------------------------------------------------------
# Presto scalar functions as Catalyst-inlined SQL UDFs
# ---------------------------------------------------------------------------

# Each entry: CREATE OR REPLACE TEMPORARY FUNCTION statement. All are pure
# expressions over built-ins, so Catalyst inlines them (verified: the
# physical plan of day_of_week(<literal>) is a folded constant).
_COMPAT_FUNCTIONS: tuple[str, ...] = (
    # ISO day-of-week, the reference's most-used date function
    # (earningsByDayOfWeek.py:123,126,152; queries/earnings_by_day_of_week.sql)
    """CREATE OR REPLACE TEMPORARY FUNCTION day_of_week(d DATE)
       RETURNS INT RETURN CAST((dayofweek(d) + 5) % 7 + 1 AS INT)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION dow(d DATE)
       RETURNS INT RETURN CAST((dayofweek(d) + 5) % 7 + 1 AS INT)""",
    # ISO week number (weekly_earnings.sql:2; README.md:48-66)
    """CREATE OR REPLACE TEMPORARY FUNCTION week(d DATE)
       RETURNS INT RETURN CAST(weekofyear(d) AS INT)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION week_of_year(d DATE)
       RETURNS INT RETURN CAST(weekofyear(d) AS INT)""",
    # ISO week-numbering year (pairs with week() at year boundaries)
    """CREATE OR REPLACE TEMPORARY FUNCTION year_of_week(d DATE)
       RETURNS INT RETURN CAST(extract(YEAROFWEEK FROM d) AS INT)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION yow(d DATE)
       RETURNS INT RETURN CAST(extract(YEAROFWEEK FROM d) AS INT)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION day_of_month(d DATE)
       RETURNS INT RETURN CAST(day(d) AS INT)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION day_of_year(d DATE)
       RETURNS INT RETURN CAST(dayofyear(d) AS INT)""",
    """CREATE OR REPLACE TEMPORARY FUNCTION doy(d DATE)
       RETURNS INT RETURN CAST(dayofyear(d) AS INT)""",
    # Presto unit-based DATE_ADD (needle.py:113-118 uses 'week'/'month'/
    # 'year'). Distinct name so Spark's built-in 2-arg date_add keeps
    # resolving; translate_athena_sql rewrites call sites whose first
    # argument is a unit string literal.
    """CREATE OR REPLACE TEMPORARY FUNCTION presto_date_add(
         unit STRING, n INT, d DATE)
       RETURNS DATE RETURN CASE lower(unit)
         WHEN 'day' THEN date_add(d, n)
         WHEN 'week' THEN date_add(d, 7 * n)
         WHEN 'month' THEN add_months(d, n)
         WHEN 'quarter' THEN add_months(d, 3 * n)
         WHEN 'year' THEN add_months(d, 12 * n)
       END""",
    # Presto string position (1-based, 0 = absent) — same as Spark instr
    """CREATE OR REPLACE TEMPORARY FUNCTION strpos(s STRING, sub STRING)
       RETURNS INT RETURN CAST(instr(s, sub) AS INT)""",
)


# Sessions that already hold the shims. Temporary functions belong to
# one session (``spark.newSession()`` starts without them), and a
# stopped session drops out of the set with its last reference.
_SHIMMED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()
_SHIMMED_LOCK = threading.Lock()


def register_presto_compat(spark: SparkSession) -> None:
    """Install the Presto scalar-function shims as temp SQL UDFs, once
    per session: the first call on a session runs the CREATE OR REPLACE
    statements, later calls on it issue no ``spark.sql``."""
    with _SHIMMED_LOCK:
        if spark in _SHIMMED:
            return
        for stmt in _COMPAT_FUNCTIONS:
            spark.sql(stmt)
        _SHIMMED.add(spark)


# ---------------------------------------------------------------------------
# syntax translation
# ---------------------------------------------------------------------------

# Aggregate-function spellings that differ by name only. Applied as
# whole-word renames at call sites (outside string literals); SQL UDFs can't
# define aggregates, hence textual.
_FUNCTION_RENAMES: tuple[tuple[str, str], ...] = (
    ("approx_distinct", "approx_count_distinct"),
    ("arbitrary", "any_value"),
)

_SINGLE_QUOTED = re.compile(r"'(?:[^']|'')*'")
_DOUBLE_QUOTED = re.compile(r'"([^"]*)"')


def translate_athena_sql(
    sql: str,
    *,
    strip_databases: tuple[str, ...] = ("data_lake_db",),
) -> str:
    """Rewrite Athena/Presto SQL into Spark SQL.

    Handles every construct the reference's SQL surface uses
    (``queries/*.sql``, ``src/Athena/weekly_earnings.sql``, the lambda
    f-strings): double-quoted identifiers, ``"db"."table"`` two-part names
    (flattened — this engine registers flat views, catalog.register_views),
    unit-based ``DATE_ADD``, and renamed aggregate functions. Everything
    inside single-quoted string literals is preserved byte-for-byte.
    """
    # 1. shelter string literals ('' escape included) behind placeholders
    literals: list[str] = []

    def _shelter(m: re.Match) -> str:
        literals.append(m.group(0))
        return f"\x00L{len(literals) - 1}\x00"

    out = _SINGLE_QUOTED.sub(_shelter, sql)

    # 2. double-quoted identifiers -> backticks (Presto quoting; Spark's
    #    default parser reads "x" as a string literal, not an identifier)
    out = _DOUBLE_QUOTED.sub(lambda m: f"`{m.group(1)}`", out)

    # 3. flatten two-part names for configured databases:
    #    `data_lake_db`.`t` -> `t`; data_lake_db.t -> t
    for db in strip_databases:
        out = re.sub(rf"`{re.escape(db)}`\s*\.\s*", "", out)
        out = re.sub(rf"\b{re.escape(db)}\s*\.\s*", "", out)

    # 4. function renames (word-boundary, call sites only)
    for presto_name, spark_name in _FUNCTION_RENAMES:
        out = re.sub(
            rf"\b{presto_name}\b(?=\s*\()", spark_name, out, flags=re.I
        )

    # 5. unit-based DATE_ADD: first argument is a (sheltered) string
    #    literal -> route to the presto_date_add shim. Two-arg day-count
    #    date_add(d, n) has no leading string literal and is untouched.
    out = re.sub(
        r"\bdate_add\s*\(\s*(?=\x00L\d+\x00)",
        "presto_date_add(",
        out,
        flags=re.I,
    )

    # 6. restore string literals
    return re.sub(r"\x00L(\d+)\x00", lambda m: literals[int(m.group(1))], out)


def run_athena_sql(
    spark: SparkSession,
    sql: str,
    *,
    strip_databases: tuple[str, ...] = ("data_lake_db",),
) -> DataFrame:
    """Execute an Athena/Presto-dialect query unchanged: install the
    function shims, translate the syntax, run through ``spark.sql``.

    Tables are resolved against the session catalog — register inputs
    first (``catalog.register_views`` is the Glue-crawler equivalent).
    """
    register_presto_compat(spark)
    return spark.sql(
        translate_athena_sql(sql, strip_databases=strip_databases)
    )
