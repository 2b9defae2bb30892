"""DuckDB oracles for the dashboard endpoints, parametrized over the
request grid in ``gen.py`` and the version of the streamate table read.

The SQL mirrors the fixed-parameter oracles beside the endpoint
registry entries, generalized to every parameter the endpoints take:
date window, location/user filter, platform, sort key and page. It is
kept in the benchmark's own files so a change to the program cannot
change what its outputs are checked against. Answers are compared the
way the test suite compares them: columns by name, rows sorted, floats
bit-identical.
"""

from __future__ import annotations

import hashlib
import math
import os
from typing import Any, Iterable, Optional

TABLES = ("customer", "nation", "orders")
_J_PRI = "('1-URGENT', '2-HIGH')"
_M = "CAST(FLOOR(({x}) * 1000000.0) AS BIGINT)"
_SUM_M = "SUM(" + _M.format(x="total_earnings") + ")"
_JASMIN_PERF = f"""
  SELECT CAST(o_custkey AS VARCHAR) AS _id,
         STRFTIME(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS date,
         o_totalprice AS total_earnings,
         CAST(o_orderkey % 86400 AS BIGINT) AS online_seconds
  FROM orders WHERE o_orderpriority IN {_J_PRI}"""


def _adapters(streamate_parquet: str) -> str:
    """The reference-domain adapter CTEs over the lake tables, with the
    streamate facts read from ``streamate_parquet``, the parquet glob of
    one published version of the versioned table."""
    streamate = (
        "SELECT _id, date, total_earnings, online_seconds "
        f"FROM read_parquet('{streamate_parquet}')"
    )
    return f"""
users AS (
  SELECT CAST(c_custkey AS VARCHAR) AS _id, c_name AS artisticname,
         n_name AS city, c_mktsegment AS office,
         'R' || CAST(c_custkey % 10 AS VARCHAR) AS room,
         'pic_' || CAST(c_custkey AS VARCHAR) AS picture,
         's' || CAST(c_custkey AS VARCHAR) || '@x.com' AS streamateuser,
         'j' || CAST(c_custkey AS VARCHAR) || '@x.com' AS jasminuser
  FROM customer JOIN nation ON c_nationkey = n_nationkey
),
jasmin_perf AS ({_JASMIN_PERF}),
streamate_perf AS ({streamate}),
eap AS (
  SELECT CASE WHEN o_orderpriority IN {_J_PRI}
              THEN 'j' || CAST(o_custkey AS VARCHAR) || '@x.com'
              ELSE 's' || CAST(o_custkey AS VARCHAR) || '@x.com' END AS emailaddress,
         STRFTIME(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS date,
         o_totalprice AS payableamount
  FROM orders
)"""


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _loc_terms(locations) -> list[str]:
    out = []
    for loc in locations or []:
        if loc.get("officeName"):
            out.append(f"office = {_q(loc['officeName'])}")
        elif loc.get("cityName"):
            out.append(f"city = {_q(loc['cityName'])}")
    return out


def _or(terms: list[str]) -> str:
    return "(" + " OR ".join(terms) + ")" if terms else "TRUE"


def _perf(platform: Optional[str]) -> str:
    if platform == "jasmin":
        return "SELECT * FROM jasmin_perf"
    if platform == "streamate":
        return "SELECT * FROM streamate_perf"
    return "SELECT * FROM jasmin_perf UNION ALL SELECT * FROM streamate_perf"


def _between(p: dict, col: str = "CAST(p.date AS DATE)") -> str:
    return f"{col} BETWEEN DATE '{p['start_date']}' AND DATE '{p['end_date']}'"


_GAUGE_COLOR = (
    "CASE b.t WHEN 'Toy' THEN '#21619A' WHEN 'Privada' THEN '#EB933D' "
    "WHEN 'Total' THEN '#219E0D' ELSE '#000000' END AS color"
)
_BASE = "base AS (SELECT 'Toy' AS t UNION ALL SELECT 'Privada' UNION ALL SELECT '{last}')"


def _earnings(p: dict) -> str:
    cond = _or(_loc_terms(p["locations"]) + _user_term(p))
    sides = []
    for plat, label in (("jasmin", "Jasmin"), ("streamate", "Streamate")):
        if p["platform"] in (None, plat):
            sides.append(
                f"SELECT x.date, x.total_earnings, '{label}' AS source "
                f"FROM {plat}_perf x JOIN u ON x._id = u._id "
                f"WHERE CAST(x.date AS DATE) >= DATE '{p['start_date']}'"
            )
    col = "CAST(COALESCE(SUM(CASE WHEN source = '{s}' THEN {m} END), 0) AS DOUBLE) / 1000000.0"
    m = _M.format(x="total_earnings")
    return f"""
u AS (SELECT _id FROM users WHERE {cond}),
both_src AS ({' UNION ALL '.join(sides)})
SELECT date AS report_date, {col.format(s='Jasmin', m=m)} AS jasmin,
       {col.format(s='Streamate', m=m)} AS streamate
FROM both_src GROUP BY 1"""


def _user_term(p: dict) -> list[str]:
    return [f"_id = {_q(p['user_selected'])}"] if p.get("user_selected") else []


_UNIT_SHIFT = {
    "day": ("DAY", 1, "CAST(DAYOFMONTH(d) AS BIGINT)"),
    "week": ("DAY", 7, "CAST(WEEKOFYEAR(d) AS BIGINT)"),
    "biweek": ("DAY", 14, "CAST(FLOOR(WEEKOFYEAR(d) / 2) AS BIGINT)"),
    "month": ("MONTH", 1, "CAST(MONTH(d) AS BIGINT)"),
    "quarter": ("MONTH", 3, "CAST(QUARTER(d) AS BIGINT)"),
    "year": ("MONTH", 12, "CAST(YEAR(d) AS BIGINT)"),
}


def time_unit(start: str, end: str) -> str:
    import datetime as dt

    days = (dt.date.fromisoformat(end) - dt.date.fromisoformat(start)).days
    for unit, top in (("day", 0), ("week", 7), ("biweek", 15), ("month", 30), ("quarter", 90)):
        if days <= top:
            return unit
    return "year"


def _needle(p: dict) -> str:
    unit = time_unit(p["start_date"], p["end_date"])
    part, n, bucket = _UNIT_SHIFT[unit]
    cond = _or(_loc_terms(p["locations"]) + _user_term(p))

    def shifted(d: str) -> str:
        return f"CAST(DATE '{d}' - INTERVAL {n} {part} AS DATE)"

    lo, hi = shifted(p["start_date"]), shifted(p["end_date"])
    return f"""
u AS (SELECT _id FROM users WHERE {cond}),
perf AS ({_perf(p['platform'])}),
pu AS (SELECT p.*, CAST(p.date AS DATE) AS d FROM perf p JOIN u ON p._id = u._id),
cur AS (SELECT CAST({_SUM_M} AS DOUBLE) / 1000000.0 AS current_value
        FROM pu p WHERE {_between(p, 'd')}),
hist AS (SELECT {bucket} AS period, {_SUM_M} AS s
         FROM pu WHERE d BETWEEN {lo} AND {hi} GROUP BY 1),
h AS (SELECT CAST(SUM(s) AS DOUBLE) / 1000000.0 / COUNT(s) AS target_value FROM hist)
SELECT current_value, target_value, '{unit}' AS time_unit FROM cur CROSS JOIN h"""


def _average_profitability(p: dict) -> str:
    cond = _or(_loc_terms(p["locations"]) + _user_term(p))
    e_m = "SUM(" + _M.format(x="COALESCE(total_earnings, 0.0)") + ")"
    return f"""
u AS (SELECT _id FROM users WHERE {cond}),
perf AS ({_perf(p['platform'])}),
te AS (SELECT 'Total' AS transmissionType, {e_m} AS e_m,
              SUM(COALESCE(online_seconds, 0)) AS secs
       FROM perf p JOIN u ON p._id = u._id WHERE {_between(p)}),
{_BASE.format(last='Total')}
SELECT b.t AS id, b.t AS label,
       CAST(e_m AS DOUBLE) / 1000000.0 AS total_value,
       CAST(secs AS DOUBLE) AS total_seconds,
       CAST(e_m AS DOUBLE) / 1000000.0 / (CAST(secs AS DOUBLE) / 3600) AS average_per_hour,
       {_GAUGE_COLOR}
FROM base b JOIN te ON b.t = te.transmissionType"""


def _total_profit_report(p: dict) -> str:
    cond = _or(_loc_terms(p["locations"]) + _user_term(p))
    m = "SUM(" + _M.format(x="COALESCE(total_earnings, 0.0)") + ")"
    return f"""
u AS (SELECT _id, office FROM users WHERE {cond}),
perf AS ({_perf(p['platform'])}),
per_office AS (SELECT 'Total' AS transmissionType, {m} AS m
               FROM perf p JOIN u ON p._id = u._id WHERE {_between(p)}
               GROUP BY u.office),
{_BASE.format(last='Total')}
SELECT b.t AS id, b.t AS label,
       CAST(COALESCE(SUM(m), 0) AS DOUBLE) / 1000000.0 AS value, {_GAUGE_COLOR}
FROM base b LEFT JOIN per_office po ON b.t = po.transmissionType GROUP BY b.t"""


def _profit_avg(p: dict) -> str:
    cond = _or(_loc_terms(p["locations"]))
    m = "SUM(" + _M.format(x="COALESCE(payableamount, 0.0)") + ")"
    return f"""
us AS (SELECT * FROM users WHERE {cond}),
eap_d AS (SELECT * FROM eap p WHERE {_between(p)}),
matched AS (
  SELECT us.office, e.payableamount FROM eap_d e JOIN us ON e.emailaddress = us.streamateuser
  UNION ALL
  SELECT us.office, e.payableamount FROM eap_d e JOIN us ON e.emailaddress = us.jasminuser
),
per_office AS (SELECT 'Otros' AS transmissionType, {m} AS m FROM matched GROUP BY office),
{_BASE.format(last='Otros')}
SELECT b.t AS id, b.t AS label,
       COALESCE(CAST(SUM(m) AS DOUBLE) / 1000000.0 / COUNT(m), 0.0) AS value,
       CASE b.t WHEN 'Toy' THEN '#BD0909' WHEN 'Privada' THEN '#EB8326'
                WHEN 'Otros' THEN '#C9370F' ELSE '#000000' END AS color
FROM base b LEFT JOIN per_office po ON b.t = po.transmissionType GROUP BY b.t"""


def _models_earning_distribution(p: dict) -> str:
    cond = _or(_loc_terms(p["locations"]) + _user_term(p))
    order = p["sort_key"]
    return f"""
us AS (SELECT * FROM users WHERE {cond}),
perf AS ({_perf(p['platform'])}),
ranked AS (
  SELECT us.artisticname, MAX(us.picture) AS picture, MAX(us.city) AS city,
         MAX(us.office) AS office, {_SUM_M} AS m
  FROM perf p JOIN us ON p._id = us._id WHERE {_between(p)} GROUP BY 1
),
with_rank AS (
  SELECT *, CAST(FLOOR(CAST(m AS DOUBLE) / 1000000.0 * 100 + 0.5) AS BIGINT) AS c,
         ROW_NUMBER() OVER (ORDER BY m {order}, artisticname ASC) AS ranking
  FROM ranked
),
relabeled AS (
  SELECT CASE WHEN ranking <= 5 THEN artisticname ELSE 'General' END AS artisticname,
         CASE WHEN ranking <= 5 THEN picture ELSE '' END AS picture,
         CASE WHEN ranking <= 5 THEN city ELSE '' END AS city,
         CASE WHEN ranking <= 5 THEN office ELSE '' END AS office, c
  FROM with_rank
),
regrouped AS (
  SELECT artisticname, MAX(picture) AS picture, MAX(city) AS city,
         MAX(office) AS office, SUM(c) AS c2
  FROM relabeled GROUP BY 1
)
SELECT artisticname, picture, city, office,
       CAST(c2 AS DOUBLE) / 100 AS total_earnings,
       FLOOR((CAST(c2 AS DOUBLE) / 100 / (CAST(SUM(c2) OVER () AS DOUBLE) / 100) * 100)
             * 100 + 0.5) / 100.0 AS percentage
FROM regrouped"""


def _earnings_by_day_of_week(p: dict) -> str:
    # the endpoint ORs locations only; a selected user narrows the result
    cond = _or(_loc_terms(p["locations"]))
    user = _user_term(p)
    user_and = f" AND p.{user[0]}" if user else ""
    return f"""
u AS (SELECT _id FROM users WHERE {cond}),
perf AS ({_perf(p['platform'])}),
combined AS (
  SELECT p.*, CAST(p.date AS DATE) AS d FROM perf p JOIN u ON p._id = u._id
  WHERE {_between(p)}{user_and}
),
grouped AS (
  SELECT CAST(ISODOW(d) AS BIGINT) AS day_number, {_SUM_M} AS m,
         COUNT(DISTINCT d) AS active_days
  FROM combined GROUP BY 1
),
scored AS (
  SELECT day_number,
         FLOOR(CAST(m AS DOUBLE) / 1000000.0 * 100 + 0.5) / 100.0 AS total,
         FLOOR(CAST(m AS DOUBLE) / 1000000.0 / active_days * 100 + 0.5) AS avg_c
  FROM grouped
)
SELECT CASE day_number WHEN 1 THEN 'Lun' WHEN 2 THEN 'Mar' WHEN 3 THEN 'Mié'
            WHEN 4 THEN 'Jue' WHEN 5 THEN 'Vie' WHEN 6 THEN 'Sáb'
            WHEN 7 THEN 'Dom' END AS dow,
       total, CAST(avg_c AS DOUBLE) / 100 AS average_per_day,
       FLOOR((CAST(avg_c AS DOUBLE) / 100
              / (CAST(SUM(avg_c) OVER () AS DOUBLE) / 100) * 100) * 100 + 0.5)
         / 100.0 AS percentage
FROM scored"""


def _detailed_ranking(p: dict) -> str:
    cond = _or(_loc_terms(p["locations"]))

    def side(plat: str) -> str:
        return f"""
  SELECT us._id, us.artisticname, us.city, us.office, us.room, us.picture,
         {_SUM_M} AS m, SUM(CAST(online_seconds AS BIGINT)) AS t
  FROM {plat}_perf p JOIN us ON p._id = us._id WHERE {_between(p)}
  GROUP BY 1, 2, 3, 4, 5, 6"""

    return f"""
us AS (SELECT * FROM users WHERE {cond}),
jd AS ({side('jasmin')}),
sd AS ({side('streamate')}),
flat AS (
  SELECT COALESCE(jd._id, sd._id) AS _id,
         COALESCE(jd.artisticname, sd.artisticname) AS artisticname,
         COALESCE(jd.city, sd.city) AS city,
         COALESCE(jd.office, sd.office) AS office,
         COALESCE(jd.room, sd.room) AS room,
         jd.picture AS picture,
         CAST(COALESCE(jd.m, 0) AS DOUBLE) / 1000000.0 AS jasmin_sales,
         CAST(COALESCE(jd.t, 0) AS BIGINT) AS jasmin_time,
         CAST(COALESCE(sd.m, 0) AS DOUBLE) / 1000000.0 AS streamate_sales,
         CAST(COALESCE(sd.t, 0) AS BIGINT) AS streamate_time,
         CAST(COALESCE(jd.m, 0) AS DOUBLE) / 1000000.0
           + CAST(COALESCE(sd.m, 0) AS DOUBLE) / 1000000.0 AS total_sales
  FROM jd FULL OUTER JOIN sd ON jd._id = sd._id
)
SELECT _id, artisticname, city, office, room, picture,
       jasmin_sales, jasmin_time, streamate_sales, streamate_time,
       FLOOR((jasmin_sales / total_sales * 100) * 100 + 0.5) / 100.0 AS jasmin_percentage,
       FLOOR((streamate_sales / total_sales * 100) * 100 + 0.5) / 100.0 AS streamate_percentage,
       total_sales
FROM flat WHERE jasmin_sales > 0 OR streamate_sales > 0
ORDER BY total_sales DESC, artisticname ASC
LIMIT {int(p['limit'])} OFFSET {(int(p['page']) - 1) * int(p['limit'])}"""


_SQL = {
    "earnings": _earnings,
    "needle": _needle,
    "average_profitability": _average_profitability,
    "total_profit_report": _total_profit_report,
    "profit_avg": _profit_avg,
    "models_earning_distribution": _models_earning_distribution,
    "earnings_by_day_of_week": _earnings_by_day_of_week,
    "detailed_ranking": _detailed_ranking,
}


def oracle_sql(p: dict, streamate_parquet: str) -> str:
    return f"WITH {_adapters(streamate_parquet)},{_SQL[p['endpoint']](p)}"


class Oracle:
    """A DuckDB connection with the lake tables present in ``sf_dir`` as
    views. It runs on one thread, so a check made beside Spark work takes
    one core from it, not all of them."""

    def __init__(self, sf_dir: str, tables: Iterable[str] = TABLES) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads = 1")
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def answer(self, p: dict, streamate_parquet: str) -> list[tuple]:
        return self.normalized(oracle_sql(p, streamate_parquet))

    def normalized(self, query: str) -> list[tuple]:
        cur = self.con.execute(query)
        return normalize([d[0] for d in cur.description], cur.fetchall())

    def sql(self, query: str) -> list[tuple]:
        return self.con.execute(query).fetchall()

    def close(self) -> None:
        self.con.close()


# --- comparison --------------------------------------------------------------


def _cell(v: Any) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, float):
        return "<nan>" if math.isnan(v) else repr(v)
    return str(v)


def normalize(columns: Iterable[str], rows: Iterable[Iterable[Any]]) -> list[tuple]:
    """Order-free canonical form: columns sorted by name, each cell as
    text (floats at full precision), rows sorted."""
    cols = list(columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple([cols[i] for i in order])]
    body = sorted(tuple(_cell(r[i]) for i in order) for r in rows)
    return out + body


def digest(norm: list[tuple]) -> str:
    return hashlib.sha1(repr(norm).encode()).hexdigest()
