"""Relational-core queries (SURVEY §2.2-§2.10) over the driver testdata.

Every operator the reference exercises is re-expressed Spark-first over the
TPC-H-ish star schema (FIXTURES.md §B maps reference tables → testdata
stand-ins: customer≈users dim, orders/lineitem≈model-performance facts,
o_orderpriority split≈jasmin/streamate platforms). Each entry pairs the
DataFrame implementation with bit-identical DuckDB oracle SQL.

Cross-engine determinism conventions (mirrored textually in each oracle):
- money sums use ``functions.exact`` floor-to-integer-micros (exact,
  associative — safe at any cluster size);
- dates are output as 'YYYY-MM-DD' strings (the reference's own
  date-as-string idiom, earnings.py:76);
- integer outputs are cast to long/BIGINT on both sides.

Beyond the reference's own operators, the family covers:
- window frames the reference computes client-side (running totals,
  period-over-period change, partitioned top-k, earningsByDayOfWeek.py
  and needle.py): each window partitions by a group key or runs over an
  already-aggregated dim-sized frame, never one global reducer;
- relational completeness (CUBE, semi/anti joins, INTERSECT/EXCEPT,
  string-function parity): semi/anti joins ship only the join key, CUBE
  expands grouping sets map-side before one shuffle;
- distribution analytics (NTILE deciles, exact percentiles) as
  single-shuffle window/aggregate plans;
- the salted skew join, oracle-proved result-equivalent to the plain
  equi-join while it spreads each hot key over ``n_salts`` partitions.

Reference citations are per-query in docstrings.
"""

from __future__ import annotations

from functools import reduce
from operator import or_

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_lake_spark.catalog import load_table
from data_lake_spark.functions.dates import dow_presto, week_presto
from data_lake_spark.functions.exact import (
    micros_to_amount,
    oracle_sum_exact,
    oracle_sum_micros,
    sum_exact,
    sum_micros,
)
from data_lake_spark.operators.partitioning import salted_join
from data_lake_spark.operators.ranking import (
    global_row_number,
    top_k,
    with_broadcast_scalar,
)
from data_lake_spark.queries import QuerySpec

REGISTRY: dict[str, QuerySpec] = {}

# ---------------------------------------------------------------------------
# shared fragments
# ---------------------------------------------------------------------------

DATE_A, DATE_B = "1996-01-01", "1996-12-31"


def _rev() -> Column:
    """Per-row revenue in IEEE double — identical in Spark and DuckDB."""
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


_REV_SQL = "l_extendedprice * (1 - l_discount)"
# exact money-sum fragments (see functions/exact.py)
_SUMX_PRICE = oracle_sum_exact("o_totalprice")
_SUMX_REV = oracle_sum_exact(_REV_SQL)
_SUMM_PRICE = oracle_sum_micros("o_totalprice")
_SUMM_REV = oracle_sum_micros(_REV_SQL)


def _d2s(col: str, alias: str) -> Column:
    """date → 'YYYY-MM-DD' string at the output edge."""
    return F.date_format(F.col(col), "yyyy-MM-dd").alias(alias)


def _orders_dated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders with a DATE-typed column, like the reference's
    CAST(x.date AS DATE) idiom (earnings.py:76)."""
    return load_table(spark, sf_dir, "orders").withColumn(
        "o_date", F.to_date("o_orderdate")
    )


def _lineitem_dated(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").withColumn(
        "l_date", F.to_date("l_shipdate")
    )


# ---------------------------------------------------------------------------
# flagship: earnings_by_day
# ---------------------------------------------------------------------------


def q_earnings_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (reference queries/earnings_by_day.sql:1-11): fact ⋈ dim
    with date-range + dimension predicates, daily SUM, ordered by day.

    Operators: J2 inner dim join (broadcast), P4 date-range, P8 conjunctive
    filter, P3 aliasing, A1 grouped sum, O1 order by.
    Mapping: orders≈performance fact, customer≈users, nation.n_name≈city.
    """
    orders = _orders_dated(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    dim = F.broadcast(
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    )
    return (
        orders.filter(F.col("o_date").between(F.lit(DATE_A), F.lit(DATE_B)))
        .join(dim, orders.o_custkey == dim.c_custkey, "inner")
        .filter(F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3"))
        .groupBy(_d2s("o_date", "report_date"))
        .agg(sum_exact("o_totalprice").alias("total_amount"))
        .orderBy("report_date")
    )


ORACLE_EARNINGS_BY_DAY = f"""
SELECT STRFTIME(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS report_date,
       {_SUMX_PRICE} AS total_amount
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '{DATE_A}' AND DATE '{DATE_B}'
  AND n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# projections / filters
# ---------------------------------------------------------------------------


def q_proj_filter_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 projection + P2 computed column + P3 alias + P8 conjunctive filter
    (reference silver_ingest_streamate_mock.py:90, bronze_ingest_streamate_mock.py:36).
    Row-level output — no aggregation — so per-row arithmetic must match."""
    li = _lineitem_dated(spark, sf_dir)
    return (
        li.filter(
            (F.col("l_date").between("1996-03-01", "1996-03-31"))
            & (F.col("l_quantity") > 45)
            & (F.col("l_returnflag") == "R")
        )
        .select(
            F.col("l_orderkey").alias("order_key"),
            F.col("l_linenumber").cast("long").alias("line_number"),
            _d2s("l_date", "ship_date"),
            _rev().alias("revenue"),
            F.lit("r1-batch").alias("processing_tag"),
        )
        .orderBy("order_key", "line_number")
    )


ORACLE_PROJ_FILTER = """
SELECT l_orderkey AS order_key,
       CAST(l_linenumber AS BIGINT) AS line_number,
       STRFTIME(CAST(l_shipdate AS DATE), '%Y-%m-%d') AS ship_date,
       l_extendedprice * (1 - l_discount) AS revenue,
       'r1-batch' AS processing_tag
FROM lineitem
WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1996-03-01' AND DATE '1996-03-31'
  AND l_quantity > 45 AND l_returnflag = 'R'
ORDER BY 1, 2
"""


def q_or_filter_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 dynamic OR-of-equalities (reference earnings.py:51-66): request
    params become an OR-joined Column expression — no string SQL, so the
    reference's quote-escaping (P9, earnings.py:56-63) is obviated."""
    segments = ["BUILDING", "MACHINERY"]  # «locations» param
    nations = [3, 7]  # «user_selected» param
    customer = load_table(spark, sf_dir, "customer")
    ors = reduce(
        or_,
        [F.col("c_mktsegment") == s for s in segments]
        + [F.col("c_nationkey") == n for n in nations],
    )
    return (
        customer.filter(ors & (F.col("c_acctbal") > 0))
        .select(
            "c_custkey",
            "c_name",
            F.col("c_nationkey").cast("long").alias("nation_key"),
            "c_mktsegment",
            "c_acctbal",
        )
        .orderBy("c_custkey")
    )


ORACLE_OR_FILTER = """
SELECT c_custkey, c_name, CAST(c_nationkey AS BIGINT) AS nation_key,
       c_mktsegment, c_acctbal
FROM customer
WHERE (c_mktsegment = 'BUILDING' OR c_mktsegment = 'MACHINERY'
       OR c_nationkey = 3 OR c_nationkey = 7)
  AND c_acctbal > 0
ORDER BY 1
"""


def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 point lookup on (id, seq) — the upsert dedup probe
    (reference ingestStreamateModelPerformance.py:80-84)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_orderkey") == 1) & (F.col("l_linenumber") == 1)).select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        "l_quantity",
        "l_extendedprice",
    )


ORACLE_POINT_LOOKUP = """
SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
       l_quantity, l_extendedprice
FROM lineitem WHERE l_orderkey = 1 AND l_linenumber = 1
"""


# ---------------------------------------------------------------------------
# joins
# ---------------------------------------------------------------------------


def q_left_join_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 left-outer equi-join (reference silver_ingest_streamate_mock.py:89-90:
    performer earnings ⟕ users). Grouped to keep the check compact; the
    null group proves the left-outer semantics."""
    orders = _orders_dated(spark, sf_dir)
    # drop some customers to force unmatched left rows
    customer = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 10 != 0)
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey, "left_outer")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            sum_exact("o_totalprice").alias("total_amount"),
        )
        .orderBy(F.col("segment").asc_nulls_first())
    )


ORACLE_LEFT_JOIN = f"""
SELECT c_mktsegment AS segment, COUNT(*) AS n_orders,
       {_SUMX_PRICE} AS total_amount
FROM orders
LEFT JOIN (SELECT * FROM customer WHERE c_custkey % 10 != 0) c
  ON o_custkey = c_custkey
GROUP BY 1 ORDER BY 1 NULLS FIRST
"""


def q_or_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 disjunctive OR-equi-join (reference profitAvg.py:84-85:
    ``emailaddress = streamateuser OR emailaddress = jasminuser``).

    Spark-first rewrite: a raw OR join degenerates to broadcast-nested-loop;
    at 100 TB the right plan is TWO hash joins UNIONed, deduped on the pair
    identity (rows matching both predicates must appear once). Both sides
    stay broadcastable/shuffle-friendly.
    """
    orders = _orders_dated(spark, sf_dir).filter(
        F.col("o_date").between("1996-01-01", "1996-01-31")
    )
    customer = load_table(spark, sf_dir, "customer")
    j1 = orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
    j2 = orders.join(F.broadcast(customer), orders.o_orderkey == customer.c_custkey)
    cols = ["o_orderkey", "c_custkey", "o_totalprice", "c_mktsegment"]
    pairs = j1.select(*cols).unionByName(j2.select(*cols)).distinct()
    return (
        pairs.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            sum_exact("o_totalprice").alias("total_amount"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE_OR_KEY_JOIN = f"""
WITH pairs AS (
  SELECT DISTINCT o_orderkey, c_custkey, o_totalprice, c_mktsegment
  FROM orders JOIN customer
    ON (o_custkey = c_custkey OR o_orderkey = c_custkey)
  WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-01-31'
)
SELECT c_mktsegment, COUNT(*) AS n_pairs,
       {_SUMX_PRICE} AS total_amount
FROM pairs GROUP BY 1 ORDER BY 1
"""


def q_full_outer_platforms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 full-outer of per-entity aggregates + COALESCE'd keys (reference
    detailedRanking.py:123-137: jasmin per-model sums ⟗ streamate per-model
    sums). Platforms ≈ l_linestatus 'O'/'F' splits of lineitem."""
    li = _lineitem_dated(spark, sf_dir).filter(
        F.col("l_date").between("1996-01-01", "1996-06-30")
    )

    def side(flag: str, label: str) -> DataFrame:
        return (
            li.filter(F.col("l_linestatus") == flag)
            .groupBy("l_suppkey")
            .agg(
                sum_exact(_rev()).alias(f"{label}_sales"),
                F.sum("l_quantity").alias(f"{label}_qty"),
            )
        )

    o, f_ = side("O", "open"), side("F", "finished")
    joined = o.join(f_, "l_suppkey", "full_outer")
    return joined.select(
        F.col("l_suppkey").alias("supp_key"),
        F.coalesce("open_sales", F.lit(0.0)).alias("open_sales"),
        F.coalesce("finished_sales", F.lit(0.0)).alias("finished_sales"),
        F.coalesce("open_qty", F.lit(0.0)).alias("open_qty"),
        F.coalesce("finished_qty", F.lit(0.0)).alias("finished_qty"),
    ).orderBy("supp_key")


ORACLE_FULL_OUTER = f"""
WITH li AS (SELECT * FROM lineitem
            WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-06-30'),
o AS (SELECT l_suppkey, {_SUMX_REV} AS open_sales,
             SUM(l_quantity) AS open_qty
      FROM li WHERE l_linestatus = 'O' GROUP BY 1),
f AS (SELECT l_suppkey, {_SUMX_REV} AS finished_sales,
             SUM(l_quantity) AS finished_qty
      FROM li WHERE l_linestatus = 'F' GROUP BY 1)
SELECT COALESCE(o.l_suppkey, f.l_suppkey) AS supp_key,
       COALESCE(open_sales, 0) AS open_sales,
       COALESCE(finished_sales, 0) AS finished_sales,
       COALESCE(open_qty, 0) AS open_qty,
       COALESCE(finished_qty, 0) AS finished_qty
FROM o FULL OUTER JOIN f ON o.l_suppkey = f.l_suppkey
ORDER BY 1
"""


def q_literal_dim_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 literal-dim driver + U2 inline VALUES + A10 COALESCE'd aggregate
    (reference totalProfitReport.py:81-97: 3-row dim LEFT JOIN aggregated
    subquery guarantees one row per category even when empty)."""
    from data_lake_spark.functions.localframe import values_df

    base = values_df(
        spark, [("O",), ("F",), ("Total",)], "category string"
    )
    li = _lineitem_dated(spark, sf_dir).filter(
        F.col("l_date").between("1997-01-01", "1997-03-31")
    )
    by_status = li.groupBy(F.col("l_linestatus").alias("category")).agg(
        sum_micros(_rev()).alias("rev_m")
    )
    total = li.agg(sum_micros(_rev()).alias("rev_m")).select(
        F.lit("Total").alias("category"), "rev_m"
    )
    agg = by_status.unionByName(total)
    # hint on the RIGHT side: Spark can't build-left a left-outer join,
    # so a broadcast hint on the preserved side is silently dropped
    return (
        base.join(F.broadcast(agg), "category", "left")
        .select(
            "category",
            micros_to_amount(F.coalesce(F.col("rev_m"), F.lit(0))).alias(
                "total_revenue"
            ),
        )
        .orderBy(
            F.when(F.col("category") == "Total", 1)
            .when(F.col("category") == "F", 2)
            .otherwise(3)
        )
    )


ORACLE_LITERAL_DIM = f"""
WITH base AS (SELECT 'O' AS category UNION ALL SELECT 'F' UNION ALL SELECT 'Total'),
li AS (SELECT l_linestatus, {_REV_SQL} AS rev FROM lineitem
       WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1997-01-01' AND DATE '1997-03-31'),
by_status AS (SELECT l_linestatus AS category, {oracle_sum_micros('rev')} AS rev_m
              FROM li GROUP BY 1),
tot AS (SELECT 'Total' AS category, {oracle_sum_micros('rev')} AS rev_m FROM li),
agg AS (SELECT * FROM by_status UNION ALL SELECT * FROM tot)
SELECT b.category,
       CAST(COALESCE(a.rev_m, 0) AS DOUBLE) / 1000000.0 AS total_revenue
FROM base b LEFT JOIN agg a USING (category)
ORDER BY CASE b.category WHEN 'Total' THEN 1 WHEN 'F' THEN 2 ELSE 3 END
"""


# ---------------------------------------------------------------------------
# aggregations
# ---------------------------------------------------------------------------


def q_global_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 global no-group SUM over a filtered range (reference needle.py:92-103)."""
    li = _lineitem_dated(spark, sf_dir)
    return li.filter(F.col("l_date").between(DATE_A, DATE_B)).agg(
        sum_exact(_rev()).alias("total_revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


ORACLE_GLOBAL_SUM = f"""
SELECT {_SUMX_REV} AS total_revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '{DATE_A}' AND DATE '{DATE_B}'
"""


def q_weekly_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 multi-key calendar aggregation (reference README.md:46-66,
    src/Athena/weekly_earnings.sql:1-6: group by nickname, YEAR, WEEK).
    Presto WEEK == ISO week == Spark weekofyear (§2.9 parity note)."""
    li = _lineitem_dated(spark, sf_dir)
    return (
        li.filter(F.col("l_date").between("1996-01-08", "1996-06-30"))
        .groupBy(
            F.col("l_returnflag").alias("flag"),
            F.year("l_date").cast("long").alias("y"),
            week_presto("l_date").alias("w"),
        )
        .agg(
            F.sum("l_quantity").alias("total_qty"),
            sum_exact(_rev()).alias("total_revenue"),
        )
        .orderBy("flag", "y", "w")
    )


ORACLE_WEEKLY_AGG = f"""
SELECT l_returnflag AS flag,
       CAST(YEAR(CAST(l_shipdate AS DATE)) AS BIGINT) AS y,
       CAST(WEEKOFYEAR(CAST(l_shipdate AS DATE)) AS BIGINT) AS w,
       SUM(l_quantity) AS total_qty,
       {_SUMX_REV} AS total_revenue
FROM lineitem
WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1996-01-08' AND DATE '1996-06-30'
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


def q_multi_agg_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 grouped multi-aggregate with MAX() attr collapse (reference
    detailedRanking.py:88-121: SUM(earnings), SUM(seconds), MAX(picture)…)."""
    orders = _orders_dated(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.filter(F.col("o_date").between(DATE_A, DATE_B))
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy(F.col("c_custkey").alias("model_id"))
        .agg(
            sum_exact("o_totalprice").alias("total_sales"),
            F.count(F.lit(1)).alias("n_orders"),
            F.max("c_name").alias("name"),
            F.max("c_mktsegment").alias("segment"),
        )
        .orderBy("model_id")
    )


ORACLE_MULTI_AGG = f"""
SELECT c_custkey AS model_id,
       {_SUMX_PRICE} AS total_sales,
       COUNT(*) AS n_orders,
       MAX(c_name) AS name, MAX(c_mktsegment) AS segment
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '{DATE_A}' AND DATE '{DATE_B}'
GROUP BY 1 ORDER BY 1
"""


def q_avg_of_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 two-level aggregate: per-period sums then AVG across periods
    (reference needle.py:104-136), with A9's bucketed period key.
    Inner sums stay in exact micros; the outer AVG divides once in double."""
    li = _lineitem_dated(spark, sf_dir)
    monthly = (
        li.filter(F.col("l_date").between("1996-01-01", "1997-12-31"))
        .groupBy(
            F.year("l_date").cast("long").alias("y"),
            F.month("l_date").cast("long").alias("m"),
        )
        .agg(sum_micros(_rev()).alias("s"))
    )
    return monthly.agg(
        (micros_to_amount(F.sum("s")) / F.count("s")).alias("avg_monthly_revenue"),
        F.count("s").alias("n_periods"),
    )


ORACLE_AVG_OF_SUMS = f"""
WITH monthly AS (
  SELECT CAST(YEAR(CAST(l_shipdate AS DATE)) AS BIGINT) AS y,
         CAST(MONTH(CAST(l_shipdate AS DATE)) AS BIGINT) AS m,
         {_SUMM_REV} AS s
  FROM lineitem
  WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
  GROUP BY 1, 2
)
SELECT CAST(SUM(s) AS DOUBLE) / 1000000.0 / COUNT(s) AS avg_monthly_revenue,
       COUNT(s) AS n_periods
FROM monthly
"""


def q_dow_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 COUNT(DISTINCT date) + A8 percentage-of-total + A9 GROUP BY
    expression + the Presto day_of_week parity shift (reference
    earningsByDayOfWeek.py:123-152; §2.9 off-by-one note).

    Percentage-of-total is a constant-partition window SUM over the
    grouped frame — the frame is bounded at 7 rows BY CONSTRUCTION
    (grouping key = day-of-week), so the single window partition can
    never become a reducer bottleneck at any data volume, and the whole
    query stays one pass (no checkpoint, no scalar cross join).
    """
    orders = _orders_dated(spark, sf_dir)
    grouped = (
        orders.filter(F.col("o_date").between(DATE_A, DATE_B))
        .groupBy(dow_presto("o_date").alias("dow_iso"))
        .agg(
            sum_micros("o_totalprice").alias("s_m"),
            F.countDistinct("o_date").alias("active_days"),
        )
    )
    w = Window.partitionBy(F.lit(0))
    amt = micros_to_amount(F.col("s_m"))
    return (
        grouped.select(
            "dow_iso",
            amt.alias("total_amount"),
            "active_days",
            (amt / F.col("active_days")).alias("avg_per_active_day"),
            (amt * 100 / micros_to_amount(F.sum("s_m").over(w))).alias("pct_of_total"),
        )
        .orderBy("dow_iso")
    )


ORACLE_DOW_DISTRIBUTION = f"""
WITH grouped AS (
  SELECT CAST(ISODOW(CAST(o_orderdate AS DATE)) AS BIGINT) AS dow_iso,
         {_SUMM_PRICE} AS s_m,
         COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS active_days
  FROM orders
  WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '{DATE_A}' AND DATE '{DATE_B}'
  GROUP BY 1
)
SELECT dow_iso,
       CAST(s_m AS DOUBLE) / 1000000.0 AS total_amount,
       active_days,
       CAST(s_m AS DOUBLE) / 1000000.0 / active_days AS avg_per_active_day,
       CAST(s_m AS DOUBLE) / 1000000.0 * 100
         / (CAST(SUM(s_m) OVER () AS DOUBLE) / 1000000.0) AS pct_of_total
FROM grouped ORDER BY 1
"""


def q_ratio_profitability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 ratio-of-aggregates: earnings per hour (reference
    averageProfitability.py:94: SUM(earnings)/(SUM(seconds)/3600)), with
    A10's COALESCE-in-SUM. l_quantity plays online_seconds (integral →
    plain double SUM is already exact)."""
    li = _lineitem_dated(spark, sf_dir)
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.filter(F.col("l_date").between(DATE_A, DATE_B))
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            sum_micros(F.coalesce(_rev(), F.lit(0.0))).alias("rev_m"),
            F.sum("l_quantity").alias("qty"),
        )
        .select(
            "nation",
            micros_to_amount(F.col("rev_m")).alias("total_revenue"),
            (micros_to_amount(F.col("rev_m")) / (F.col("qty") / 3600.0)).alias(
                "revenue_per_hour"
            ),
        )
        .orderBy("nation")
    )


ORACLE_RATIO = f"""
WITH grouped AS (
  SELECT n_name AS nation,
         {oracle_sum_micros(f'COALESCE({_REV_SQL}, 0.0)')} AS rev_m,
         SUM(l_quantity) AS qty
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '{DATE_A}' AND DATE '{DATE_B}'
  GROUP BY 1
)
SELECT nation,
       CAST(rev_m AS DOUBLE) / 1000000.0 AS total_revenue,
       CAST(rev_m AS DOUBLE) / 1000000.0 / (qty / 3600.0) AS revenue_per_hour
FROM grouped ORDER BY 1
"""


# ---------------------------------------------------------------------------
# window / ranking / top-k
# ---------------------------------------------------------------------------


def q_rank_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 the reference's only window fn: ROW_NUMBER() over global ORDER BY
    aggregated earnings (models_earning_distribution.py:100), plus O3
    multi-key sort. Ranked with the two-phase distributed ROW_NUMBER
    (operators/ranking.py): range-repartition on the sort keys, rank
    locally, add broadcast per-partition offsets — no single-reducer
    window even when the artist dimension grows 100×. Ranking on exact
    micros (long) with the artist tie-break makes the order total, so the
    two-phase ranks are bit-identical to the global window's."""
    orders = _orders_dated(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer")
    per_model = (
        orders.filter(F.col("o_date").between(DATE_A, DATE_B))
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy(F.col("c_name").alias("artist"))
        .agg(sum_micros("o_totalprice").alias("s_m"))
    )
    ranked = global_row_number(
        per_model, [F.col("s_m").desc(), F.col("artist").asc()], "ranking"
    )
    return (
        ranked.select(
            "ranking", "artist", micros_to_amount(F.col("s_m")).alias("total_earnings")
        )
        .orderBy("ranking")
    )


ORACLE_RANK_MODELS = f"""
WITH per_model AS (
  SELECT c_name AS artist, {_SUMM_PRICE} AS s_m
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '{DATE_A}' AND DATE '{DATE_B}'
  GROUP BY 1
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY s_m DESC, artist ASC) AS BIGINT) AS ranking,
       artist, CAST(s_m AS DOUBLE) / 1000000.0 AS total_earnings
FROM per_model ORDER BY 1
"""


def q_top5_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 + O4: keep top-5 by rank, remap the tail to 'General', re-group
    (reference models_earning_distribution.py:117-137), with A8
    percentage-of-total on the re-grouped result. Micros stay exact through
    BOTH aggregation levels. Top-5 membership comes from a
    TakeOrderedAndProject (operators/ranking.top_k) broadcast back against
    the aggregate — no global window; per_model is checkpointed once so
    the membership probe doesn't recompute the fact aggregation. The
    percentage denominator is a broadcast scalar aggregate for the same
    reason."""
    orders = _orders_dated(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer")
    per_model = (
        orders.filter(F.col("o_date").between(DATE_A, DATE_B))
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy(F.col("c_name").alias("artist"))
        .agg(sum_micros("o_totalprice").alias("s_m"))
        .localCheckpoint(eager=False)
    )
    top5 = top_k(
        per_model, [F.col("s_m").desc(), F.col("artist").asc()], 5
    ).select("artist", F.lit(True).alias("_top"))
    relabeled = per_model.join(F.broadcast(top5), "artist", "left").select(
        F.when(F.col("_top"), F.col("artist")).otherwise("General").alias("artist"),
        "s_m",
    )
    regrouped = relabeled.groupBy("artist").agg(F.sum("s_m").alias("s2_m"))
    total = regrouped.agg(F.sum("s2_m").alias("_tot_m"))
    amt = micros_to_amount(F.col("s2_m"))
    return (
        with_broadcast_scalar(regrouped, total)
        .select(
            "artist",
            amt.alias("total_earnings"),
            (amt * 100 / micros_to_amount(F.col("_tot_m"))).alias("pct_of_total"),
        )
        .orderBy(F.col("total_earnings").desc(), F.col("artist"))
    )


ORACLE_TOP5 = f"""
WITH per_model AS (
  SELECT c_name AS artist, {_SUMM_PRICE} AS s_m
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '{DATE_A}' AND DATE '{DATE_B}'
  GROUP BY 1
),
ranked AS (
  SELECT artist, s_m, ROW_NUMBER() OVER (ORDER BY s_m DESC, artist ASC) AS rk
  FROM per_model
),
regrouped AS (
  SELECT CASE WHEN rk <= 5 THEN artist ELSE 'General' END AS artist,
         SUM(s_m) AS s2_m
  FROM ranked GROUP BY 1
)
SELECT artist, CAST(s2_m AS DOUBLE) / 1000000.0 AS total_earnings,
       CAST(s2_m AS DOUBLE) / 1000000.0 * 100
         / (CAST(SUM(s2_m) OVER () AS DOUBLE) / 1000000.0) AS pct_of_total
FROM regrouped ORDER BY 2 DESC, 1
"""


def q_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 pagination done IN the engine (reference detailedRanking.py:223-235
    slices collected rows client-side — the anti-pattern; Spark ≥3.4 has
    offset/limit on a deterministic sort) + O6 post-agg HAVING filter
    (detailedRanking.py:220-221)."""
    li = _lineitem_dated(spark, sf_dir).filter(
        F.col("l_date").between("1996-01-01", "1996-06-30")
    )
    per_supp = (
        li.groupBy(F.col("l_suppkey").alias("supp_key"))
        .agg(
            sum_micros(_rev()).alias("s_m"),
            F.sum("l_quantity").alias("total_qty"),
        )
        .filter(F.col("s_m") > 0)  # HAVING
    )
    page, limit = 2, 10
    return (
        per_supp.select(
            "supp_key",
            micros_to_amount(F.col("s_m")).alias("total_sales"),
            "total_qty",
        )
        .orderBy(F.col("total_sales").desc(), F.col("supp_key").asc())
        .offset((page - 1) * limit)
        .limit(limit)
    )


ORACLE_PAGINATION = f"""
WITH per_supp AS (
  SELECT l_suppkey AS supp_key,
         {_SUMM_REV} AS s_m,
         SUM(l_quantity) AS total_qty
  FROM lineitem
  WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-06-30'
  GROUP BY 1
  HAVING {_SUMM_REV} > 0
)
SELECT supp_key, CAST(s_m AS DOUBLE) / 1000000.0 AS total_sales, total_qty
FROM per_supp
ORDER BY 2 DESC, 1 ASC
LIMIT 10 OFFSET 10
"""


# ---------------------------------------------------------------------------
# set ops / union platforms / pivot series
# ---------------------------------------------------------------------------


def q_earnings_series_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 UNION ALL of two platform facts + the §2.13 pivot-to-series
    post-processing folded into the engine (reference earnings.py:93-114
    union; earnings.py:162-213 per-platform date series with null-fill).
    Platforms ≈ o_orderpriority '1-URGENT' (jasmin) vs '5-LOW' (streamate)."""
    orders = _orders_dated(spark, sf_dir).filter(
        F.col("o_date").between("1996-01-01", "1996-03-31")
    )
    jasmin = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_date", "o_totalprice", F.lit("jasmin").alias("source")
    )
    streamate = orders.filter(F.col("o_orderpriority") == "5-LOW").select(
        "o_date", "o_totalprice", F.lit("streamate").alias("source")
    )
    both = jasmin.unionByName(streamate)
    pivoted = (
        both.groupBy(_d2s("o_date", "report_date"))
        .pivot("source", ["jasmin", "streamate"])
        .agg(sum_micros("o_totalprice"))
    )
    return pivoted.select(
        "report_date",
        micros_to_amount(F.coalesce(F.col("jasmin"), F.lit(0))).alias("jasmin"),
        micros_to_amount(F.coalesce(F.col("streamate"), F.lit(0))).alias("streamate"),
    ).orderBy("report_date")


ORACLE_SERIES_PIVOT = f"""
WITH both_src AS (
  SELECT STRFTIME(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS report_date,
         o_totalprice, 'jasmin' AS source
  FROM orders WHERE o_orderpriority = '1-URGENT'
    AND CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-03-31'
  UNION ALL
  SELECT STRFTIME(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS report_date,
         o_totalprice, 'streamate' AS source
  FROM orders WHERE o_orderpriority = '5-LOW'
    AND CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-03-31'
)
SELECT report_date,
       CAST(COALESCE(SUM(CASE WHEN source = 'jasmin'
                              THEN CAST(FLOOR(o_totalprice * 1000000.0) AS BIGINT)
                         END), 0) AS DOUBLE) / 1000000.0 AS jasmin,
       CAST(COALESCE(SUM(CASE WHEN source = 'streamate'
                              THEN CAST(FLOOR(o_totalprice * 1000000.0) AS BIGINT)
                         END), 0) AS DOUBLE) / 1000000.0 AS streamate
FROM both_src GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# dedup / scalar parity / nested / json
# ---------------------------------------------------------------------------


def q_dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1/A12/D4 keep-latest-per-key dedup, the scale-safe form of
    ``dropDuplicates([keys])`` (reference bronze_ingest_streamate_mock.py:42-48,
    BronzeIngestUsers.py:69-77): window row_number over (key ORDER BY
    recency, unique tiebreak) — deterministic on any cluster. events.ts is
    long nanos here (catalog._normalize) — ordering is identical."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("user_id", "event_type")
    )


ORACLE_DEDUP_LATEST = """
SELECT event_id, user_id, event_type, value
FROM events
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                           ORDER BY ts DESC, event_id DESC) = 1
ORDER BY user_id, event_type
"""


def q_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 date-function parity surface: YEAR/MONTH/WEEK/day_of_week/
    QUARTER/EXTRACT over every distinct date (reference needle.py:113-129,
    earningsByDayOfWeek.py:123, README.md:48-66). The dow_iso column is the
    Presto↔Spark off-by-one trap, tested date-by-date."""
    orders = _orders_dated(spark, sf_dir)
    return (
        orders.select(F.col("o_date").alias("d"))
        .distinct()
        .select(
            _d2s("d", "d"),
            F.year("d").cast("long").alias("y"),
            F.quarter("d").cast("long").alias("q"),
            F.month("d").cast("long").alias("m"),
            week_presto("d").alias("wk"),
            dow_presto("d").alias("dow_iso"),
            F.dayofmonth("d").cast("long").alias("dom"),
        )
        .orderBy("d")
    )


ORACLE_DATE_PARTS = """
SELECT STRFTIME(d, '%Y-%m-%d') AS d,
       CAST(YEAR(d) AS BIGINT) AS y, CAST(QUARTER(d) AS BIGINT) AS q,
       CAST(MONTH(d) AS BIGINT) AS m, CAST(WEEKOFYEAR(d) AS BIGINT) AS wk,
       CAST(ISODOW(d) AS BIGINT) AS dow_iso, CAST(DAYOFMONTH(d) AS BIGINT) AS dom
FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders)
ORDER BY 1
"""


def q_nested_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N1 triple-nested flatten via explode — replaces the reference's
    collect()-to-driver loop (silver_ingest_streamate_mock.py:46-86, the
    anti-pattern SURVEY §4 flags). We first BUILD the nested shape
    (orders→array<struct<lineitem>>, like studios→performers→earnings) then
    flatten it back with explode and aggregate; the oracle is the direct
    relational equivalent, proving explode loses nothing."""
    li = _lineitem_dated(spark, sf_dir).filter(
        F.col("l_date").between("1996-01-01", "1996-01-31")
    )
    nested = li.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("l_linenumber").alias("line"),
                    F.col("l_quantity").alias("qty"),
                    _rev().alias("rev"),
                    F.col("l_returnflag").alias("flag"),
                )
            )
        ).alias("items")
    )
    flat = nested.select("l_orderkey", F.explode("items").alias("it")).select(
        "l_orderkey", "it.line", "it.qty", "it.rev", "it.flag"
    )
    return (
        flat.groupBy(F.col("flag"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("qty").alias("total_qty"),
            sum_exact("rev").alias("total_revenue"),
        )
        .orderBy("flag")
    )


ORACLE_NESTED_FLATTEN = f"""
SELECT l_returnflag AS flag, COUNT(*) AS n_items, SUM(l_quantity) AS total_qty,
       {_SUMX_REV} AS total_revenue
FROM lineitem
WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-01-31'
GROUP BY 1 ORDER BY 1
"""


def q_json_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1-adjacent: JSON payload parsing pushed into the engine (reference
    bronze_ingest_streamate_mock.py:28-33 parses an API JSON payload).
    events.props is a JSON string column → typed extraction + aggregate."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("k_sum"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


ORACLE_JSON_PAYLOAD = """
SELECT event_type,
       CAST(SUM(CAST(REGEXP_EXTRACT(props, '[0-9]+', 0) AS BIGINT)) AS BIGINT) AS k_sum,
       COUNT(*) AS n_events
FROM events GROUP BY 1 ORDER BY 1
"""


def q_rollup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals in one pass: year → month → grand total via
    ROLLUP (the subtotal family the reference assembles with separate
    UNION ALL queries, e.g. totalProfitReport.py:81-97's literal-dim +
    per-category subqueries — here it's one shuffle with partial aggs).
    Keys are coalesced to 'ALL' in both engines so no nullable-int dtype
    ambiguity reaches the compare."""
    orders = _orders_dated(spark, sf_dir)
    return (
        orders.rollup(
            F.year("o_date").cast("string").alias("y"),
            F.month("o_date").cast("string").alias("m"),
        )
        .agg(
            sum_exact("o_totalprice").alias("total_amount"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.coalesce("y", F.lit("ALL")).alias("year_key"),
            F.coalesce("m", F.lit("ALL")).alias("month_key"),
            "total_amount",
            "n_orders",
        )
        .orderBy("year_key", "month_key")
    )


ORACLE_ROLLUP_REPORT = f"""
SELECT COALESCE(CAST(YEAR(CAST(o_orderdate AS DATE)) AS VARCHAR), 'ALL') AS year_key,
       COALESCE(CAST(MONTH(CAST(o_orderdate AS DATE)) AS VARCHAR), 'ALL') AS month_key,
       {_SUMX_PRICE} AS total_amount,
       COUNT(*) AS n_orders
FROM orders
GROUP BY ROLLUP(YEAR(CAST(o_orderdate AS DATE)), MONTH(CAST(o_orderdate AS DATE)))
ORDER BY 1, 2
"""

REGISTRY["earnings_by_day"] = QuerySpec(
    q_earnings_by_day, ORACLE_EARNINGS_BY_DAY, "flagship J2+P4+P8+A1+O1"
)
REGISTRY["proj_filter_compute"] = QuerySpec(
    q_proj_filter_compute, ORACLE_PROJ_FILTER, "P1+P2+P3+P8"
)
REGISTRY["or_filter_dim"] = QuerySpec(
    q_or_filter_dim, ORACLE_OR_FILTER, "P6 dynamic OR filters"
)
REGISTRY["point_lookup"] = QuerySpec(q_point_lookup, ORACLE_POINT_LOOKUP, "P7")
REGISTRY["left_join_dim"] = QuerySpec(
    q_left_join_dim, ORACLE_LEFT_JOIN, "J1 left outer"
)
REGISTRY["or_key_join"] = QuerySpec(
    q_or_key_join, ORACLE_OR_KEY_JOIN, "J4 disjunctive join via union rewrite"
)
REGISTRY["full_outer_platforms"] = QuerySpec(
    q_full_outer_platforms, ORACLE_FULL_OUTER, "J5 full outer + coalesce"
)
REGISTRY["literal_dim_report"] = QuerySpec(
    q_literal_dim_report, ORACLE_LITERAL_DIM, "J6+U2+A10"
)
REGISTRY["global_sum"] = QuerySpec(q_global_sum, ORACLE_GLOBAL_SUM, "A4")
REGISTRY["weekly_agg"] = QuerySpec(q_weekly_agg, ORACLE_WEEKLY_AGG, "A2 calendar keys")
REGISTRY["multi_agg_attrs"] = QuerySpec(
    q_multi_agg_attrs, ORACLE_MULTI_AGG, "A3 sum+count+max"
)
REGISTRY["avg_of_sums"] = QuerySpec(q_avg_of_sums, ORACLE_AVG_OF_SUMS, "A5 two-level")
REGISTRY["dow_distribution"] = QuerySpec(
    q_dow_distribution, ORACLE_DOW_DISTRIBUTION, "A6+A8+A9+dow parity"
)
REGISTRY["ratio_profitability"] = QuerySpec(
    q_ratio_profitability, ORACLE_RATIO, "A7+A10"
)
REGISTRY["rank_models"] = QuerySpec(q_rank_models, ORACLE_RANK_MODELS, "W1+O3")
REGISTRY["top5_distribution"] = QuerySpec(q_top5_distribution, ORACLE_TOP5, "A11+O4+A8")
REGISTRY["pagination"] = QuerySpec(q_pagination, ORACLE_PAGINATION, "O5+O6")
REGISTRY["earnings_series_pivot"] = QuerySpec(
    q_earnings_series_pivot, ORACLE_SERIES_PIVOT, "U1 + §2.13 pivot"
)
REGISTRY["dedup_keep_latest"] = QuerySpec(
    q_dedup_keep_latest, ORACLE_DEDUP_LATEST, "D1/D4 keep-latest"
)
REGISTRY["date_parts"] = QuerySpec(q_date_parts, ORACLE_DATE_PARTS, "§2.9 parity")
REGISTRY["nested_flatten"] = QuerySpec(
    q_nested_flatten, ORACLE_NESTED_FLATTEN, "N1 explode"
)
REGISTRY["json_payload"] = QuerySpec(
    q_json_payload, ORACLE_JSON_PAYLOAD, "S1 JSON parse"
)
REGISTRY["rollup_report"] = QuerySpec(
    q_rollup_report, ORACLE_ROLLUP_REPORT, "ROLLUP year/month/grand subtotals"
)


# ---------------------------------------------------------------------------
# running_total — cumulative revenue per platform over the date axis
# ---------------------------------------------------------------------------


def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative daily revenue per returnflag: the reference's
    running-total post-processing (earningsByDayOfWeek.py:219-233) as a
    frame window. Sums stay in exact integer micros through the window, so
    the cumulative value is bit-identical at any partitioning; converted
    to double only at the output edge."""
    li = _lineitem_dated(spark, sf_dir)
    daily = (
        li.filter(F.col("l_date").between(DATE_A, "1996-03-31"))
        .groupBy(F.col("l_returnflag").alias("flag"), "l_date")
        .agg(sum_micros(_rev()).alias("rev_u"))
    )
    w = (
        Window.partitionBy("flag")
        .orderBy("l_date")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "flag",
        _d2s("l_date", "report_date"),
        micros_to_amount(F.col("rev_u")).alias("day_revenue"),
        micros_to_amount(F.sum("rev_u").over(w)).alias("cum_revenue"),
    ).orderBy("flag", "report_date")


ORACLE_RUNNING_TOTAL = f"""
WITH daily AS (
  SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS d,
         {_SUMM_REV} AS rev_u
  FROM lineitem
  WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '{DATE_A}' AND DATE '1996-03-31'
  GROUP BY 1, 2
)
SELECT flag, STRFTIME(d, '%Y-%m-%d') AS report_date,
       CAST(rev_u AS DOUBLE) / 1000000.0 AS day_revenue,
       CAST(CAST(SUM(rev_u) OVER (PARTITION BY flag ORDER BY d) AS BIGINT)
            AS DOUBLE) / 1000000.0 AS cum_revenue
FROM daily ORDER BY flag, report_date
"""


# ---------------------------------------------------------------------------
# mom_change — month-over-month revenue change via lag
# ---------------------------------------------------------------------------


def q_mom_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month percentage change: the needle endpoint's
    period-over-period comparison (needle.py:104-136) as a lag window over
    monthly exact sums. The lag subtraction happens on the integer micros
    (exact), then one double division at the edge — mirrored textually in
    the oracle so the pct is bit-identical."""
    li = _lineitem_dated(spark, sf_dir)
    monthly = (
        li.filter(F.col("l_date").between(DATE_A, DATE_B))
        .groupBy(F.date_format("l_date", "yyyy-MM").alias("month"))
        .agg(sum_micros(_rev()).alias("rev_u"))
    )
    w = Window.orderBy("month")
    return (
        monthly.withColumn("prev_u", F.lag("rev_u").over(w))
        .select(
            "month",
            micros_to_amount(F.col("rev_u")).alias("revenue"),
            F.coalesce(
                (F.col("rev_u") - F.col("prev_u")).cast("double")
                / F.col("prev_u").cast("double")
                * 100.0,
                F.lit(0.0),
            ).alias("mom_pct"),
        )
        .orderBy("month")
    )


ORACLE_MOM_CHANGE = f"""
WITH monthly AS (
  SELECT STRFTIME(CAST(l_shipdate AS DATE), '%Y-%m') AS month,
         {_SUMM_REV} AS rev_u
  FROM lineitem
  WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '{DATE_A}' AND DATE '{DATE_B}'
  GROUP BY 1
),
lagged AS (
  SELECT month, rev_u, LAG(rev_u) OVER (ORDER BY month) AS prev_u FROM monthly
)
SELECT month, CAST(rev_u AS DOUBLE) / 1000000.0 AS revenue,
       COALESCE(CAST(rev_u - prev_u AS DOUBLE) / CAST(prev_u AS DOUBLE) * 100.0,
                0.0) AS mom_pct
FROM lagged ORDER BY month
"""


# ---------------------------------------------------------------------------
# topk_per_group — partitioned ranking (the scalable W1)
# ---------------------------------------------------------------------------


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by total spend within each nation. The reference's
    ranking is a global single-partition window
    (models_earning_distribution.py:100); partitioning the window by the
    group key is how the same ranking scales — each nation ranks
    independently across executors. Rank order keys on the exact micros
    long (not the double), so ties and order are engine-identical."""
    orders = _orders_dated(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    per_cust = (
        orders.filter(F.col("o_date").between(DATE_A, DATE_B))
        .groupBy("o_custkey")
        .agg(sum_micros(F.col("o_totalprice")).alias("spend_u"))
    )
    joined = per_cust.join(
        cust, per_cust.o_custkey == cust.c_custkey
    ).join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    w = Window.partitionBy("n_name").orderBy(
        F.col("spend_u").desc(), F.col("c_name")
    )
    return (
        joined.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select(
            F.col("n_name").alias("nation"),
            F.col("c_name").alias("customer"),
            micros_to_amount(F.col("spend_u")).alias("total_spend"),
            "rk",
        )
        .orderBy("nation", "rk")
    )


ORACLE_TOPK_PER_GROUP = f"""
WITH per_cust AS (
  SELECT o_custkey, {oracle_sum_micros('o_totalprice')} AS spend_u
  FROM orders
  WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '{DATE_A}' AND DATE '{DATE_B}'
  GROUP BY 1
),
ranked AS (
  SELECT n.n_name AS nation, c.c_name AS customer, p.spend_u,
         CAST(ROW_NUMBER() OVER (PARTITION BY n.n_name
                                 ORDER BY p.spend_u DESC, c.c_name) AS BIGINT) AS rk
  FROM per_cust p
  JOIN customer c ON p.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT nation, customer, CAST(spend_u AS DOUBLE) / 1000000.0 AS total_spend, rk
FROM ranked WHERE rk <= 3 ORDER BY nation, rk
"""

REGISTRY["running_total"] = QuerySpec(
    q_running_total, ORACLE_RUNNING_TOTAL,
    "cumulative window frame per platform (§2.13 running total)",
)
REGISTRY["mom_change"] = QuerySpec(
    q_mom_change, ORACLE_MOM_CHANGE,
    "month-over-month lag window (needle period-over-period)",
)
REGISTRY["topk_per_group"] = QuerySpec(
    q_topk_per_group, ORACLE_TOPK_PER_GROUP,
    "partitioned top-k ranking (scalable W1)",
)


# ---------------------------------------------------------------------------
# cube_report — all four grouping sets in one shuffle
# ---------------------------------------------------------------------------


def q_cube_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): per-cell, per-flag, per-status,
    and grand totals in a single pass — the generalization of
    rollup_report. Partial aggregation happens before the one shuffle, so
    the cube costs ~4 map-side rows per input group, not 4 table scans."""
    li = _lineitem_dated(spark, sf_dir)
    return (
        li.filter(F.col("l_date").between(DATE_A, DATE_B))
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("total_qty"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
            "total_qty",
            "n_items",
        )
        .orderBy("flag", "status")
    )


ORACLE_CUBE_REPORT = f"""
SELECT COALESCE(l_returnflag, 'ALL') AS flag,
       COALESCE(l_linestatus, 'ALL') AS status,
       SUM(l_quantity) AS total_qty,
       COUNT(*) AS n_items
FROM lineitem
WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '{DATE_A}' AND DATE '{DATE_B}'
GROUP BY CUBE(l_returnflag, l_linestatus)
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# semi / anti joins — existence tests that ship only the key
# ---------------------------------------------------------------------------


def q_semi_join_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with at least one 1996 order, via LEFT SEMI join — the
    EXISTS shape. The build side is just o_custkey (distinct-on-probe is
    implicit), no order payload crosses the shuffle, and each probe stops
    at the first match."""
    orders = _orders_dated(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    active = orders.filter(F.col("o_date").between(DATE_A, DATE_B)).select(
        "o_custkey"
    )
    return (
        cust.join(active, cust.c_custkey == active.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


ORACLE_SEMI_JOIN = f"""
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND CAST(o.o_orderdate AS DATE) BETWEEN DATE '{DATE_A}' AND DATE '{DATE_B}'
)
ORDER BY c_custkey
"""


def q_anti_join_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with NO 1996 order (LEFT ANTI = NOT EXISTS), rolled up to
    a count per market segment — the churn/orphan-detection query shape."""
    orders = _orders_dated(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    active = orders.filter(F.col("o_date").between(DATE_A, DATE_B)).select(
        "o_custkey"
    )
    return (
        cust.join(active, cust.c_custkey == active.o_custkey, "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n_inactive"))
        .orderBy("segment")
    )


ORACLE_ANTI_JOIN = f"""
SELECT c_mktsegment AS segment, COUNT(*) AS n_inactive
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND CAST(o.o_orderdate AS DATE) BETWEEN DATE '{DATE_A}' AND DATE '{DATE_B}'
)
GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# set_ops — INTERSECT / EXCEPT over key-projected inputs
# ---------------------------------------------------------------------------


def q_set_ops_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-key set algebra between 1996 H1 and H2 order activity:
    'both' = INTERSECT, 'h1_only' = EXCEPT. Inputs are projected to the
    bare key before the set op, so the shuffle carries 8 bytes/row; the
    two branches union into one labeled result."""
    orders = _orders_dated(spark, sf_dir)
    h1 = orders.filter(F.col("o_date").between(DATE_A, "1996-06-30")).select(
        "o_custkey"
    )
    h2 = orders.filter(F.col("o_date").between("1996-07-01", DATE_B)).select(
        "o_custkey"
    )
    both = h1.intersect(h2).select(
        F.lit("both").alias("bucket"), F.col("o_custkey").alias("custkey")
    )
    h1_only = h1.subtract(h2).select(
        F.lit("h1_only").alias("bucket"), F.col("o_custkey").alias("custkey")
    )
    return both.unionByName(h1_only).orderBy("bucket", "custkey")


ORACLE_SET_OPS = f"""
WITH h1 AS (
  SELECT o_custkey FROM orders
  WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '{DATE_A}' AND DATE '1996-06-30'
),
h2 AS (
  SELECT o_custkey FROM orders
  WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1996-07-01' AND DATE '{DATE_B}'
)
SELECT 'both' AS bucket, o_custkey AS custkey FROM (
  SELECT o_custkey FROM h1 INTERSECT SELECT o_custkey FROM h2
)
UNION ALL
SELECT 'h1_only' AS bucket, o_custkey AS custkey FROM (
  SELECT o_custkey FROM h1 EXCEPT SELECT o_custkey FROM h2
)
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# string_funcs — scalar string-function parity surface
# ---------------------------------------------------------------------------


def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function parity over the customer dim: UPPER, LOWER,
    SUBSTR, REPLACE, TRIM, LPAD, LENGTH, concatenation, and LIKE filtering
    — the §2.9 scalar surface the reference leaves to Presto, shown
    engine-identical. Pure per-row projection: whole-stage codegen, no
    shuffle but the final sort."""
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.filter(F.col("c_name").like("%7"))
        .select(
            "c_custkey",
            F.upper("c_name").alias("name_upper"),
            F.lower("c_mktsegment").alias("seg_lower"),
            F.substring("c_name", 10, 9).alias("name_digits"),
            F.regexp_replace(F.col("c_name"), "#0+", "#").alias("name_short"),
            F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_padded"),
            F.length(F.trim(F.col("c_mktsegment"))).cast("long").alias("seg_len"),
            F.concat_ws("|", "c_name", "c_mktsegment").alias("tagged"),
        )
        .orderBy("c_custkey")
    )


ORACLE_STRING_FUNCS = """
SELECT c_custkey,
       UPPER(c_name) AS name_upper,
       LOWER(c_mktsegment) AS seg_lower,
       SUBSTR(c_name, 10, 9) AS name_digits,
       REGEXP_REPLACE(c_name, '#0+', '#', 'g') AS name_short,
       LPAD(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
       CAST(LENGTH(TRIM(c_mktsegment)) AS BIGINT) AS seg_len,
       c_name || '|' || c_mktsegment AS tagged
FROM customer
WHERE c_name LIKE '%7'
ORDER BY c_custkey
"""

REGISTRY["cube_report"] = QuerySpec(
    q_cube_report, ORACLE_CUBE_REPORT,
    "CUBE: 4 grouping sets in one shuffle",
)
REGISTRY["semi_join_active"] = QuerySpec(
    q_semi_join_active, ORACLE_SEMI_JOIN,
    "LEFT SEMI join (EXISTS shape, key-only shuffle)",
)
REGISTRY["anti_join_inactive"] = QuerySpec(
    q_anti_join_inactive, ORACLE_ANTI_JOIN,
    "LEFT ANTI join (NOT EXISTS / churn detection)",
)
REGISTRY["set_ops_halves"] = QuerySpec(
    q_set_ops_halves, ORACLE_SET_OPS,
    "INTERSECT / EXCEPT over key-projected inputs",
)
REGISTRY["string_funcs"] = QuerySpec(
    q_string_funcs, ORACLE_STRING_FUNCS,
    "scalar string-function parity (§2.9 surface)",
)


def q_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Account-balance deciles within each market segment: NTILE(10) over
    (segment, balance) with the customer key as a deterministic
    tie-break, then per-decile population and balance range."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return (
        cust.withColumn("decile", F.ntile(10).over(w).cast("long"))
        .groupBy(F.col("c_mktsegment").alias("segment"), "decile")
        .agg(
            F.count("*").alias("n_customers"),
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
        )
        .orderBy("segment", "decile")
    )


ORACLE_NTILE_DECILES = """
WITH t AS (
  SELECT c_mktsegment AS segment, c_acctbal,
         CAST(NTILE(10) OVER (PARTITION BY c_mktsegment
                              ORDER BY c_acctbal ASC, c_custkey ASC)
              AS BIGINT) AS decile
  FROM customer
)
SELECT segment, decile, COUNT(*) AS n_customers,
       MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal
FROM t GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_percentile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact order-price percentiles per order priority: median and p90
    via the exact percentile aggregate (bit-identical to DuckDB
    quantile_cont including interpolation), plus an order-independent
    exact total. The reference reports only sums/averages; percentiles
    are the robust version of the same dashboard."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("n_orders"),
            F.percentile("o_totalprice", F.lit(0.5)).alias("median_price"),
            F.percentile("o_totalprice", F.lit(0.9)).alias("p90_price"),
            sum_exact("o_totalprice").alias("total_price"),
        )
        .orderBy("priority")
    )


ORACLE_PERCENTILE_REPORT = f"""
SELECT o_orderpriority AS priority, COUNT(*) AS n_orders,
       QUANTILE_CONT(o_totalprice, 0.5) AS median_price,
       QUANTILE_CONT(o_totalprice, 0.9) AS p90_price,
       {oracle_sum_exact("o_totalprice")} AS total_price
FROM orders GROUP BY 1 ORDER BY 1
"""


def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass generic table profile (operators/profile.py) over the
    orders fact: per-column null counts + distinct cardinalities in a
    single aggregation — the drift alarm the reference's crawler-only
    catalog lacks."""
    from data_lake_spark.operators.profile import profile

    return profile(load_table(spark, sf_dir, "orders")).orderBy("col_name")


_ORDER_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]

ORACLE_PROFILE_ORDERS = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       COUNT(DISTINCT {c}) AS n_distinct FROM orders"""
    for c in _ORDER_COLS
) + "\nORDER BY col_name"


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through the engine's SQL face (the
    registered-view path Athena users migrate onto): per (priority,
    status), per priority, and grand total — three report levels in ONE
    shuffle instead of the reference's UNION ALL of separate queries.
    Mixed sets are the case CUBE/ROLLUP can't express."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
               COALESCE(o_orderstatus, 'ALL') AS status,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(FLOOR(o_totalprice * 1000000.0) AS BIGINT)) AS DOUBLE)
                 / 1000000.0 AS total_price
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                (o_orderpriority), ())
        ORDER BY priority, status
        """
    )


ORACLE_GROUPING_SETS = """
SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
       COALESCE(o_orderstatus, 'ALL') AS status,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice * 1000000.0) AS BIGINT)) AS DOUBLE)
         / 1000000.0 AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                        (o_orderpriority), ())
ORDER BY priority, status
"""


def q_trailing_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day trailing revenue per day: a RANGE window frame over the
    date axis (value-based, so gaps in the calendar shrink the frame —
    unlike a ROWS frame, which would silently span missing days). Exact
    integer micros inside the frame keep both engines bit-identical."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d"), "o_totalprice"
    )
    daily = orders.groupBy("d").agg(
        F.sum(F.floor(F.col("o_totalprice") * 1000000.0)).alias("rev_micros")
    )
    w = (
        Window.orderBy(F.col("d").cast("timestamp").cast("long"))
        .rangeBetween(-6 * 86400, 0)
    )
    return (
        daily.withColumn(
            "trailing_7d",
            (F.sum("rev_micros").over(w).cast("double") / 1000000.0),
        )
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("report_date"),
            (F.col("rev_micros").cast("double") / 1000000.0).alias("revenue"),
            "trailing_7d",
        )
        .orderBy("report_date")
    )


ORACLE_TRAILING_7D = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 1000000.0) AS BIGINT)) AS BIGINT)
           AS rev_micros
  FROM orders GROUP BY 1
)
SELECT STRFTIME(d, '%Y-%m-%d') AS report_date,
       CAST(rev_micros AS DOUBLE) / 1000000.0 AS revenue,
       CAST(CAST(SUM(rev_micros) OVER (
              ORDER BY d RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
            ) AS BIGINT) AS DOUBLE) / 1000000.0 AS trailing_7d
FROM daily ORDER BY report_date
"""


def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-type surface: per-order quantity arrays exercised through
    the higher-order-function family — sort, aggregate (fold), max,
    distinct, lambda filter, slice, transform — all JVM expressions
    inside codegen (the reference's nested data N1/N2 stops at explode;
    this is the rest of the array algebra a lake engine needs)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast("long").alias("q")
    )
    arrs = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list("q")).alias("qs")
    )
    return arrs.select(
        "l_orderkey",
        F.size("qs").cast("long").alias("n_items"),
        F.aggregate("qs", F.lit(0).cast("long"), lambda a, x: a + x).alias("qty_sum"),
        F.array_max("qs").alias("qty_max"),
        F.size(F.array_distinct("qs")).cast("long").alias("n_distinct"),
        F.size(F.filter("qs", lambda x: x % 2 == 0)).cast("long").alias("n_even"),
        F.concat_ws(
            ",",
            F.transform(
                F.slice(F.reverse("qs"), 1, 3), lambda x: x.cast("string")
            ),
        ).alias("top3"),
    ).orderBy("l_orderkey")


ORACLE_ARRAY_FUNCS = """
WITH arrs AS (
  SELECT l_orderkey,
         LIST_SORT(LIST(CAST(l_quantity AS BIGINT))) AS qs
  FROM lineitem GROUP BY 1
)
SELECT l_orderkey,
       CAST(LEN(qs) AS BIGINT) AS n_items,
       CAST(LIST_SUM(qs) AS BIGINT) AS qty_sum,
       CAST(LIST_MAX(qs) AS BIGINT) AS qty_max,
       CAST(LEN(LIST_DISTINCT(qs)) AS BIGINT) AS n_distinct,
       CAST(LEN(LIST_FILTER(qs, x -> x % 2 = 0)) AS BIGINT) AS n_even,
       ARRAY_TO_STRING(LIST_SORT(qs, 'DESC')[1:3], ',') AS top3
FROM arrs ORDER BY l_orderkey
"""


def q_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four-way star join (the TPC-H Q5 shape): lineitem ⋈ orders on the
    order key (the one genuine fact-fact join — sort-merge is correct
    there), then customer → nation → region resolved as a broadcast dim
    chain, 1996 orders only. One fact shuffle total; every dim hop is
    broadcast; the date filter pushes to the orders scan. This is the
    join-tree shape Catalyst must get right at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.year(F.to_date("o_orderdate")) == 1996)
        .select("o_orderkey", "o_custkey")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey", F.col("n_name").alias("nation")
    )
    reg = load_table(spark, sf_dir, "region").select(
        "r_regionkey", F.col("r_name").alias("region")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("region", "nation")
        .agg(
            sum_exact("rev").alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("region", "nation")
    )


ORACLE_REVENUE_BY_REGION = f"""
SELECT r.r_name AS region, n.n_name AS nation,
       {oracle_sum_exact("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
       COUNT(*) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE YEAR(CAST(o.o_orderdate AS DATE)) = 1996
GROUP BY 1, 2 ORDER BY 1, 2
"""

REGISTRY["revenue_by_region"] = QuerySpec(
    q_revenue_by_region, ORACLE_REVENUE_BY_REGION,
    "TPC-H Q5-shape star join: fact-fact + broadcast dim chain",
)
REGISTRY["array_funcs"] = QuerySpec(
    q_array_funcs, ORACLE_ARRAY_FUNCS,
    "higher-order array algebra per order (fold/filter/slice/transform)",
)
REGISTRY["grouping_sets_report"] = QuerySpec(
    q_grouping_sets, ORACLE_GROUPING_SETS,
    "mixed GROUPING SETS via the SQL face, one shuffle",
)
REGISTRY["trailing_7d"] = QuerySpec(
    q_trailing_7d, ORACLE_TRAILING_7D,
    "RANGE-frame 7-day trailing window over the date axis",
)
REGISTRY["profile_orders"] = QuerySpec(
    q_profile_orders, ORACLE_PROFILE_ORDERS,
    "one-pass per-column profile (nulls, distinct) of a fact table",
)
REGISTRY["ntile_deciles"] = QuerySpec(
    q_ntile_deciles, ORACLE_NTILE_DECILES,
    "NTILE(10) balance deciles per market segment",
)
REGISTRY["percentile_report"] = QuerySpec(
    q_percentile_report, ORACLE_PERCENTILE_REPORT,
    "exact median/p90 percentiles per order priority",
)


# ---------------------------------------------------------------------------
# winsorize — robust-stats outlier clamping at exact per-group percentiles
# ---------------------------------------------------------------------------


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority winsorization audit: order prices clamped to the
    group's exact [p05, p95], with pre/post exact totals and the clamp
    counts — the robust preprocessing step that keeps a fat-tailed
    metric from letting a few outliers own the mean.

    Plan: ONE grouped percentile aggregation over the fact (the
    percentile_report shape — map-side partials, 5 groups out), the
    5-row bounds frame broadcast back into a second scan, then a final
    map-side-combinable aggregate of the clamped values. Bounds are
    bit-identical to DuckDB QUANTILE_CONT (the established
    F.percentile parity); totals use the exact floor-micros sums, so
    the whole audit is engine- and partitioning-independent."""
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.05)).alias("lo"),
        F.percentile("o_totalprice", F.lit(0.95)).alias("hi"),
    )
    clamped = F.least(F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi"))
    return (
        orders.join(F.broadcast(bounds), "o_orderpriority")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("n_orders"),
            F.min("lo").alias("p05"),
            F.min("hi").alias("p95"),
            F.sum(F.when(F.col("o_totalprice") < F.col("lo"), 1).otherwise(0))
            .cast("long")
            .alias("n_clamped_lo"),
            F.sum(F.when(F.col("o_totalprice") > F.col("hi"), 1).otherwise(0))
            .cast("long")
            .alias("n_clamped_hi"),
            sum_exact("o_totalprice").alias("total_raw"),
            sum_exact(clamped).alias("total_winsorized"),
        )
        .orderBy("priority")
    )


ORACLE_WINSORIZE = f"""
WITH bounds AS (
  SELECT o_orderpriority,
         QUANTILE_CONT(o_totalprice, 0.05) AS lo,
         QUANTILE_CONT(o_totalprice, 0.95) AS hi
  FROM orders GROUP BY 1
)
SELECT o.o_orderpriority AS priority,
       COUNT(*) AS n_orders,
       MIN(b.lo) AS p05,
       MIN(b.hi) AS p95,
       CAST(SUM(CASE WHEN o.o_totalprice < b.lo THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clamped_lo,
       CAST(SUM(CASE WHEN o.o_totalprice > b.hi THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clamped_hi,
       {oracle_sum_exact("o.o_totalprice")} AS total_raw,
       {oracle_sum_exact("LEAST(GREATEST(o.o_totalprice, b.lo), b.hi)")}
         AS total_winsorized
FROM orders o JOIN bounds b USING (o_orderpriority)
GROUP BY 1 ORDER BY 1
"""


REGISTRY["winsorize"] = QuerySpec(
    q_winsorize,
    ORACLE_WINSORIZE,
    "per-group winsorization at exact p05/p95 with clamp counts and "
    "exact pre/post totals",
)


def q_salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event value by customer market segment through an 8-way salted
    join: events (the big, potentially hot-keyed side) spread across
    salts, the customer dim replicated per salt, joined on
    (key, salt) — bit-identical totals to the unsalted join because the
    sum is the exact associative micros sum."""
    events = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    big = events.select(
        F.col("user_id").alias("c_custkey"), "event_type", "value"
    )
    small = cust.select("c_custkey", "c_mktsegment")
    j = salted_join(big, small, "c_custkey", n_salts=8)
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            sum_exact("value").alias("total_value"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE_SALTED_JOIN_AGG = f"""
SELECT c.c_mktsegment, COUNT(*) AS n_events,
       {oracle_sum_exact('e.value')} AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1 ORDER BY 1
"""

REGISTRY["salted_join_agg"] = QuerySpec(
    q_salted_join_agg,
    ORACLE_SALTED_JOIN_AGG,
    "8-way salted skew join, result-equivalent to the plain join",
)
