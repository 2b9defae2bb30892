"""Time-series monitoring over the event stream and the orders fact:
trailing-window anomaly detection and mergeable-sketch sliding distinct
counts — the two rollups an operations dashboard runs continuously.

Scale discipline (repo policy): every window here is CALENDAR-BOUNDED —
the series is aggregated to one row per day first, so window input is
days, never data volume (the temporal.gap_fill_interp argument). The sliding
distinct additionally demonstrates the PRODUCTION sketch shape: one
fixed-size HLL partial per day, each trailing window merging 7 partials
— re-scanning no events — which is how a 100 TB stream serves arbitrary
window distinct counts from kilobytes of state.

Day arithmetic is tz-free integer math (epoch nanos div 86400e9), the
events normalization contract (catalog._normalize).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_lake_spark.catalog import load_table
from data_lake_spark.functions.exact import (
    oracle_micro_share_guarded_sql,
    oracle_sum_exact,
    sum_exact,
)
from data_lake_spark.queries import QuerySpec

_DAY_NS = 86_400 * 10**9
_WIN = 7
_HLL_TOL = 0.05


def q_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per trailing 7-day window, both ways at once:
    EXACT (explode each day's events onto the 7 windows it serves —
    a co-partitioned equi-join shape, no inequality join) and the HLL
    path (one datasketches partial per day, union-merged per window),
    reduced to the approx_distinct-style within-tolerance boolean.
    The sketch side touches (days × 7) kilobyte rows where the exact
    side re-shuffles (events × 7) — the gap that pays for sketches at
    volume."""
    ev = load_table(spark, sf_dir, "events").select(
        F.expr(f"ts div {_DAY_NS}").alias("d"), "user_id"
    )
    win_days = F.explode(
        F.sequence(F.col("d"), F.col("d") + F.lit(_WIN - 1))
    ).alias("win_d")
    exact = (
        ev.select(win_days, "user_id")
        .groupBy("win_d")
        .agg(F.count_distinct("user_id").alias("exact_users_7d"))
    )
    daily_sk = ev.groupBy("d").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count(F.lit(1)).alias("n_ev"),
    )
    approx = (
        daily_sk.select(
            F.explode(
                F.sequence(F.col("d"), F.col("d") + F.lit(_WIN - 1))
            ).alias("win_d"),
            "sk",
            "n_ev",
        )
        .groupBy("win_d")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
            F.sum("n_ev").alias("n_events_7d"),
        )
    )
    observed = daily_sk.select(F.col("d").alias("win_d"))
    rel_err = F.abs(
        F.col("approx_users").cast("double")
        - F.col("exact_users_7d").cast("double")
    ) / F.col("exact_users_7d").cast("double")
    return (
        exact.join(approx, "win_d")
        .join(observed, "win_d", "left_semi")  # report observed days only
        .select(
            F.col("win_d").alias("day_idx"),
            "exact_users_7d",
            F.col("n_events_7d").cast("long").alias("n_events_7d"),
            (rel_err <= F.lit(_HLL_TOL)).alias("within_tolerance"),
        )
        .orderBy("day_idx")
    )


ORACLE_SLIDING_DISTINCT = f"""
WITH e AS (
  SELECT epoch_ns(ts) // {_DAY_NS} AS d, user_id FROM events
),
days AS (SELECT DISTINCT d FROM e),
win AS (
  SELECT w.d AS day_idx,
         COUNT(DISTINCT e.user_id) AS exact_users_7d,
         CAST(COUNT(*) AS BIGINT) AS n_events_7d
  FROM days w JOIN e ON e.d BETWEEN w.d - {_WIN - 1} AND w.d
  GROUP BY 1
)
SELECT day_idx, exact_users_7d, n_events_7d, TRUE AS within_tolerance
FROM win ORDER BY day_idx
"""


_LOOKBACK = 28
_K_IQR = 3


def q_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue anomaly days: each day's exact revenue scored against its
    TRAILING 28-day window (exclusive — the day never scores itself)
    by robust statistics: flag |x − median| > 3·IQR. Median/IQR instead
    of mean/σ so one spike can't mask the next (the breakdown-point
    argument); exact percentiles over the trailing frame, F.percentile
    ≡ DuckDB QUANTILE_CONT bit-for-bit (percentile_report precedent).
    Window input is the daily series — calendar-bounded, one row per
    day. Emits only flagged days plus the bracketing stats."""
    # o_orderdate is TIMESTAMP_NTZ: day index via wall-clock DATE
    # arithmetic (datediff from the epoch date) — an NTZ→TIMESTAMP cast
    # would shift with the session timezone (the catalog._normalize rule)
    o = load_table(spark, sf_dir, "orders").select(
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("d"),
        "o_totalprice",
    )
    daily = o.groupBy("d").agg(sum_exact("o_totalprice").alias("rev"))
    w = (
        Window.orderBy("d")
        .rowsBetween(-_LOOKBACK, -1)
    )
    scored = daily.select(
        "d",
        "rev",
        F.percentile("rev", F.lit(0.5)).over(w).alias("med"),
        F.percentile("rev", F.lit(0.75)).over(w).alias("p75"),
        F.percentile("rev", F.lit(0.25)).over(w).alias("p25"),
        F.count("rev").over(w).alias("n_window"),
    ).filter(F.col("n_window") >= _LOOKBACK)  # full lookback only
    iqr = F.col("p75") - F.col("p25")
    return (
        scored.filter(F.abs(F.col("rev") - F.col("med")) > _K_IQR * iqr)
        .select(
            F.col("d").alias("day_idx"),
            "rev",
            "med",
            (F.col("p75") - F.col("p25")).alias("iqr"),
        )
        .orderBy("day_idx")
    )


ORACLE_ANOMALY_DAYS = f"""
WITH o AS (
  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
         o_totalprice
  FROM orders
),
daily AS (
  SELECT d, {oracle_sum_exact("o_totalprice")} AS rev FROM o GROUP BY 1
),
scored AS (
  SELECT d, rev,
         QUANTILE_CONT(rev, 0.5) OVER w AS med,
         QUANTILE_CONT(rev, 0.75) OVER w AS p75,
         QUANTILE_CONT(rev, 0.25) OVER w AS p25,
         COUNT(rev) OVER w AS n_window
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN {_LOOKBACK} PRECEDING
               AND 1 PRECEDING)
)
SELECT d AS day_idx, rev, med, p75 - p25 AS iqr
FROM scored
WHERE n_window >= {_LOOKBACK}
  AND ABS(rev - med) > {_K_IQR} * (p75 - p25)
ORDER BY day_idx
"""


REGISTRY: dict[str, QuerySpec] = {
    "sliding_distinct": QuerySpec(
        q_sliding_distinct,
        ORACLE_SLIDING_DISTINCT,
        "trailing-7-day distinct users: daily HLL partials union-merged "
        "per window beside the exact explode-join count",
    ),
    "anomaly_days": QuerySpec(
        q_anomaly_days,
        ORACLE_ANOMALY_DAYS,
        "robust trailing-window anomaly days: |rev - median| > 3*IQR "
        "over the exclusive 28-day frame",
    ),
}


# ---------------------------------------------------------------------------
# rolling_corr — trailing cross-series correlation
# ---------------------------------------------------------------------------

_CORR_W = 28  # trailing window, inclusive of the current day
_CORR_MIN_OBS = 14  # min observed days in the window (pandas min_periods)


def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 28-day Pearson correlation between the URGENT/HIGH-
    priority daily revenue series and the rest — the coupling monitor:
    the two series normally move together (both track overall demand),
    so a window where r collapses means one order class decoupled (a
    partner feed stalled, a priority-specific outage) before either
    series alone looks anomalous.

    Exactness/overflow (the 100 TB audit): each series is quantized to
    whole DOLLARS per day — cents via floor(price·100), summed as exact
    int64, then div 100 — so every windowed moment stays integer:
    Σx, Σy, Σxy, Σx², Σy² over 28 days of ≤~10⁷-dollar days keep
    n·Σxy ≤ ~10¹⁷, two orders inside int64 where a cents-scale series
    overflows at SF 100. Pearson r then takes ONE float step at the
    edge (the sq_search rule): num/den in binary64 from exact int64
    moments — int→double, sqrt, multiply, divide, floor·10⁶ are all
    IEEE-deterministic, so r_micro is bit-identical across engines. A
    constant series (zero variance) reports NULL, not divide-by-zero.

    The trailing window is a RANGE frame on the day index (the
    anomaly_days precedent), so it spans exactly 28 CALENDAR days even
    when some days have no orders; ``n`` counts the observed days inside
    that span; ``n`` feeds the moments as the true observation count
    and the ``n >= 14`` gate (the pandas ``min_periods`` convention —
    half the window) drops under-observed spans. A ROWS frame would
    silently stretch past gaps to 28 *observed* days, contradicting
    the calendar framing above.

    Plan: one conditional groupBy(d) (map-side combinable), five window
    sums over the calendar-bounded daily frame (one row per day — the
    anomaly_days precedent), map-only arithmetic after. 1 shuffle."""
    o = load_table(spark, sf_dir, "orders").select(
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("d"),
        "o_totalprice",
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("hot"),
    ).withColumn(
        "cents", F.expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)")
    )
    daily = o.groupBy("d").agg(
        F.expr("sum(CASE WHEN hot THEN cents ELSE 0 END) div 100").alias("x"),
        F.expr("sum(CASE WHEN hot THEN 0 ELSE cents END) div 100").alias("y"),
    )
    w = Window.orderBy("d").rangeBetween(-(_CORR_W - 1), 0)
    m = daily.select(
        "d",
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
        F.count("x").over(w).alias("n"),
    ).filter(F.col("n") >= _CORR_MIN_OBS)
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    d1 = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    d2 = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return m.select(
        F.col("d").alias("day_idx"),
        "sx",
        "sy",
        F.when(
            (d1 > 0) & (d2 > 0),
            F.expr(
                "CAST(FLOOR((n * sxy - sx * sy) * 1000000.0 /"
                " (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))"
                " * SQRT(CAST(n * syy - sy * sy AS DOUBLE)))) AS BIGINT)"
            ),
        ).alias("r_micro"),
    ).orderBy("day_idx")


ORACLE_ROLLING_CORR = f"""
WITH o AS (
  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
         CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
         o_orderpriority IN ('1-URGENT', '2-HIGH') AS hot
  FROM orders
),
daily AS (
  SELECT d,
         SUM(CASE WHEN hot THEN cents ELSE 0 END) // 100 AS x,
         SUM(CASE WHEN hot THEN 0 ELSE cents END) // 100 AS y
  FROM o GROUP BY 1
),
m AS (
  SELECT d,
         CAST(SUM(x) OVER w AS BIGINT) AS sx,
         CAST(SUM(y) OVER w AS BIGINT) AS sy,
         CAST(SUM(x * y) OVER w AS BIGINT) AS sxy,
         CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
         CAST(SUM(y * y) OVER w AS BIGINT) AS syy,
         COUNT(x) OVER w AS n
  FROM daily
  WINDOW w AS (ORDER BY d RANGE BETWEEN {_CORR_W - 1} PRECEDING
               AND CURRENT ROW)
)
SELECT d AS day_idx, sx, sy,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
            THEN CAST(FLOOR((n * sxy - sx * sy) * 1000000.0 /
                 (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                  * SQRT(CAST(n * syy - sy * sy AS DOUBLE)))) AS BIGINT)
       END AS r_micro
FROM m WHERE n >= {_CORR_MIN_OBS}
ORDER BY day_idx
"""


REGISTRY["rolling_corr"] = QuerySpec(
    q_rolling_corr,
    ORACLE_ROLLING_CORR,
    "trailing 28-day Pearson correlation between priority-class daily "
    "revenue series (exact integer moments, one float step at the edge)",
)


# ---------------------------------------------------------------------------
# dist_drift — binned distribution-drift monitor between two cohorts
# ---------------------------------------------------------------------------

_DRIFT_SPLIT = "1998-07-01"  # cohort A = orders before, B = from, the split
_DRIFT_BIN_CENTS = 5_000_000  # $50k price bins -> 10 bins over this corpus


def q_dist_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift report between two order cohorts (before/from
    1998-07-01) over fixed $50k total-price bins — the monitor a feature
    store runs to catch covariate shift before a model does. Per bin:
    both cohorts' counts and micro-shares, the L1 term |p-q| and the
    chi-square-style term (p-q)^2/(p+q); one TOTAL row (bin = -1) sums
    the terms into the two headline drift statistics (L1 distance and
    2x triangular discrimination).

    Why not PSI: PSI's ln(p/q) is libm-dependent — ln is not required
    to be correctly rounded, so Spark's JVM and DuckDB can disagree in
    the last bits and the cross-engine hash gate would flake. L1 and
    chi-square drift are the standard substitutes and stay INTEGER-exact
    end to end: counts are int64, shares are floored micro-shares via
    the digit-split long division (functions/exact.micro_share_sql —
    int64-safe past 9.2e12 rows), and (p-q)^2 <= 10^12 keeps the chi2
    numerator int64. Identical integers on both engines, no float step
    at all.

    Plan: one map-side-combinable conditional groupBy(bin); cohort
    totals ride a constant-partition window over the BIN frame (10
    rows — bounded by construction, the epoch_plan precedent); the
    TOTAL row re-aggregates that same frame. 1 data shuffle."""
    o = load_table(spark, sf_dir, "orders").select(
        (
            F.to_date("o_orderdate") < F.lit(_DRIFT_SPLIT).cast("date")
        ).alias("is_a"),
        F.expr(
            f"CAST(FLOOR(o_totalprice * 100) AS BIGINT)"
            f" div {_DRIFT_BIN_CENTS}"
        ).alias("bin"),
    )
    binned = o.groupBy("bin").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("a_cnt"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1)).alias("b_cnt"),
    )
    from data_lake_spark.operators.drift import drift_report

    return drift_report(binned)


_A_SHARE = oracle_micro_share_guarded_sql("a_cnt", "a_tot")
_B_SHARE = oracle_micro_share_guarded_sql("b_cnt", "b_tot")

ORACLE_DIST_DRIFT = f"""
WITH o AS (
  SELECT CAST(o_orderdate AS DATE) < DATE '{_DRIFT_SPLIT}' AS is_a,
         CAST(FLOOR(o_totalprice * 100) AS BIGINT) // {_DRIFT_BIN_CENTS}
           AS bin
  FROM orders
),
binned AS (
  SELECT bin,
         CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS a_cnt,
         CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS b_cnt
  FROM o GROUP BY 1
),
shared AS (
  SELECT bin, a_cnt, b_cnt,
         CAST({_A_SHARE} AS BIGINT) AS a_micro,
         CAST({_B_SHARE} AS BIGINT) AS b_micro
  FROM (
    SELECT bin, a_cnt, b_cnt,
           CAST(SUM(a_cnt) OVER () AS BIGINT) AS a_tot,
           CAST(SUM(b_cnt) OVER () AS BIGINT) AS b_tot
    FROM binned
  )
),
terms AS (
  SELECT bin, a_cnt, b_cnt, a_micro, b_micro,
         ABS(a_micro - b_micro) AS l1_micro,
         CASE WHEN a_micro + b_micro > 0
              THEN ((a_micro - b_micro) * (a_micro - b_micro))
                   // (a_micro + b_micro)
              ELSE 0 END AS chi2_micro
  FROM shared
)
SELECT bin, a_cnt, b_cnt, a_micro, b_micro, l1_micro, chi2_micro
FROM terms
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(SUM(a_cnt) AS BIGINT),
       CAST(SUM(b_cnt) AS BIGINT), CAST(SUM(a_micro) AS BIGINT),
       CAST(SUM(b_micro) AS BIGINT), CAST(SUM(l1_micro) AS BIGINT),
       CAST(SUM(chi2_micro) AS BIGINT)
FROM terms
ORDER BY bin
"""


REGISTRY["dist_drift"] = QuerySpec(
    q_dist_drift,
    ORACLE_DIST_DRIFT,
    "binned distribution-drift monitor between order cohorts: "
    "integer-exact L1 and chi-square terms per $50k price bin + TOTAL "
    "row (PSI's ln is libm-nondeterministic cross-engine; documented)",
)
