"""Temporal / event-stream queries over ``events``: sessionization,
tumbling and sliding windows, funnels, cohort retention, date spines,
gap-fill interpolation and interval joins — the batch faces of the
Structured Streaming operators in ``streaming.incremental`` (Spark's
unified semantics: the same plan runs on a stream with a watermark).

Beyond the reference surface (it has no streaming operators, SURVEY §2.11);
these are the dashboard rollups its serving layer would need at event
granularity. ``events.ts`` is conformed to long epoch nanos at load
(catalog._normalize); both engines reduce it to epoch seconds with
integer division — double arithmetic would lose precision above 2^53 ns.

Scale notes:
- sliding windows replicate each event window/slide times map-side before
  the one shuffle; the funnel reuses the as-of join (one shuffle on
  user_id, state never spans users);
- the date spine is generated from a 1-row min/max aggregate, so it is
  days-sized and broadcastable — the reference null-fills the same series
  in Python (earnings.py:162-213);
- windows over daily aggregates are calendar-bounded (one row per day
  regardless of data volume), the same bounded-by-construction argument
  as ranking.ranked_top_k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_lake_spark.catalog import load_table
from data_lake_spark.functions.exact import oracle_sum_exact, sum_exact
from data_lake_spark.operators.ranking import ranked_top_k
from data_lake_spark.queries import QuerySpec
from data_lake_spark.streaming.incremental import sessionize, windowed_event_rollup

REGISTRY: dict[str, QuerySpec] = {}

_NS = 1_000_000_000


def _events_secs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.expr(f"ts div {_NS}").alias("ts"),  # long integer division, exact
    )


def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session stats: sessionize (30-min gap, lag + cumulative flag —
    one shuffle on user_id, state never spans users) then aggregate each
    session. The streaming twin is applyInPandasWithState; batch and
    stream agree because session assignment is order-deterministic."""
    sess = sessionize(_events_secs(spark, sf_dir), gap_minutes=30)
    return (
        sess.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("start_s"),
            F.max("ts").alias("end_s"),
            sum_exact("value").alias("total_value"),
        )
        .orderBy("user_id", "session_seq")
    )


ORACLE_SESSION_STATS = f"""
WITH e AS (
  SELECT user_id, value, epoch_ns(ts) // {_NS} AS ts_s FROM events
),
flagged AS (
  SELECT user_id, value, ts_s,
         CASE WHEN LAG(ts_s) OVER w IS NULL
                OR ts_s - LAG(ts_s) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s)
),
sess AS (
  SELECT user_id, value, ts_s,
         CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_s) AS BIGINT)
           AS session_seq
  FROM flagged
)
SELECT user_id, session_seq,
       COUNT(*) AS n_events,
       MIN(ts_s) AS start_s,
       MAX(ts_s) AS end_s,
       {oracle_sum_exact('value')} AS total_value
FROM sess GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_windowed_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """15-minute tumbling-window rollup per event_type via the streaming
    operator (watermark + window; identical plan in batch). Window starts
    align to the epoch, so the oracle's integer bucketing matches
    F.window exactly."""
    ev = _events_secs(spark, sf_dir).withColumn(
        "ts", F.timestamp_seconds(F.col("ts"))
    )
    out = windowed_event_rollup(ev, window="15 minutes", watermark="30 minutes")
    return (
        out.select(
            F.col("window_start").cast("long").alias("window_start_s"),
            F.col("window_end").cast("long").alias("window_end_s"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start_s", "event_type")
    )


ORACLE_WINDOWED_ROLLUP = f"""
WITH e AS (
  SELECT event_type, value,
         (epoch_ns(ts) // {_NS}) // 900 * 900 AS w_start
  FROM events
)
SELECT w_start AS window_start_s,
       w_start + 900 AS window_end_s,
       event_type,
       COUNT(*) AS n_events,
       {oracle_sum_exact('value')} AS total_value
FROM e GROUP BY 1, 2, 3 ORDER BY 1, 3
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment: every click event gets the most recent
    prior (or simultaneous) view by the same user — the as-of join
    (operators/asof.py: union + one shuffle + ordered carry-forward, the
    composition Spark lacks as a built-in). Right side deduped to one row
    per (user, ts) for determinism."""
    from data_lake_spark.operators.asof import asof_join_backward
    from data_lake_spark.operators.upsert import keep_latest

    e = _events_secs(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    views = keep_latest(
        e.filter(F.col("event_type") == "view").select("event_id", "user_id", "ts", "value"),
        keys=["user_id", "ts"],
        order_col="event_id",
    ).select("user_id", "ts", "value")
    return (
        asof_join_backward(clicks, views, on=["user_id"], ts_col="ts", value_cols=["value"])
        .select(
            "event_id",
            "user_id",
            "ts",
            "value",
            F.col("asof_ts").cast("long").alias("asof_ts"),
            F.col("asof_value").cast("double").alias("asof_value"),
        )
        .orderBy("event_id")
    )


ORACLE_ASOF_JOIN = f"""
WITH e AS (
  SELECT event_id, user_id, event_type, value,
         epoch_ns(ts) // {_NS} AS ts_s
  FROM events
),
clicks AS (
  SELECT event_id, user_id, ts_s, value FROM e WHERE event_type = 'click'
),
views_ranked AS (
  SELECT user_id, ts_s, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, ts_s ORDER BY event_id DESC) AS rn
  FROM e WHERE event_type = 'view'
),
views AS (SELECT user_id, ts_s, value FROM views_ranked WHERE rn = 1)
SELECT c.event_id, c.user_id, c.ts_s AS ts, c.value,
       v.ts_s AS asof_ts, v.value AS asof_value
FROM clicks c ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND c.ts_s >= v.ts_s
ORDER BY c.event_id
"""

REGISTRY["session_stats"] = QuerySpec(
    q_session_stats, ORACLE_SESSION_STATS, "30-min-gap sessionization + per-session agg"
)
REGISTRY["windowed_rollup"] = QuerySpec(
    q_windowed_rollup, ORACLE_WINDOWED_ROLLUP, "15-min tumbling rollup (streaming operator, batch face)"
)
REGISTRY["asof_join"] = QuerySpec(
    q_asof_join, ORACLE_ASOF_JOIN, "backward as-of join (point-in-time enrichment)"
)

_WEEK = 7 * 24 * 3600


# ---------------------------------------------------------------------------
# sliding_rollup — 30-min windows every 15 min
# ---------------------------------------------------------------------------


def q_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute windows sliding every 15 minutes, per event_type: each
    event lands in exactly window/slide = 2 windows (F.window with a
    slideDuration; same plan under a stream + watermark). The oracle
    derives both member windows per event with integer arithmetic —
    Spark's epoch-aligned window starts make them identical."""
    ev = _events_secs(spark, sf_dir).withColumn(
        "tss", F.timestamp_seconds(F.col("ts"))
    )
    w = F.window("tss", "30 minutes", "15 minutes")
    return (
        ev.groupBy(w.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").cast("long").alias("window_start_s"),
            F.col("w.end").cast("long").alias("window_end_s"),
            "event_type",
            "n_events",
        )
        .orderBy("window_start_s", "event_type")
    )


ORACLE_SLIDING_ROLLUP = f"""
WITH e AS (
  SELECT event_type, epoch_ns(ts) // {_NS} AS ts_s FROM events
),
member AS (
  SELECT event_type, ts_s,
         (ts_s // 900 - CAST(k.range AS BIGINT)) * 900 AS w_start
  FROM e CROSS JOIN range(0, 2) k
)
SELECT w_start AS window_start_s, w_start + 1800 AS window_end_s,
       event_type, COUNT(*) AS n_events
FROM member GROUP BY 1, 2, 3 ORDER BY 1, 3
"""


# ---------------------------------------------------------------------------
# funnel — view → purchase conversion within 30 minutes
# ---------------------------------------------------------------------------


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step funnel: purchases attributed to the most recent prior view
    by the same user within 30 minutes, reported per user. Reuses the
    as-of join operator (operators/asof.py) — the attribution join IS an
    as-of join, so the funnel costs one user_id shuffle. Right side
    deduped to one row per (user, ts) for determinism."""
    from data_lake_spark.operators.asof import asof_join_backward
    from data_lake_spark.operators.upsert import keep_latest

    e = _events_secs(spark, sf_dir)
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = keep_latest(
        e.filter(F.col("event_type") == "view").select("event_id", "user_id", "ts"),
        keys=["user_id", "ts"],
        order_col="event_id",
    ).select("user_id", "ts")
    attributed = asof_join_backward(
        purchases, views, on=["user_id"], ts_col="ts", value_cols=[]
    )
    return (
        attributed.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(
                F.when(
                    F.col("asof_ts").isNotNull()
                    & (F.col("ts") - F.col("asof_ts") <= 1800),
                    1,
                ).otherwise(0)
            ).alias("n_converted"),
        )
        .orderBy("user_id")
    )


ORACLE_FUNNEL = f"""
WITH e AS (
  SELECT event_id, user_id, event_type, epoch_ns(ts) // {_NS} AS ts_s FROM events
),
purchases AS (
  SELECT event_id, user_id, ts_s FROM e WHERE event_type = 'purchase'
),
views_ranked AS (
  SELECT user_id, ts_s,
         ROW_NUMBER() OVER (PARTITION BY user_id, ts_s ORDER BY event_id DESC) AS rn
  FROM e WHERE event_type = 'view'
),
views AS (SELECT user_id, ts_s FROM views_ranked WHERE rn = 1),
attributed AS (
  SELECT p.user_id, p.ts_s, v.ts_s AS asof_ts
  FROM purchases p ASOF LEFT JOIN views v
    ON p.user_id = v.user_id AND p.ts_s >= v.ts_s
)
SELECT user_id, COUNT(*) AS n_purchases,
       CAST(SUM(CASE WHEN asof_ts IS NOT NULL AND ts_s - asof_ts <= 1800
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
FROM attributed GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# cohort_retention — weekly cohorts × week offset
# ---------------------------------------------------------------------------


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention matrix: users grouped by first-seen week
    (cohort), counted as retained in each later week they were active.
    Week buckets are integer epoch-week numbers — no calendar ambiguity
    across engines. Two shuffles total: user→min week, then the distinct
    user-week activity joined back to the per-user cohort."""
    e = _events_secs(spark, sf_dir)
    weeks = e.select("user_id", F.expr(f"ts div {_WEEK}").alias("week"))
    cohort = weeks.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    activity = weeks.distinct()
    return (
        activity.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


ORACLE_COHORT_RETENTION = f"""
WITH weeks AS (
  SELECT user_id, (epoch_ns(ts) // {_NS}) // {_WEEK} AS week FROM events
),
cohort AS (
  SELECT user_id, MIN(week) AS cohort_week FROM weeks GROUP BY 1
),
activity AS (SELECT DISTINCT user_id, week FROM weeks)
SELECT c.cohort_week, a.week - c.cohort_week AS week_offset,
       COUNT(DISTINCT a.user_id) AS n_users
FROM activity a JOIN cohort c ON a.user_id = c.user_id
GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# json_props — semi-structured property extraction
# ---------------------------------------------------------------------------


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction from the events ``props`` column
    (get_json_object — the schema-on-read path for semi-structured
    payloads, the engine-side version of the reference's JSON ingestion,
    SURVEY §2.1 S1). Aggregated per event_type with integer stats."""
    from data_lake_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("k_sum"),
            F.max("k").alias("k_max"),
        )
        .orderBy("event_type")
    )


ORACLE_JSON_PROPS = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS k_sum,
       MAX(CAST(props ->> '$.k' AS BIGINT)) AS k_max
FROM events GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# scd2_history — versioned dimension built from event history
# ---------------------------------------------------------------------------

_OPEN = 99_999_999


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension from event history: each user's latest daily JSON
    property, bucketed, folded into validity intervals by the SCD2
    operator (operators/scd.py — consecutive-duplicate collapse + lead
    window). The reference overwrites its user dim in place and loses
    history (BronzeIngestUsers.py:69-77); this is the lakehouse answer.
    Day keys are integer epoch-days; the open end is a sentinel int."""
    from data_lake_spark.catalog import load_table
    from data_lake_spark.operators.scd import scd2_apply
    from data_lake_spark.operators.upsert import keep_latest

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr(f"(ts div {_NS}) div 86400").alias("day"),
        F.expr(f"ts div {_NS}").alias("ts_s"),
        (F.get_json_object("props", "$.k").cast("long") / 25)
        .cast("long")
        .alias("k_bucket"),
    )
    daily = keep_latest(
        ev, keys=["user_id", "day"], order_col="ts_s", tiebreak=["event_id"]
    ).select("user_id", "k_bucket", F.col("day").alias("eff_date"))
    empty = spark.createDataFrame(
        [], "user_id long, k_bucket long, valid_from long"
    )
    return (
        scd2_apply(
            empty, daily, key="user_id", attrs=["k_bucket"], open_end=_OPEN
        )
        .select("user_id", "k_bucket", "valid_from", "valid_to", "is_current")
        .orderBy("user_id", "valid_from")
    )


ORACLE_SCD2_HISTORY = f"""
WITH e AS (
  SELECT event_id, user_id,
         (epoch_ns(ts) // {_NS}) // 86400 AS day,
         epoch_ns(ts) // {_NS} AS ts_s,
         CAST(props ->> '$.k' AS BIGINT) // 25 AS k_bucket
  FROM events
),
daily AS (
  SELECT user_id, k_bucket, day AS valid_from FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, day
                                 ORDER BY ts_s DESC, event_id DESC) AS rn
    FROM e
  ) WHERE rn = 1
),
changed AS (
  SELECT user_id, k_bucket, valid_from FROM (
    SELECT *, LAG(k_bucket) OVER (PARTITION BY user_id ORDER BY valid_from) AS pk
    FROM daily
  ) WHERE pk IS NULL OR k_bucket != pk
)
SELECT user_id, k_bucket, valid_from,
       COALESCE(LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from),
                {_OPEN}) AS valid_to,
       CAST(COALESCE(LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from),
                {_OPEN}) = {_OPEN} AS BIGINT) AS is_current
FROM changed ORDER BY user_id, valid_from
"""

REGISTRY["sliding_rollup"] = QuerySpec(
    q_sliding_rollup, ORACLE_SLIDING_ROLLUP,
    "30-min/15-min sliding windows per event_type",
)
REGISTRY["funnel"] = QuerySpec(
    q_funnel, ORACLE_FUNNEL,
    "view→purchase funnel via as-of attribution",
)
REGISTRY["cohort_retention"] = QuerySpec(
    q_cohort_retention, ORACLE_COHORT_RETENTION,
    "weekly cohort retention matrix",
)
REGISTRY["json_props"] = QuerySpec(
    q_json_props, ORACLE_JSON_PROPS,
    "JSON property extraction + rollup",
)
REGISTRY["scd2_history"] = QuerySpec(
    q_scd2_history, ORACLE_SCD2_HISTORY,
    "SCD2 versioned dimension folded from event history",
)


# ---------------------------------------------------------------------------
# date_spine_fill — dense daily series with zero-filled gaps
# ---------------------------------------------------------------------------


def q_date_spine_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense daily revenue series over the full order-date range:
    per-day totals left-joined onto a generated date spine, gaps filled
    with zero and flagged. In-engine replacement for the reference's
    Python null-fill (earnings.py:162-213)."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d"), "o_totalprice"
    )
    daily = orders.groupBy("d").agg(
        sum_exact("o_totalprice").alias("revenue"),
        F.count("*").alias("n_orders"),
    )
    spine = (
        orders.agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
        .select(F.explode(F.sequence("mn", "mx")).alias("d"))
    )
    return (
        spine.join(daily, "d", "left")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("report_date"),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
            F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
            F.col("revenue").isNull().cast("long").alias("was_missing"),
        )
        .orderBy("report_date")
    )


ORACLE_DATE_SPINE_FILL = f"""
WITH o AS (
  SELECT CAST(o_orderdate AS DATE) AS d, o_totalprice FROM orders
),
daily AS (
  SELECT d, {oracle_sum_exact("o_totalprice")} AS revenue,
         COUNT(*) AS n_orders
  FROM o GROUP BY 1
),
rng AS (SELECT MIN(d) AS mn, MAX(d) AS mx FROM o),
spine AS (
  SELECT CAST(UNNEST(GENERATE_SERIES(mn, mx, INTERVAL 1 DAY)) AS DATE) AS d
  FROM rng
)
SELECT STRFTIME(s.d, '%Y-%m-%d') AS report_date,
       COALESCE(daily.revenue, 0.0) AS revenue,
       COALESCE(daily.n_orders, 0) AS n_orders,
       CAST(daily.revenue IS NULL AS BIGINT) AS was_missing
FROM spine s LEFT JOIN daily ON s.d = daily.d
ORDER BY report_date
"""


# ---------------------------------------------------------------------------
# unpivot_metrics — wide→long melt of a multi-metric aggregate
# ---------------------------------------------------------------------------


def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation multi-metric aggregate melted to long form with the
    built-in ``unpivot`` (wide→long is a zero-shuffle projection after
    the one aggregate shuffle) — the tidy-series shape the reference's
    dashboards reshape client-side."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    wide = (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            sum_exact("c_acctbal").alias("total_balance"),
            F.count("*").cast("double").alias("n_customers"),
        )
    )
    return (
        wide.unpivot(
            "nation",
            ["total_balance", "n_customers"],
            "metric",
            "value",
        )
        .orderBy("nation", "metric")
    )


ORACLE_UNPIVOT_METRICS = f"""
WITH wide AS (
  SELECT n.n_name AS nation,
         {oracle_sum_exact("c.c_acctbal")} AS total_balance,
         CAST(COUNT(*) AS DOUBLE) AS n_customers
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1
)
SELECT nation, 'total_balance' AS metric, total_balance AS value FROM wide
UNION ALL
SELECT nation, 'n_customers', n_customers FROM wide
ORDER BY nation, metric
"""


# ---------------------------------------------------------------------------
# session_native — built-in session_window sessionization
# ---------------------------------------------------------------------------


def q_session_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions via the native ``F.session_window`` (30-minute
    gap): one groupBy on (user, session_window) — the operator Structured
    Streaming runs with managed state, here on its batch face. New
    session only at gap > 30 min (closed envelope, see module
    docstring)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "value",
        F.timestamp_seconds(F.expr(f"ts div {_NS}")).alias("tss"),
    )
    return (
        ev.groupBy("user_id", F.session_window("tss", "30 minutes"))
        .agg(
            F.count("*").alias("n_events"),
            sum_exact("value").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").cast("long").alias("start_s"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "start_s")
    )


ORACLE_SESSION_NATIVE = f"""
WITH e AS (
  SELECT user_id, value, epoch_ns(ts) // {_NS} AS ts_s FROM events
),
flagged AS (
  SELECT user_id, value, ts_s,
         CASE WHEN LAG(ts_s) OVER w IS NULL
                OR ts_s - LAG(ts_s) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s)
),
sess AS (
  SELECT user_id, value, ts_s,
         CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_s) AS BIGINT)
           AS session_seq
  FROM flagged
)
SELECT user_id, MIN(ts_s) AS start_s,
       COUNT(*) AS n_events,
       {oracle_sum_exact('value')} AS total_value
FROM sess GROUP BY user_id, session_seq
ORDER BY user_id, start_s
"""


# ---------------------------------------------------------------------------
# top_paths — most common event sequences per session
# ---------------------------------------------------------------------------


def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis: sessionize (30-min gap), take each session's first
    5 events in time order, join them into a '>'-separated path string,
    rank the 20 most common paths. The collect_list is ordered
    deterministically by sorting (ts, event_id) structs — collect order
    is partition-dependent, array_sort makes it reproducible at any
    cluster size."""
    from data_lake_spark.streaming.incremental import sessionize

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.expr(f"ts div {_NS}").alias("ts"),
    )
    sess = sessionize(ev, gap_minutes=30)
    paths = (
        sess.groupBy("user_id", "session_seq")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("evs")
        )
        .select(
            F.concat_ws(
                ">",
                F.transform(F.slice("evs", 1, 5), lambda x: x["event_type"]),
            ).alias("path")
        )
    )
    agg = paths.groupBy("path").agg(F.count("*").alias("n_sessions"))
    # top-20 via TakeOrderedAndProject (per-partition heaps — the path
    # dimension can be huge at scale), ranked in the same pass over the
    # k-bounded survivors: no unbounded single-reducer window, no extra
    # materialization jobs.
    keys = [F.col("n_sessions").desc(), F.col("path").asc()]
    return (
        ranked_top_k(agg, keys, 20, "rk")
        .withColumn("rk", F.col("rk").cast("long"))
        .select("path", "n_sessions", "rk")
        .orderBy("rk")
    )


ORACLE_TOP_PATHS = f"""
WITH e AS (
  SELECT event_id, user_id, event_type, epoch_ns(ts) // {_NS} AS ts_s
  FROM events
),
flagged AS (
  SELECT *, CASE WHEN LAG(ts_s) OVER w IS NULL
                   OR ts_s - LAG(ts_s) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)
),
sess AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id)
              AS session_seq
  FROM flagged
),
first5 AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, session_seq
                                 ORDER BY ts_s, event_id) AS rn
    FROM sess
  ) WHERE rn <= 5
),
paths AS (
  SELECT STRING_AGG(event_type, '>' ORDER BY ts_s, event_id) AS path
  FROM first5 GROUP BY user_id, session_seq
)
SELECT path, COUNT(*) AS n_sessions,
       CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, path) AS BIGINT) AS rk
FROM paths GROUP BY path
QUALIFY rk <= 20 ORDER BY rk
"""

REGISTRY["top_paths"] = QuerySpec(
    q_top_paths, ORACLE_TOP_PATHS,
    "top-20 session event paths (ordered first-5 sequence mining)",
)
REGISTRY["date_spine_fill"] = QuerySpec(
    q_date_spine_fill, ORACLE_DATE_SPINE_FILL,
    "dense daily series: generated date spine + zero-filled gaps",
)
REGISTRY["unpivot_metrics"] = QuerySpec(
    q_unpivot_metrics, ORACLE_UNPIVOT_METRICS,
    "wide→long unpivot of a multi-metric aggregate",
)
REGISTRY["session_native"] = QuerySpec(
    q_session_native, ORACLE_SESSION_NATIVE,
    "native session_window gap sessionization (streaming-capable)",
)

# only large orders: leaves ~340 of 2405 days empty at sf0.01 — real
# gaps for the interpolator to fill
_MIN_PRICE = 350000


def q_gap_fill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily large-order revenue on a dense date spine; missing days
    linearly interpolated between the bracketing observed days (edges
    forward/back-filled). prev/next come from ignore-nulls running
    first/last over the calendar-bounded series."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > _MIN_PRICE
    ).select(F.to_date("o_orderdate").alias("d"), "o_totalprice")
    daily = o.groupBy("d").agg(sum_exact("o_totalprice").alias("revenue"))
    spine = (
        o.agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
        .select(F.explode(F.sequence("mn", "mx")).alias("d"))
    )
    s = spine.join(daily, "d", "left")
    wb = (
        Window.partitionBy(F.lit(0))
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy(F.lit(0))
        .orderBy("d")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    known_d = F.when(F.col("revenue").isNotNull(), F.col("d"))
    s = s.select(
        "d",
        "revenue",
        F.last("revenue", ignorenulls=True).over(wb).alias("prev_v"),
        F.last(known_d, ignorenulls=True).over(wb).alias("prev_d"),
        F.first("revenue", ignorenulls=True).over(wf).alias("next_v"),
        F.first(known_d, ignorenulls=True).over(wf).alias("next_d"),
    )
    filled = (
        F.when(F.col("revenue").isNotNull(), F.col("revenue"))
        .when(F.col("prev_v").isNull(), F.col("next_v"))
        .when(F.col("next_v").isNull(), F.col("prev_v"))
        .otherwise(
            F.col("prev_v")
            + (F.col("next_v") - F.col("prev_v"))
            * (
                F.datediff("d", "prev_d")
                / F.datediff("next_d", "prev_d")
            )
        )
    )
    return s.select(
        F.date_format("d", "yyyy-MM-dd").alias("report_date"),
        filled.alias("revenue_filled"),
        F.col("revenue").isNull().cast("long").alias("was_interpolated"),
    ).orderBy("report_date")


ORACLE_GAP_FILL_INTERP = f"""
WITH o AS (
  SELECT CAST(o_orderdate AS DATE) AS d, o_totalprice
  FROM orders WHERE o_totalprice > {_MIN_PRICE}
),
daily AS (
  SELECT d, {oracle_sum_exact("o_totalprice")} AS revenue FROM o GROUP BY 1
),
rng AS (SELECT MIN(d) AS mn, MAX(d) AS mx FROM o),
spine AS (
  SELECT CAST(UNNEST(GENERATE_SERIES(mn, mx, INTERVAL 1 DAY)) AS DATE) AS d
  FROM rng
),
s AS (SELECT spine.d, daily.revenue FROM spine LEFT JOIN daily ON spine.d = daily.d),
f AS (
  SELECT d, revenue,
         LAST_VALUE(revenue IGNORE NULLS) OVER
           (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
         LAST_VALUE(CASE WHEN revenue IS NOT NULL THEN d END IGNORE NULLS) OVER
           (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_d,
         FIRST_VALUE(revenue IGNORE NULLS) OVER
           (ORDER BY d ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
         FIRST_VALUE(CASE WHEN revenue IS NOT NULL THEN d END IGNORE NULLS) OVER
           (ORDER BY d ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_d
  FROM s
)
SELECT STRFTIME(d, '%Y-%m-%d') AS report_date,
       CASE WHEN revenue IS NOT NULL THEN revenue
            WHEN prev_v IS NULL THEN next_v
            WHEN next_v IS NULL THEN prev_v
            ELSE prev_v + (next_v - prev_v) *
                 ((d - prev_d) / CAST(next_d - prev_d AS DOUBLE))
       END AS revenue_filled,
       CASE WHEN revenue IS NULL THEN 1 ELSE 0 END AS was_interpolated
FROM f ORDER BY report_date
"""

REGISTRY["gap_fill_interp"] = QuerySpec(
    q_gap_fill_interp,
    ORACLE_GAP_FILL_INTERP,
    "date-spine gap fill with linear interpolation between observed days",
)


# ---------------------------------------------------------------------------
# trend_slopes — grouped OLS regression, closed-form over exact sums
# ---------------------------------------------------------------------------


def q_trend_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-market-segment revenue trend: the least-squares slope (and
    intercept) of monthly revenue against a month index, fitted
    IN-ENGINE from the closed-form normal equations — no driver-side
    math, no iterative solver.

    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) over the per-segment
    monthly points. Everything up to the final division is INTEGER:
    x = months since 1992-01 (≤ ~84), y = monthly revenue in whole
    cents (the functions/exact.py floor recipe), so the sums are exact
    and order-independent — the fit is bit-identical across engines
    and cluster sizes. int64 headroom: at SF 1, Σy ≈ 4.5e12 cents per
    segment, n·Σxy ≤ 84·84·4.5e12 ≈ 3.2e16 ≪ 2⁶³; the closed form
    stays overflow-free under ANSI mode past SF 100.

    Plan: broadcast the customer dim into the fact scan, ONE shuffle
    for the (segment, month) rollup, then a segment-count aggregation —
    map-side-combinable all the way; only 5 fitted rows leave."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (
            (F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate") - 1
        )
        .cast("long")
        .alias("x"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    monthly = (
        o.join(F.broadcast(c), "o_custkey")
        .groupBy("c_mktsegment", "x")
        .agg(F.sum("cents").alias("y"))
    )
    fit = monthly.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_months"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n_months") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n_months") * F.col("sxx") - F.col("sx") * F.col("sx")
    # den = 0 ⇔ fewer than two distinct months in the group: no defined
    # slope — guard explicitly, because ANSI mode (Spark 4 default)
    # turns double division by zero into a hard DIVIDE_BY_ZERO error
    # that would kill the whole query, not an IEEE Inf
    raw_slope = num.cast("double") / den.cast("double")
    slope = F.when(den != 0, raw_slope)
    intercept = F.when(
        den != 0,
        (
            F.col("sy").cast("double")
            - raw_slope * F.col("sx").cast("double")
        )
        / F.col("n_months").cast("double"),
    )
    return fit.select(
        "c_mktsegment",
        "n_months",
        slope.alias("slope_cents_mo"),
        intercept.alias("intercept_cents"),
    ).orderBy("c_mktsegment")


ORACLE_TREND_SLOPES = """
WITH o AS (
  SELECT o_custkey,
         CAST((YEAR(o_orderdate) - 1992) * 12
              + MONTH(o_orderdate) - 1 AS BIGINT) AS x,
         CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
monthly AS (
  SELECT c.c_mktsegment, o.x, CAST(SUM(o.cents) AS BIGINT) AS y
  FROM o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
fit AS (
  SELECT c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS n_months,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM monthly GROUP BY 1
)
SELECT c_mktsegment, n_months,
       CASE WHEN n_months * sxx - sx * sx = 0 THEN NULL
            ELSE CAST(n_months * sxy - sx * sy AS DOUBLE)
                 / CAST(n_months * sxx - sx * sx AS DOUBLE)
       END AS slope_cents_mo,
       CASE WHEN n_months * sxx - sx * sx = 0 THEN NULL
            ELSE (CAST(sy AS DOUBLE)
                  - (CAST(n_months * sxy - sx * sy AS DOUBLE)
                     / CAST(n_months * sxx - sx * sx AS DOUBLE))
                    * CAST(sx AS DOUBLE))
                 / CAST(n_months AS DOUBLE)
       END AS intercept_cents
FROM fit ORDER BY c_mktsegment
"""


REGISTRY["trend_slopes"] = QuerySpec(
    q_trend_slopes,
    ORACLE_TREND_SLOPES,
    "per-segment monthly-revenue OLS slope/intercept from closed-form "
    "normal equations over exact integer sums",
)


# ---------------------------------------------------------------------------
# interval_overlap — chunked interval join: sessions × incident windows
# ---------------------------------------------------------------------------

_GAP_MIN = 30
_INC_LEN_S = 1800
_CHUNK_S = 3600
_INC_SAMPLE = 20  # every 20th error event opens an incident window


def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which user sessions overlap which incident windows — the classic
    interval-overlap join, planned with operators/rangejoin.interval_join
    (explode onto 1-hour chunks → hash equi-join → exact-once canonical
    chunk; Spark has no native interval join and the naive form is a
    pair-space nested loop). Sessions are the 30-min-gap sessionization
    (the session_stats shape); incidents are 30-min windows opened by a
    deterministic sample of error events. Overlap seconds are exact
    integer arithmetic end to end."""
    from data_lake_spark.operators.rangejoin import interval_join
    from data_lake_spark.streaming.incremental import sessionize

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.expr("ts div 1000000000").alias("ts"),
    )
    sessions = (
        sessionize(ev, gap_minutes=_GAP_MIN)
        .groupBy("user_id", "session_seq")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    incidents = ev.filter(
        (F.col("event_type") == "error")
        & (F.col("event_id") % _INC_SAMPLE == 0)
    ).select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("i_start"),
        (F.col("ts") + _INC_LEN_S).alias("i_end"),
    )
    return (
        interval_join(
            sessions, incidents, "s_start", "s_end", "i_start", "i_end",
            chunk=_CHUNK_S,
        )
        .select(
            "incident_id",
            "user_id",
            "session_seq",
            (
                F.least("s_end", "i_end") - F.greatest("s_start", "i_start")
            ).alias("overlap_s"),
        )
        .orderBy("incident_id", "user_id", "session_seq")
    )


ORACLE_INTERVAL_OVERLAP = f"""
WITH e AS (
  SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000000000 AS ts
  FROM events
),
flagged AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w > {_GAP_MIN * 60} THEN 1 ELSE 0 END
           AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts,
         CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT)
           AS session_seq
  FROM flagged
),
sessions AS (
  SELECT user_id, session_seq,
         MIN(ts) AS s_start, MAX(ts) AS s_end
  FROM sess GROUP BY 1, 2
),
incidents AS (
  SELECT event_id AS incident_id, ts AS i_start, ts + {_INC_LEN_S} AS i_end
  FROM e
  WHERE event_type = 'error' AND event_id % {_INC_SAMPLE} = 0
)
SELECT i.incident_id, s.user_id, s.session_seq,
       LEAST(s.s_end, i.i_end) - GREATEST(s.s_start, i.i_start) AS overlap_s
FROM sessions s JOIN incidents i
  ON s.s_start <= i.i_end AND i.i_start <= s.s_end
ORDER BY i.incident_id, s.user_id, s.session_seq
"""


REGISTRY["interval_overlap"] = QuerySpec(
    q_interval_overlap,
    ORACLE_INTERVAL_OVERLAP,
    "chunked interval-overlap join: 30-min-gap sessions x incident "
    "windows, exact-once via the canonical-chunk trick",
)
