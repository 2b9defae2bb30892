"""Approximate (sketch-based) aggregation queries — the operators that make
100 TB interactive: HyperLogLog++ and theta distinct counts, t-digest and
KLL-style quantiles, frequent items, and the key-skew pre-flight report.
Sketches run in O(sketch) memory per group and merge associatively across
partitions, where their exact twins need a full shuffle of the distinct
values (or a sort).

Sketch values themselves are engine-specific (Spark HLL++ /
approx-percentile internals), so cross-engine equality on the raw sketch
output is undefined. The driver-checkable contract is instead: each query
computes BOTH the sketch and its exact twin in-engine, reduces the sketch
to a ``within_tolerance`` boolean, and returns only the exact columns plus
that boolean. The DuckDB oracle recomputes the exact columns and asserts
``within_tolerance = true`` — so a sketch drifting outside its error bound
is a hard driver mismatch, not an unverifiable rows-only pass. The finer
accuracy characterization stays in tests/test_sketches.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_lake_spark.queries import QuerySpec
from data_lake_spark.queries.temporal import _events_secs

REGISTRY: dict[str, QuerySpec] = {}

# HLL++ relative standard deviation we request, and the bound we assert.
# rsd is one standard error; 3σ covers ~99.7% of groups, and the driver
# checks a handful of groups, so 3σ is a safe hard bound.
_HLL_RSD = 0.02
_HLL_BOUND = 3 * _HLL_RSD

# percentile_approx accuracy parameter → rank error ≤ 1/accuracy. The
# sketch returns an order statistic, so the correct bound is on RANK, not
# value: the returned element must lie between the exact percentiles at
# q ± _PCT_RANK_EPS. 0.03 covers the sketch's 1/10000 rank error plus the
# element-vs-interpolation offset (~1/n) for groups of ≥100 rows; value
# gaps in sparse tails don't false-alarm under a rank bound.
_PCT_ACCURACY = 10000
_PCT_RANK_EPS = 0.03


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event_type: HLL++ sketch (rsd 2%) beside the
    exact count, reduced to a within-3σ boolean. At scale the sketch is a
    map-side-mergeable fixed-size state; the exact count re-shuffles every
    distinct (event_type, user_id) pair."""
    e = _events_secs(spark, sf_dir)
    agg = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=_HLL_RSD).alias("approx_users"),
        F.count_distinct("user_id").alias("exact_users"),
        F.count(F.lit(1)).alias("n_events"),
    )
    rel_err = F.abs(
        F.col("approx_users").cast("double") - F.col("exact_users").cast("double")
    ) / F.col("exact_users").cast("double")
    return agg.select(
        "event_type",
        "exact_users",
        "n_events",
        (rel_err <= F.lit(_HLL_BOUND)).alias("within_tolerance"),
    ).orderBy("event_type")


ORACLE_APPROX_DISTINCT = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       COUNT(*) AS n_events,
       TRUE AS within_tolerance
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value quantiles per event_type via the approx-percentile sketch
    (accuracy 10000) beside the exact F.percentile (bit-identical to
    DuckDB QUANTILE_CONT), reduced to a rank-bound boolean: each sketch
    value must lie between the exact percentiles at q ± 0.03 — the
    pattern for latency/size distributions at corpus scale, where exact
    percentile means a per-group sort."""
    e = _events_secs(spark, sf_dir)
    qs = [0.5, 0.9, 0.99]
    lo_fr = [max(0.0, q - _PCT_RANK_EPS) for q in qs]
    hi_fr = [min(1.0, q + _PCT_RANK_EPS) for q in qs]
    agg = e.groupBy("event_type").agg(
        F.percentile_approx("value", qs, _PCT_ACCURACY).alias("approx_q"),
        F.percentile("value", F.lit(qs)).alias("exact_q"),
        F.percentile("value", F.lit(lo_fr)).alias("lo_q"),
        F.percentile("value", F.lit(hi_fr)).alias("hi_q"),
    )
    eps = F.lit(1e-9)
    within = (
        (F.col("approx_q")[0] >= F.col("lo_q")[0] - eps)
        & (F.col("approx_q")[0] <= F.col("hi_q")[0] + eps)
        & (F.col("approx_q")[1] >= F.col("lo_q")[1] - eps)
        & (F.col("approx_q")[1] <= F.col("hi_q")[1] + eps)
        & (F.col("approx_q")[2] >= F.col("lo_q")[2] - eps)
        & (F.col("approx_q")[2] <= F.col("hi_q")[2] + eps)
    )
    return agg.select(
        "event_type",
        F.col("exact_q")[0].alias("p50_exact"),
        F.col("exact_q")[1].alias("p90_exact"),
        F.col("exact_q")[2].alias("p99_exact"),
        within.alias("within_tolerance"),
    ).orderBy("event_type")


ORACLE_QUANTILE_SKETCH = """
SELECT event_type,
       QUANTILE_CONT(value, 0.5) AS p50_exact,
       QUANTILE_CONT(value, 0.9) AS p90_exact,
       QUANTILE_CONT(value, 0.99) AS p99_exact,
       TRUE AS within_tolerance
FROM events GROUP BY event_type ORDER BY event_type
"""

REGISTRY["approx_distinct"] = QuerySpec(
    q_approx_distinct, ORACLE_APPROX_DISTINCT,
    "HLL++ distinct-count sketch reduced to a within-3σ boolean beside "
    "the exact count (oracle asserts the exact columns and the bound)",
)
REGISTRY["quantile_sketch"] = QuerySpec(
    q_quantile_sketch, ORACLE_QUANTILE_SKETCH,
    "approx-percentile sketch reduced to a within-1%-of-range boolean "
    "beside exact percentiles (oracle asserts exact columns and bound)",
)

# freqItems support threshold: the algorithm (Karp/Shenker/Papadimitriou
# one-pass majority generalization) guarantees a SUPERSET of the items
# with frequency > support — the checkable contract below.
_FI_SUPPORT = 0.05

# theta sketch default lgK=12 → relative standard error ≈ 1/sqrt(2^12)
# ≈ 1.6%; 3σ hard bound.
_THETA_BOUND = 3 * 0.016


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent event types via the one-pass distributed frequent-items
    sketch beside exact counts. The sketch's guarantee — every key with
    row share > support IS in the returned set (false positives allowed,
    false negatives impossible) — is reduced to a per-key boolean. At
    100 TB the sketch is fixed-size per partition and merges in one
    combine; the exact counts here are the dim-sized verification side."""
    e = _events_secs(spark, sf_dir)
    freq = e.stat.freqItems(["event_type"], support=_FI_SUPPORT)
    counts = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    tot = counts.agg(F.sum("cnt").alias("n_rows"))
    return (
        counts.crossJoin(F.broadcast(freq))
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "cnt",
            (F.col("cnt") / F.col("n_rows")).alias("share"),
            (
                (F.col("cnt") / F.col("n_rows") <= F.lit(_FI_SUPPORT))
                | F.array_contains(
                    F.col("event_type_freqItems"), F.col("event_type")
                )
            ).alias("within_tolerance"),
        )
        .orderBy("event_type")
    )


ORACLE_HEAVY_HITTERS = """
WITH counts AS (
  SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY 1
),
tot AS (SELECT SUM(cnt) AS n_rows FROM counts)
SELECT event_type, cnt,
       cnt / CAST(n_rows AS DOUBLE) AS share,
       TRUE AS within_tolerance
FROM counts CROSS JOIN tot
ORDER BY event_type
"""


def q_theta_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count: one theta sketch of user_id PER event
    type, then a sketch-union across types estimates total distinct
    users WITHOUT re-touching the raw rows — the property that lets
    100 TB dashboards union per-partition/per-day sketches instead of
    re-shuffling ids. Exact twin computed beside it; 3σ bound."""
    e = _events_secs(spark, sf_dir)
    per_type = e.groupBy("event_type").agg(
        F.theta_sketch_agg(F.col("user_id").cast("string")).alias("sk")
    )
    merged = per_type.agg(
        F.theta_sketch_estimate(F.theta_union_agg("sk")).alias("approx_users"),
        F.count(F.lit(1)).alias("n_types"),
    )
    exact = e.agg(F.count_distinct("user_id").alias("exact_users"))
    rel_err = F.abs(
        F.col("approx_users").cast("double") - F.col("exact_users").cast("double")
    ) / F.col("exact_users").cast("double")
    return (
        merged.crossJoin(F.broadcast(exact))
        .select(
            "n_types",
            "exact_users",
            (rel_err <= F.lit(_THETA_BOUND)).alias("within_tolerance"),
        )
    )


ORACLE_THETA_DISTINCT = """
SELECT COUNT(DISTINCT event_type) AS n_types,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS within_tolerance
FROM events
"""


# KLL rank error ≈ 1.65% at the k=200 default, ~0.4% at the k=800 the
# query uses; check each sketch quantile against the exact percentiles
# at q ± 0.03 — same rank-bound contract as
# queries/sketches.q_quantile_sketch, held with many σ of margin.
_KLL_RANK_EPS = 0.03


def kll_merged_quantiles(
    grouped: DataFrame, group_col: str, qs: list[float]
) -> DataFrame:
    """Fold per-group KLL sketches (``sk`` column) into one global
    sketch and read ``qs`` quantiles — (n_groups, approx_q).

    KLL merge is order-sensitive, so the fold order must not depend on
    partitioning: the sketches are collected as (group, sk) structs and
    array_sort-ed on the unique group key before folding — same cost,
    canonical order. Note the merged ESTIMATE is still randomized:
    Spark's datasketches KLL compacts with unseeded coin flips, so even
    a fixed input in a fixed order varies run to run (measured here:
    ~±0.5% rank at k=200). The sort removes the one variance source we
    control; callers guarding a tolerance near the rank bound should
    raise the sketch ``k`` instead (error ~ O(1/k); q_kll_quantile uses
    k=800 so its ±3% check has many σ of headroom).

    Scale bound: collect_list gathers ONE fixed-size sketch per group
    into a single row, so this final fold is O(n_groups × sketch_size)
    on one task — fine for dim-sized group keys (event types, days,
    partitions: ≤ ~10^4, see the 10³-group test). For a high-cardinality
    group key, pre-reduce first: add a coarse bucket column (e.g.
    ``group_hash % 256``), kll_sketch_agg per bucket, then fold the 256
    bucket sketches here — a standard two-level tree merge; sketches
    make the two shapes equivalent by design."""
    sorted_sks = F.array_sort(
        F.collect_list(F.struct(F.col(group_col).alias("g"), F.col("sk")))
    )
    return grouped.agg(
        sorted_sks.alias("sks"),
        F.count(F.lit(1)).alias("n_groups"),
    ).select(
        "n_groups",
        F.kll_sketch_get_quantile_double(
            F.aggregate(
                F.slice(F.col("sks"), 2, 1_000_000),
                F.element_at(F.col("sks"), 1)["sk"],
                lambda acc, s: F.kll_sketch_merge_double(acc, s["sk"]),
            ),
            F.lit(qs),
        ).alias("approx_q"),
    )


def q_kll_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantiles: one KLL sketch of value PER event type,
    folded into a single global sketch with the binary merge — global
    p50/p90/p99 WITHOUT re-touching any raw row. The same
    partial-then-merge shape per-day/per-partition sketches use on a
    100 TB latency dashboard. Exact twin beside it; rank-bound check."""
    e = _events_secs(spark, sf_dir)
    # k=800 (vs the 200 default): rank error ~0.4%, so the ±3% check
    # below sits many σ inside the bound — the randomized merge (see
    # kll_merged_quantiles) cannot realistically flip within_tolerance
    per_type = e.groupBy("event_type").agg(
        F.kll_sketch_agg_double("value", 800).alias("sk")
    )
    qs = [0.5, 0.9, 0.99]
    lo = [max(0.0, q - _KLL_RANK_EPS) for q in qs]
    hi = [min(1.0, q + _KLL_RANK_EPS) for q in qs]
    merged = kll_merged_quantiles(per_type, "event_type", qs).select(
        F.col("n_groups").alias("n_types"), "approx_q"
    )
    exact = e.agg(
        F.percentile("value", F.lit(qs)).alias("exact_q"),
        F.percentile("value", F.lit(lo)).alias("lo_q"),
        F.percentile("value", F.lit(hi)).alias("hi_q"),
    )
    eps = F.lit(1e-9)
    within = (
        (F.col("approx_q")[0] >= F.col("lo_q")[0] - eps)
        & (F.col("approx_q")[0] <= F.col("hi_q")[0] + eps)
        & (F.col("approx_q")[1] >= F.col("lo_q")[1] - eps)
        & (F.col("approx_q")[1] <= F.col("hi_q")[1] + eps)
        & (F.col("approx_q")[2] >= F.col("lo_q")[2] - eps)
        & (F.col("approx_q")[2] <= F.col("hi_q")[2] + eps)
    )
    return merged.crossJoin(F.broadcast(exact)).select(
        "n_types",
        F.col("exact_q")[0].alias("p50_exact"),
        F.col("exact_q")[1].alias("p90_exact"),
        F.col("exact_q")[2].alias("p99_exact"),
        within.alias("within_tolerance"),
    )


ORACLE_KLL_QUANTILE = """
SELECT COUNT(DISTINCT event_type) AS n_types,
       QUANTILE_CONT(value, 0.5) AS p50_exact,
       QUANTILE_CONT(value, 0.9) AS p90_exact,
       QUANTILE_CONT(value, 0.99) AS p99_exact,
       TRUE AS within_tolerance
FROM events
"""


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-flight skew diagnosis (operators/skew.py) as a driver
    query: top-10 heaviest join keys with row share and skew ratio vs
    the uniform share — the number that says whether a join on this key
    needs salting or AQE skew splitting before it runs at 100 TB."""
    from data_lake_spark.operators.skew import key_skew_report

    e = _events_secs(spark, sf_dir)
    return key_skew_report(e, "user_id", top_k=10).orderBy("rank")


ORACLE_SKEW_REPORT = """
WITH counts AS (
  SELECT user_id AS key_raw, COUNT(*) AS cnt
  FROM events GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows, COUNT(*) AS n_keys FROM counts
)
-- ties break on the key's ORIGINAL (numeric) type, as the Spark
-- operator orders before its final cast-to-string
SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, key_raw) AS INT) AS rank,
       CAST(key_raw AS VARCHAR) AS key_value, cnt,
       cnt / CAST(n_rows AS DOUBLE) AS row_share,
       cnt / CAST(n_rows AS DOUBLE) * n_keys AS skew_ratio
FROM counts CROSS JOIN tot
ORDER BY cnt DESC, key_raw
LIMIT 10
"""

REGISTRY["heavy_hitters"] = QuerySpec(
    q_heavy_hitters, ORACLE_HEAVY_HITTERS,
    "one-pass frequent-items sketch: superset guarantee checked "
    "per key beside exact counts",
)
REGISTRY["theta_distinct"] = QuerySpec(
    q_theta_distinct, ORACLE_THETA_DISTINCT,
    "per-group theta sketches union-merged to a total distinct "
    "estimate beside the exact count",
)
REGISTRY["skew_report"] = QuerySpec(
    q_skew_report, ORACLE_SKEW_REPORT,
    "top-10 join-key heavy hitters with share and skew ratio",
)
REGISTRY["kll_quantile"] = QuerySpec(
    q_kll_quantile, ORACLE_KLL_QUANTILE,
    "per-group KLL sketches merged to global quantiles beside the "
    "exact percentiles (rank-bound check)",
)
