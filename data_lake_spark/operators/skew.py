"""Key-skew diagnosis: measure before salting.

The salted-join operator (operators/partitioning.py) needs a salt
factor; AQE's skew handling needs to be confirmed, not assumed. This
report quantifies a join/group key's distribution in one pass:
top-k heavy hitters, the share of rows they hold, and the ratio of the
heaviest key to a perfectly uniform share — the number that says whether
one reducer will own 30% of the shuffle.

One groupBy on the key (the same shuffle the join would do, but carrying
only counts), then a dim-sized top-k — cheap enough to run as a
pre-flight on a 100 TB input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def key_skew_report(df: DataFrame, key: str, top_k: int = 10) -> DataFrame:
    """Per heavy-hitter: count, share of all rows, and skew ratio vs the
    uniform share (rows / distinct keys). skew_ratio ~1 = uniform;
    >> 1 = salt this key or rely on AQE skew-join splitting."""
    # counts feeds BOTH totals and the top-k probe; materialize it once
    # (same pattern as textdedup and dedup.q_embedding_neardup) so the full-input groupBy shuffle
    # runs a single time instead of once per consumer.
    counts = df.groupBy(F.col(key).alias("key_value")).agg(
        F.count(F.lit(1)).alias("cnt")
    ).localCheckpoint(eager=False)
    totals = counts.agg(
        F.sum("cnt").alias("n_rows"), F.count(F.lit(1)).alias("n_keys")
    )
    # orderBy+limit plans as TakeOrderedAndProject (per-partition top-k +
    # k-sized merge) — NOT a single-partition global sort, so this stays
    # cheap at billions of distinct keys. The rank window then runs over
    # only top_k rows.
    top = counts.orderBy(F.col("cnt").desc(), F.col("key_value")).limit(top_k)
    w = Window.orderBy(F.col("cnt").desc(), F.col("key_value"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .crossJoin(F.broadcast(totals))
        .select(
            "rank",
            F.col("key_value").cast("string").alias("key_value"),
            "cnt",
            (F.col("cnt") / F.col("n_rows")).alias("row_share"),
            # one division then one multiply (not cnt/(n_rows/n_keys)):
            # fewer roundings, and the same IEEE result is reproducible
            # in any engine that evaluates div-then-mul
            (
                F.col("cnt") / F.col("n_rows") * F.col("n_keys")
            ).alias("skew_ratio"),
        )
        .orderBy("rank")
    )


def suggest_salt_factor(
    df: DataFrame, key: str, target_ratio: float = 2.0
) -> int:
    """Salt buckets needed to bring the heaviest key down to
    ``target_ratio``× the uniform share (1 = no salting needed)."""
    top = key_skew_report(df, key, top_k=1).collect()
    if not top:
        return 1
    import math

    return max(1, math.ceil(top[0]["skew_ratio"] / target_ratio))
