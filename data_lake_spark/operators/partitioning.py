"""Physical-layout operators for the 100 TB posture: bucketed co-located
joins, skew-salted joins, and partitioned-table layout helpers.

The reference delegates physical layout to S3 prefixes + Athena
(`/root/reference/src/glue_jobs/streamate/bronze_ingest_streamate_mock.py:51-52`
partitions bronze by processing_date; everything else is unpartitioned).
At 100 TB those choices dominate runtime, so this module makes them
first-class:

- :func:`write_bucketed` / :func:`bucketed_join` — pre-shuffle both fact
  tables into the same bucket layout once at write time; every subsequent
  equi-join on the bucket key runs with ZERO Exchange (verified by plan
  assertion in tests). This is how repeated fact-fact joins (platform
  earnings vs platform earnings, daily vs daily) avoid re-shuffling 100 TB
  per query.
- :func:`salted_join` — disjoint-key-safe skew mitigation: the big side
  spreads each hot key across ``n_salts`` shuffle partitions; the small
  side is replicated across salts. Deterministic (salt = hash of the big
  side's whole row, not a RNG), so results are reproducible and
  hash-checkable.
- :func:`write_partitioned` — date/key-partitioned parquet layout so
  partition pruning (the Athena cost guardrail's real replacement) kicks
  in on every time-bounded query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def shuffle_parallelism(spark: SparkSession) -> int:
    """The session's shuffle width as an int, for explicit repartition
    counts. Reads ``spark.sql.shuffle.partitions`` but falls back to
    ``sparkContext.defaultParallelism`` when the conf is non-numeric —
    some AQE-managed distributions set it to ``"auto"``, and a bare
    ``int(conf)`` would crash the operator before any work ran."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (ValueError, TypeError):
        return spark.sparkContext.defaultParallelism


def decode_spread(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """One narrow round-robin exchange of (doc_id, text) before a
    media synthesis + Arrow decode pass: the testdata corpus ships as
    a single parquet row group (see the session.py note), so without
    it the per-media Python decode serializes on ONE task. Sized from
    the session's shuffle width — scale-adaptive, never a local[32]
    literal; on cluster files with real splits the exchange is
    redundant but stays narrow (r11, guide §2.2/§2.6)."""
    return docs.repartition(shuffle_parallelism(spark))


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Partitioned parquet layout (S4 at scale): time-bounded queries prune
    whole directories instead of row-group-filtering them."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` hash-bucketed by ``bucket_cols`` (and optionally
    sorted within buckets) via the session catalog. Two tables bucketed
    the same way equi-join with no shuffle on either side."""
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: list[str],
    how: str = "inner",
) -> DataFrame:
    """Join two same-bucketed catalog tables on their bucket key. With
    matching bucket specs Spark plans a shuffle-free (and, if sorted,
    sort-free) sort-merge join — assert no Exchange in tests."""
    return spark.table(left_table).join(spark.table(right_table), on, how)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: ``big`` rows get salt = pmod(hash(all cols), n)
    so one hot key spreads over ``n_salts`` partitions; ``small`` is
    exploded across every salt value. Join on (key, salt), then drop the
    salt. Equivalent row-for-row to ``big.join(small, key, how)``.

    Use when AQE's skew splitting isn't enough (e.g. one key is >>
    spark.sql.adaptive.skewJoin thresholds and the small side is too big
    to broadcast outright but fine to replicate n_salts times)."""
    big_cols = [c for c in big.columns]
    salted_big = big.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in big_cols]), F.lit(n_salts))
    )
    salted_small = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("__salt", F.col("__salt").cast("long"))
    joined = salted_big.join(salted_small, [key, "__salt"], how)
    return joined.drop("__salt")
