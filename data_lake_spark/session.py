"""SparkSession factory.

Single place where execution-relevant config lives so every entry point
(tests, bench, driver contract) runs with the same, scale-minded settings:
AQE on (runtime re-planning + skew-join handling), shuffle partitions sized
to the machine instead of the 200 default, Arrow enabled for the pandas-UDF
paths, UTC session timezone so results compare bit-for-bit against external
engines (DuckDB oracle, Presto semantics in the reference).
"""

from __future__ import annotations

import os
from typing import Any, Callable

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "data_lake_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    On a real cluster the master/memory settings come from spark-submit;
    everything here is master-agnostic except the local[] fallback.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_SHUFFLE_PARTITIONS", str(max(cpus, 8)))
        )

    builder = (
        SparkSession.builder.appName(app_name)
        # AQE: coalesce small post-shuffle partitions, re-plan joins at
        # runtime, split skewed partitions — all critical at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Deterministic cross-engine comparison (Presto/Athena and the
        # DuckDB oracle are UTC-naive).
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for pandas_udf / applyInPandas / toPandas.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet pushdown knobs (defaults are on; pinned for clarity).
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.ts has shipped as parquet TIMESTAMP(NANOS) in some driver
        # runs; Spark has no ns timestamp type — read those as long nanos.
        # (TIMESTAMP(MICROS) variants read as timestamp and are conformed
        # to long nanos in catalog._normalize.)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Generated-class cache: the default 100 entries is smaller than
        # ONE composed query's codegen unit count (ann_recall compiles
        # 103 units — measured via CodegenMetrics — so every repeat
        # execution recompiled ~50 of them, ~0.5 s/run of pure janino
        # work; an engine serving a 194-query registry evicts
        # constantly). 10k generated classes are a few hundred MB of
        # metaspace at worst — the right trade for ANY long-running app
        # issuing many distinct queries, not a local-mode tune.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        # Larger broadcast threshold: our dims (users/customer/nation)
        # are dim-sized even at 100 TB fact scale.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # NOTE on small-file parallelism: byte-range splits cannot cross
        # a parquet ROW GROUP, and the driver-written testdata has one
        # row group per file — so lowering openCostInBytes/
        # maxPartitionBytes only creates empty splits + a straggler
        # (measured: doc_embed 6.1 s single-task -> 15.9 s with 10 fake
        # splits). CPU-heavy text queries that need spread on this data
        # do ONE narrow (id, text) round-robin exchange before the
        # expensive projection (queries/llm8.py); on a real cluster the
        # writer's 128 MB row groups make file splits do this for free.
        .config("spark.ui.enabled", "false")
    )
    if not os.environ.get("SPARK_MASTER_SET"):
        builder = builder.master(f"local[{cpus}]")
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g")
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def overlap(*thunks: Callable[[], Any]) -> list:
    """Run independent driver-side builds concurrently and return their
    results in argument order; the first thunk (in argument order) to
    raise re-raises here once every thunk has finished.

    For query builds whose sides share no lineage and each pay driver
    work (Catalyst planning inside a checkpoint, a collect, a driver
    fold): one side's planning overlaps the other's cluster pass. Each
    thunk is wrapped with ``inheritable_thread_target`` in the calling
    thread, so jobs it launches on a pool thread carry the caller's job
    group and description (and, given the active session, its job
    tags) and stay attributable to the query."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    session = SparkSession.getActiveSession()
    wrap = inheritable_thread_target(session) if session else inheritable_thread_target
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(wrap(t)) for t in thunks]
        return [f.result() for f in futures]
