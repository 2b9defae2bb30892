"""Streaming distinct-count state: micro-batches fold into per-day HLL
partials; windows merge partial rows — stream-vs-batch equivalence,
crash-replay idempotence, and day-pruned reads."""

from __future__ import annotations

import glob
import os
import time

from pyspark.sql import functions as F

from data_lake_spark.catalog import load_table
from data_lake_spark.streaming.incremental import (
    read_distinct_sketches,
    start_distinct_sketch_ingest,
)

SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
_DAY_NS = 86_400 * 10**9


def _staged_source(spark, tmp_path, ev):
    b1 = ev.filter(F.col("event_id") % 2 == 0)
    b2 = ev.filter(F.col("event_id") % 2 == 1)
    src = str(tmp_path / "src")
    now = time.time()
    for i, b in enumerate([b1, b2]):
        before = set(glob.glob(src + "/*.parquet"))
        b.coalesce(1).write.mode("append").parquet(src)
        for f in set(glob.glob(src + "/*.parquet")) - before:
            os.utime(f, (now - 60 + 30 * i,) * 2)
    return src


def test_streamed_partials_match_batch_estimates(spark, tmp_path):
    ev = load_table(spark, SF, "events").select("event_id", "ts", "user_id")
    src = _staged_source(spark, tmp_path, ev)
    root = str(tmp_path / "sk")
    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = start_distinct_sketch_ingest(
        stream, root, checkpoint=str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # estimates from streamed partials == a one-shot batch sketch over
    # the same events, per day (HLL partials are mergeable: splitting
    # the stream into micro-batches must not change any estimate)
    streamed = {
        r.d: r.est
        for r in read_distinct_sketches(spark, root)
        .select("d", F.hll_sketch_estimate("sk").alias("est"))
        .collect()
    }
    batch = {
        r.d: r.est
        for r in ev.select(
            F.expr(f"ts div {_DAY_NS}").alias("d"), "user_id"
        )
        .groupBy("d")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
        .collect()
    }
    assert streamed == batch
    # and the estimate is within HLL tolerance of the exact count
    exact = {
        r.d: r.n
        for r in ev.select(
            F.expr(f"ts div {_DAY_NS}").alias("d"), "user_id"
        )
        .groupBy("d")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    for d, n in exact.items():
        assert abs(streamed[d] - n) <= max(1, 0.05 * n)


def test_replayed_batch_does_not_double_count(spark, tmp_path):
    ev = load_table(spark, SF, "events").select("event_id", "ts", "user_id")
    src = _staged_source(spark, tmp_path, ev)
    root = str(tmp_path / "sk")
    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = start_distinct_sketch_ingest(
        stream, root, checkpoint=str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    before = {
        r.d: r.est
        for r in read_distinct_sketches(spark, root)
        .select("d", F.hll_sketch_estimate("sk").alias("est"))
        .collect()
    }
    # simulate a crash-replay of batch 0: re-run the ingest fn directly
    # against the same batch_id — the overwrite dir must republish
    # identical partials, and even a LOGICAL double-count couldn't
    # inflate HLL (union is idempotent in the elements)
    b0 = ev.filter(F.col("event_id") % 2 == 0)
    partials = (
        b0.select(F.expr(f"ts div {_DAY_NS}").alias("d"), "user_id")
        .groupBy("d")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    partials.write.mode("overwrite").partitionBy("d").parquet(
        f"{root}/batch_id=0"
    )
    after = {
        r.d: r.est
        for r in read_distinct_sketches(spark, root)
        .select("d", F.hll_sketch_estimate("sk").alias("est"))
        .collect()
    }
    assert after == before


def test_window_read_prunes_to_day_dirs(spark, tmp_path):
    ev = load_table(spark, SF, "events").select("event_id", "ts", "user_id")
    src = _staged_source(spark, tmp_path, ev)
    root = str(tmp_path / "sk")
    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = start_distinct_sketch_ingest(
        stream, root, checkpoint=str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    days = sorted(
        r.d for r in spark.read.parquet(root).select("d").distinct().collect()
    )
    lo = days[0]
    probed = spark.read.parquet(root).filter(F.col("d") == lo)
    files = {
        r.f
        for r in probed.select(
            F.input_file_name().alias("f")
        ).distinct().collect()
    }
    assert files and all(f"/d={lo}/" in f for f in files)


def test_day_indexed_queries_session_tz_independent(spark):
    # sliding_distinct's day index is integer ns-division on the
    # NTZ-normalized ts; anomaly_days' is wall-clock DATE arithmetic on
    # TIMESTAMP_NTZ o_orderdate — neither may shift with the session tz
    # (the catalog._normalize contract the driver's own session relies on)
    from data_lake_spark.queries.tsmon_q import (
        q_anomaly_days,
        q_sliding_distinct,
    )

    old = spark.conf.get("spark.sql.session.timeZone")

    def snap():
        a = sorted(map(tuple, q_sliding_distinct(spark, SF).collect()))
        b = sorted(map(tuple, q_anomaly_days(spark, SF).collect()))
        return a, b

    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        utc = snap()
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        tokyo = snap()
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    assert utc == tokyo


def test_read_distinct_sketches_on_an_unwritten_root(spark, tmp_path):
    # no batch has published yet: an empty (d, sk) frame, not
    # PATH_NOT_FOUND
    got = read_distinct_sketches(spark, str(tmp_path / "never_written"))
    assert got.columns == ["d", "sk"]
    assert got.count() == 0
    # the estimate expression still resolves on it
    assert got.select(F.hll_sketch_estimate("sk")).count() == 0
