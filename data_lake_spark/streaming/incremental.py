"""Incremental / streaming ingest (SURVEY §2.1 S7, S11; §2.11).

The reference has two incremental mechanisms: per-record push ingest
(one Lambda invocation per record, ``ingestStreamateModelPerformance.py:145-175``)
and Glue job bookmarks (``data-lake-stack.yml:36``). The Spark-native
equivalents:

- a Structured Streaming file source with checkpointing (the bookmark),
- a per-micro-batch handler + the batch MERGE from ``operators.upsert``
  (the record-push path, amortized over micro-batches — same semantics,
  set-oriented cost); every ingest that publishes per-batch directories
  goes through the one sink, :func:`batch_sink`,
- watermark + tumbling-window aggregation for the time-series rollups the
  serving layer asks for (this goes BEYOND the reference, which has no
  streaming operators — SURVEY §2.11 — but is the idiomatic Spark shape
  for the same dashboards).
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from data_lake_spark.functions.exact import sum_exact
from data_lake_spark.streaming.takedown import (
    filter_tombstoned,
    read_tombstones,
    screen_batch,
)


def windowed_event_rollup(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    key_col: str = "event_type",
) -> DataFrame:
    """Tumbling-window counts/sums with late-data handling. Works on a
    streaming OR batch DataFrame (same plan — Spark's unified semantics);
    the watermark bounds state so it runs forever at any input rate."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact associative sum: identical totals on any partitioning,
            # any micro-batch boundary, and in the DuckDB oracle mirror
            sum_exact("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n_events",
            "total_value",
        )
    )


def start_file_ingest(
    spark,
    source_dir: str,
    schema,
    checkpoint_dir: str,
    batch_handler: Callable[[DataFrame, int], None],
    trigger_available_now: bool = True,
    fmt: str = "parquet",
) -> StreamingQuery:
    """S11: checkpointed file-source ingest. ``Trigger.AvailableNow``
    processes the backlog then stops — the batch-job-with-bookmarks
    pattern; leave it False for a continuously running ingest. Each
    micro-batch goes through ``batch_handler`` (typically a closure over
    ``operators.upsert.upsert_performance`` + a zone write)."""
    stream = spark.readStream.format(fmt).schema(schema).load(source_dir)
    writer = (
        stream.writeStream.foreachBatch(batch_handler)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def batch_sink(
    stream: DataFrame,
    checkpoint: str,
    fn: Callable[[DataFrame, int], Sequence[DataFrame]],
    *,
    outputs: Sequence[tuple[str, Sequence[str]]],
    screen: Optional[tuple[str, Sequence[str]]] = None,
) -> StreamingQuery:
    """The one micro-batch sink of every ingest that publishes per-batch
    directories. ``fn(batch_df, batch_id)`` is the ingest's transform:
    it returns one DataFrame per ``outputs`` entry ``(root,
    partition_cols)``, in the same order. The sink owns the rest of
    each micro-batch, in this order:

    1. the source batch is persisted for the call (unpersisted after),
       so a transform feeding several outputs reads its source once;
    2. an empty source batch publishes nothing;
    3. with ``screen=(index_root, id_cols)`` the batch goes through
       :func:`takedown.screen_batch` first: a replay never re-lands a
       deleted id's rows on disk;
    4. a batch that the screen empties does NOT return early — ``fn``
       and every overwrite still run, so a crash REPLAY of a batch whose
       ids were since deleted EMPTIES the directories the original run
       wrote (an early return would leave the deleted rows on disk,
       exactly the window the screen exists to close);
    5. frame i is written with overwrite, partitioned by its columns, to
       ``<root_i>/batch_id=<n>``, in declared order — a frame whose plan
       reads an output root must be listed before that root.

    Idempotence: a crash-replayed micro-batch republishes identical
    files into the same ``batch_id=<n>`` directories instead of
    appending duplicate rows — exactly-once per (checkpoint, batch id),
    the role Delta's one transaction id per (app, batch) plays. Readers
    see ``batch_id`` as a partition column (:func:`read_ingest_zone`)."""

    def _publish(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            batch = screen_batch(batch_df, *screen) if screen else batch_df
            frames = fn(batch, batch_id)
            if len(frames) != len(outputs):
                raise ValueError(
                    f"batch_sink: transform returned {len(frames)} frames "
                    f"for {len(outputs)} outputs"
                )
            for (root, cols), frame in zip(outputs, frames):
                frame.write.mode("overwrite").partitionBy(*cols).parquet(
                    f"{root}/batch_id={int(batch_id)}"
                )
        finally:
            batch_df.unpersist()

    return (
        stream.writeStream.foreachBatch(_publish)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def sessionize(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap_minutes: int = 30,
) -> DataFrame:
    """Batch sessionization via lag + cumulative gap counting (the
    guide's recommended shape): a new session starts when the gap to the
    previous event exceeds the threshold. One shuffle on user_id; the
    window never spans users, so state stays bounded and skew follows the
    per-user event distribution."""
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col)
    gap = F.col(ts_col).cast("long") - F.lag(F.col(ts_col).cast("long")).over(w)
    return (
        events.withColumn(
            "is_new_session",
            (gap.isNull() | (gap > gap_minutes * 60)).cast("long"),
        )
        .withColumn("session_seq", F.sum("is_new_session").over(w))
        .withColumn(
            "session_id",
            F.concat_ws("-", F.col(user_col).cast("string"), F.col("session_seq")),
        )
        .drop("is_new_session")
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    ts_col: str = "ts",
    within_seconds: int = 1800,
    watermark: str = "1 hour",
    right_prefix: str = "r_",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: each left event matches right events
    by the same key whose timestamp falls in ``[left.ts - within, left.ts]``
    — the attribution join as a LIVE join of two streams. Both sides carry
    a watermark and the join condition bounds the time range on BOTH
    sides, which is what lets Spark expire state: a buffered right row can
    be dropped once the left watermark passes ``r_ts + within``.

    ``how='left_outer'`` additionally emits unmatched left rows with
    nulls — but only once the watermark proves no future right row can
    match, so outer results trail the watermark (exactly-once, late but
    complete).

    Works identically on batch DataFrames (watermarks are skipped), so the
    batch face is directly comparable in tests. ``ts_col`` must be a
    TIMESTAMP column on both sides."""
    r = right.select(
        F.col(on).alias(f"{right_prefix}{on}"),
        F.col(ts_col).alias(f"{right_prefix}{ts_col}"),
        *[
            F.col(c).alias(f"{right_prefix}{c}")
            for c in right.columns
            if c not in (on, ts_col)
        ],
    )
    if left.isStreaming:
        left = left.withWatermark(ts_col, watermark)
    if r.isStreaming:
        r = r.withWatermark(f"{right_prefix}{ts_col}", watermark)
    rts = F.col(f"{right_prefix}{ts_col}")
    cond = (
        (F.col(on) == F.col(f"{right_prefix}{on}"))
        & (rts <= F.col(ts_col))
        & (rts >= F.col(ts_col) - F.expr(f"INTERVAL {within_seconds} SECONDS"))
    )
    return left.join(r, cond, how).drop(f"{right_prefix}{on}")


def stream_dedup(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exactly-once key dedup for a stream: ``dropDuplicatesWithinWatermark``
    keeps first-arrival per key and expires state once the watermark
    passes — the streaming twin of ``operators.upsert.keep_latest``'s
    at-rest dedup (D1). On a batch DataFrame it degrades to plain
    ``dropDuplicates`` (same keys, unbounded horizon)."""
    if df.isStreaming:
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            keys
        )
    return df.dropDuplicates(keys)


def start_scd2_maintenance(
    updates: DataFrame,
    dim_root: str,
    key: str,
    attrs: list[str],
    eff_col: str,
    checkpoint: str,
):
    """Live SCD2 dimension maintenance: each micro-batch of attribute
    updates is folded into a snapshot-versioned SCD2 dimension
    (operators/scd.py × versioned.py) — the dimension history stays
    queryable AND time-travel-able while the stream runs. The reference
    overwrites its user dim in place per refresh
    (BronzeIngestUsers.py:69-77); this is the same ingest cadence with
    nothing lost.

    Versioning makes the fold idempotent under micro-batch replay: the
    SCD2 recompute is a pure function of (current ∪ batch), so replaying
    a batch publishes an identical new version."""
    from data_lake_spark.operators.scd import scd2_apply
    from data_lake_spark import versioned

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if versioned.current_version(dim_root) > 0:
            cur = versioned.read_version(spark, dim_root).select(
                key, *attrs, "valid_from"
            )
        else:
            cur = batch_df.select(
                key, *attrs, F.col(eff_col).alias("valid_from")
            ).limit(0)
        new = scd2_apply(cur, batch_df, key=key, attrs=attrs, eff_col=eff_col)
        new = new.cache()
        new.count()
        try:
            versioned.write_version(new, dim_root)
        finally:
            new.unpersist()

    return (
        updates.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def start_ivf_index_ingest(
    emb_stream: DataFrame,
    index_root: str,
    centroids: DataFrame,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Live IVF index maintenance: each micro-batch of new vectors is
    assigned to its nearest cell against BROADCAST centroids (no shuffle
    of the batch beyond the per-vector distance aggregate) and appended
    to a cell-partitioned parquet index. Search-side, ivf probing reads
    only ``cell=<probed>`` partition directories — partition pruning does
    the inverted-list lookup. The codebook stays fixed during ingest
    (standard IVF practice); retrain offline with operators.kmeans and
    rewrite when drift warrants.

    Published through :func:`batch_sink` (per-batch overwrite, takedown
    screen on ``index_root``); cell dirs nest inside each batch dir, so
    cell pruning is unaffected.

    Reader contract: a vector RE-ingested in a later batch leaves rows
    under BOTH batch directories (crash-replay idempotence protects
    within a batch, not across batches), so a cell-probe scorer that
    reads the raw index sees duplicate/stale candidate rows. Readers
    must keep only each vector's latest batch —
    ``operators.upsert.latest_batch(index, id_col)`` is the shared
    one-aggregate helper (the same dedup pq.codes_elems and
    pq.ivf_pq_topk_indexed apply to the PQ codes index)."""
    from data_lake_spark.operators.kmeans import _elems, assign_cells

    cent = centroids.localCheckpoint()

    def _assign(batch_df: DataFrame, batch_id: int) -> list[DataFrame]:
        assigned = assign_cells(_elems(batch_df, id_col, vec_col), cent, id_col)
        return [batch_df.join(assigned.select(id_col, "cell"), id_col)]

    return batch_sink(
        emb_stream,
        checkpoint,
        _assign,
        outputs=[(index_root, ["cell"])],
        screen=(index_root, [id_col]),
    )


def start_ivfpq_index_ingest(
    emb_stream: DataFrame,
    index_root: str,
    centroids: DataFrame,
    codebook: tuple,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Live IVF-PQ index maintenance: each micro-batch of new vectors is
    (a) assigned to its nearest IVF cell against broadcast centroids and
    (b) PQ-encoded against the FIXED codebook via the map-only encode
    expression — then appended to a cell-partitioned codes index. The
    search side (operators/pq.ivf_pq_topk's scoring join) reads only
    ``cell=<probed>`` partition directories and only the m-byte codes,
    never the raw vectors. Both models stay fixed during ingest
    (standard practice); retrain offline and rewrite on drift.

    ``codebook`` is the (values, present, subdim) triple from
    operators/pq.pq_codebook_lit — a stored artifact, exactly what a
    production system would version alongside the index.

    Published through :func:`batch_sink` (per-batch overwrite, takedown
    screen on ``index_root``): a replay cannot append duplicate
    (vec_id, codes, cell) rows that would double-count approx_dot in an
    ADC scoring join."""
    from data_lake_spark.operators.kmeans import _elems, assign_cells
    from data_lake_spark.operators.pq import pq_codes_array

    cent = centroids.localCheckpoint()
    values, present, subdim = codebook

    def _encode(batch_df: DataFrame, batch_id: int) -> list[DataFrame]:
        assigned = assign_cells(_elems(batch_df, id_col, vec_col), cent, id_col)
        codes = pq_codes_array(
            batch_df, values, present, subdim, id_col, vec_col
        )
        return [codes.join(assigned.select(id_col, "cell"), id_col)]

    return batch_sink(
        emb_stream,
        checkpoint,
        _encode,
        outputs=[(index_root, ["cell"])],
        screen=(index_root, [id_col]),
    )


def start_lsh_dedup_ingest(
    docs_stream: DataFrame,
    accepted_root: str,
    index_root: str,
    checkpoint: str,
    n: int = 3,
    n_hashes: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_band_size: Optional[int] = None,
):
    """Incremental corpus dedup: each micro-batch of new documents is
    screened against the ALREADY-ACCEPTED corpus via a persisted
    MinHash-LSH band index — no recompute over the historical corpus,
    ever. The 100 TB ingest shape: history costs one equi-join against
    ``index_root`` (partitioned by band_idx, so a batch's bands prune to
    their band partitions), never a rescan of the raw text.

    Per micro-batch:

    1. shingle → MinHash signatures → LSH bands for the batch only;
    2. within-batch screen: LSH candidate pairs, verified by the
       signature-estimated Jaccard (fraction of agreeing MinHash
       positions); a doc matching a smaller batch id is dropped
       (deterministic greedy — a chain a~b~c may drop both b and c,
       the standard streaming-dedup compromise vs full clustering,
       which operators.textdedup.dedup_corpus does at rest);
    3. history screen: batch bands equi-join the persisted index on
       (band_idx, band_hash); candidates verified the same way against
       the indexed signatures;
    4. survivors go to ``accepted_root`` and their bands + signatures
       to ``index_root``, published through :func:`batch_sink`. Its
       takedown screen is keyed on ``accepted_root``: the accepted zone
       holds FULL document text, so tombstone the accepted root to
       retire an id permanently.

    Docs shorter than ``n`` tokens produce no shingles: they pass
    through as novel with no index entry (route them to exact-hash
    dedup upstream if that matters). ``max_band_size`` frequency-caps
    boilerplate bands in both screens (see textdedup.cap_hot_bands).

    Do NOT naively compact this index the way the gram index is
    compacted (:func:`compact_gram_index`): the history screen's
    ``batch_id < current`` filter IS the replay ledger — it
    reconstructs exactly the state each original batch saw, and a
    compacted dir with an out-of-namespace id would be invisible to
    every replayed batch's screen, silently re-admitting duplicates. A
    correct LSH compaction needs a coverage rule the screen filter
    understands (fold dirs ≤ m into an id that still satisfies
    ``< current`` for every live batch id > m)."""
    from data_lake_spark.operators.textdedup import (
        cap_hot_bands,
        lsh_bands,
        minhash_signatures,
        shingles,
    )

    def _est_sim(a: Column, b: Column) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        ) / F.lit(n_hashes)

    def _dedup(batch_df: DataFrame, batch_id: int) -> list[DataFrame]:
        spark = batch_df.sparkSession
        sig_cols = [f"sig{i}" for i in range(n_hashes)]
        sigs = (
            minhash_signatures(shingles(batch_df, n, id_col, text_col), n_hashes, id_col)
            .select(F.col(id_col), F.array(*sig_cols).alias("sig"))
            .localCheckpoint()
        )
        bands = lsh_bands(
            sigs.select(
                id_col, *[F.col("sig")[i].alias(f"sig{i}") for i in range(n_hashes)]
            ),
            rows_per_band,
            id_col,
        )
        if max_band_size is not None:
            bands = cap_hot_bands(bands, max_band_size)
        bands = bands.join(sigs, id_col).localCheckpoint()

        # within-batch: candidate via shared band, verify on signatures,
        # drop the larger id of every verified pair
        a, b = bands.alias("a"), bands.alias("b")
        in_batch_dups = (
            a.join(
                b,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .filter(_est_sim(F.col("a.sig"), F.col("b.sig")) >= threshold)
            .select(F.col(f"b.{id_col}").alias(id_col))
            .distinct()
        )

        # history: batch bands vs the persisted index (a root no batch
        # has published to yet reads with no signature column)
        idx_all = read_ingest_zone(spark, index_root)
        if "sig" in idx_all.columns:
            # only index partitions written by EARLIER batches: replaying
            # batch N after a crash (or a full-source replay) must screen
            # against exactly the state the original batch N saw — its own
            # and later batches' entries would otherwise self-match every
            # doc. batch_id is a partition dir, so this prunes, not scans.
            # takedown: a deleted document's persisted signature must
            # stop suppressing lookalikes the moment the tombstone
            # lands (the next genuine arrival of that content is
            # accepted as the new canonical copy)
            idx = (
                filter_tombstoned(
                    idx_all.filter(
                        F.col("batch_id") < F.lit(int(batch_id))
                    ),
                    read_tombstones(spark, index_root, id_col),
                    [id_col],
                )
                .select("band_idx", "band_hash", F.col("sig").alias("idx_sig"))
            )
            hist_dups = (
                bands.join(idx, ["band_idx", "band_hash"])
                .filter(_est_sim(F.col("sig"), F.col("idx_sig")) >= threshold)
                .select(id_col)
                .distinct()
            )
            dups = in_batch_dups.unionByName(hist_dups).distinct()
        else:
            dups = in_batch_dups
        dups = dups.localCheckpoint()

        novel = batch_df.join(dups, id_col, "left_anti")
        novel_bands = bands.join(dups, id_col, "left_anti").select(
            id_col, "band_idx", "band_hash", "sig"
        )
        return [novel, novel_bands]

    return batch_sink(
        docs_stream,
        checkpoint,
        _dedup,
        outputs=[(accepted_root, []), (index_root, ["band_idx"])],
        screen=(accepted_root, [id_col]),
    )


def start_dhash_index_ingest(
    media_stream: DataFrame,
    pairs_root: str,
    index_root: str,
    checkpoint: str,
    max_hamming: int = 6,
    n_bands: int = 8,
    max_bucket: int = 64,
):
    """Incremental perceptual image dedup: each micro-batch of new
    images is dHashed ONCE (the Arrow decode pass runs on the batch
    only), screened against the persisted hash index at inverted-index
    cost, and appended to it — the start_lsh_dedup_ingest economics
    applied to the image column (imagehash.hamming_pairs is the batch
    face; this is its live face).

    Per micro-batch:

    1. decode + dHash the batch (one Arrow pass; undecodable content
       hashes NULL and is neither indexed nor screened — route to
       exact-byte dedup upstream);
    2. band the batch hashes AND the historical index
       (imagehash.band_rows — the index stores two longs per image, so
       banding at read is a map-only projection, 8× cheaper than
       persisting the banded form);
    3. candidate pairs = batch bands ⋈ (history ∪ batch) bands on
       (band, band_val) — exhaustive for Hamming ≤ n_bands−1 by
       pigeonhole, exactly the batch guarantee — refined by
       ``bit_count(XOR) ≤ max_hamming``;
    4. verified pairs go to ``pairs_root`` and the batch hashes to
       ``index_root``, published through :func:`batch_sink`.

    History is filtered to ``batch_id < current`` — the replay ledger:
    a replayed batch screens against exactly the state the original
    saw (the start_lsh_dedup_ingest rule), so the pair set is
    batch-boundary-independent. Every image is indexed (duplicates are
    not dropped at ingest): the union of per-batch pair dirs is then
    SET-IDENTICAL to the one-shot batch ``hamming_pairs`` over the
    whole corpus — each batch pair (a, b) is discovered exactly when
    the later of the two arrives (stream==batch equivalence,
    tests/test_dhash_stream.py). Keeper assignment stays a reader-side
    CC over the accumulated pairs (dedup_images' semantics), which is
    what makes exact equivalence possible.

    The hot-bucket cap is applied to the CUMULATIVE band census at
    each batch (history ∪ batch): a bucket that crosses ``max_bucket``
    mid-stream stops pairing from then on, while the batch form with
    the same cap drops it everywhere — size the cap as the safety
    valve it is (only pathological buckets should ever hit it; under
    the cap the stream and batch pair sets are identical)."""
    from data_lake_spark.operators.imagehash import dhash_table

    return _start_hash_index_ingest(
        media_stream,
        dhash_table,
        pairs_root,
        index_root,
        checkpoint,
        max_hamming,
        n_bands,
        max_bucket,
    )


def start_audiofp_index_ingest(
    media_stream: DataFrame,
    pairs_root: str,
    index_root: str,
    checkpoint: str,
    max_hamming: int = 6,
    n_bands: int = 8,
    max_bucket: int = 64,
):
    """The audio twin of :func:`start_dhash_index_ingest`: envelope
    fingerprints (operators/audiofp.py — real RIFF/PCM decode) instead
    of dHashes, IDENTICAL machinery from the 64-bit hash on — same
    :func:`batch_sink` publish, same ``batch_id < current`` replay
    ledger, same cumulative hot-bucket cap, same stream==batch pair-set
    equivalence (tests/test_dhash_stream.py exercises both through the
    shared worker)."""
    from data_lake_spark.operators.audiofp import audiofp_table

    def fp_table(df: DataFrame) -> DataFrame:
        return audiofp_table(df).withColumnRenamed("afp", "dhash")

    return _start_hash_index_ingest(
        media_stream,
        fp_table,
        pairs_root,
        index_root,
        checkpoint,
        max_hamming,
        n_bands,
        max_bucket,
    )


def _start_hash_index_ingest(
    media_stream: DataFrame,
    hash_table_fn: Callable[[DataFrame], DataFrame],
    pairs_root: str,
    index_root: str,
    checkpoint: str,
    max_hamming: int,
    n_bands: int,
    max_bucket: int,
):
    """Shared worker: any (media_id, dhash)-producing Arrow kernel
    rides the banded incremental-dedup machinery (see
    start_dhash_index_ingest for the full contract). The takedown
    screen runs BEFORE the Arrow decode: a replayed batch neither
    re-hashes nor re-lands a deleted medium's rows."""
    from data_lake_spark.operators.imagehash import band_rows

    def _pair(batch_df: DataFrame, batch_id: int) -> list[DataFrame]:
        spark = batch_df.sparkSession
        hashes = (
            hash_table_fn(batch_df)
            .filter(F.col("dhash").isNotNull())
            .localCheckpoint()  # the Arrow pass feeds 3 consumers
        )
        new_bands = band_rows(hashes, n_bands)
        idx = read_ingest_zone(spark, index_root)
        if "dhash" in idx.columns:  # some batch has published already
            hist = idx.filter(
                F.col("batch_id") < F.lit(int(batch_id))
            ).select("media_id", "dhash")
            # takedown: deleted media stop pairing with new arrivals
            # the moment the tombstone lands (a replayed batch after a
            # takedown intentionally republishes the REDUCED pair set)
            hist = filter_tombstoned(
                hist,
                read_tombstones(spark, index_root, "media_id"),
                ["media_id"],
            )
            all_bands = band_rows(hist, n_bands).unionByName(new_bands)
        else:
            all_bands = new_bands
        # cumulative hot-bucket cap (see docstring)
        sized = all_bands.join(
            all_bands.groupBy("band", "band_val")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") <= max_bucket)
            .select("band", "band_val"),
            ["band", "band_val"],
        )
        a = new_bands.select(
            "band",
            "band_val",
            F.col("media_id").alias("ma"),
            F.col("dhash").alias("ha"),
        )
        b = sized.select(
            "band",
            "band_val",
            F.col("media_id").alias("mb"),
            F.col("dhash").alias("hb"),
        )
        pairs = (
            a.join(b, ["band", "band_val"])
            .filter(F.col("ma") != F.col("mb"))
            .select(
                F.least("ma", "mb").alias("media_a"),
                F.greatest("ma", "mb").alias("media_b"),
                F.least("ha", "hb").alias("h_lo"),
                F.greatest("ha", "hb").alias("h_hi"),
            )
            .distinct()
            .withColumn(
                "hamming",
                F.bit_count(F.col("h_lo").bitwiseXOR(F.col("h_hi"))).cast(
                    "long"
                ),
            )
            .filter(F.col("hamming") <= max_hamming)
            .select("media_a", "media_b", "hamming")
        )
        return [pairs, hashes]

    # pairs first: its plan reads index_root, which the second write
    # overwrites
    return batch_sink(
        media_stream,
        checkpoint,
        _pair,
        outputs=[(pairs_root, []), (index_root, [])],
        screen=(index_root, ["media_id"]),
    )


def read_dhash_pairs(spark: SparkSession, pairs_root: str) -> DataFrame:
    """Accumulated near-dup pairs from the per-batch dirs — distinct
    because a pair involving a re-ingested image can be rediscovered in
    a later batch (the index keeps every copy; replay within a batch is
    handled by the overwrite convention).

    Pairs recorded BEFORE a takedown (takedown.delete_ids against this
    pairs root) are filtered here: a deleted medium appears on neither
    side, so downstream keeper assignment never links through it."""
    pairs = (
        read_ingest_zone(spark, pairs_root)
        .select("media_a", "media_b", "hamming")
        .distinct()
    )
    return filter_tombstoned(
        pairs,
        read_tombstones(spark, pairs_root, "media_id"),
        ["media_a", "media_b"],
    )


def read_hash_index(spark: SparkSession, index_root: str) -> DataFrame:
    """The live (media_id, dhash) rows of a dHash/audio fingerprint
    index — every batch dir, minus takedowns. The batch-side face of
    what the ingest's history screen sees."""
    idx = read_ingest_zone(spark, index_root).select("media_id", "dhash")
    return filter_tombstoned(
        idx, read_tombstones(spark, index_root, "media_id"), ["media_id"]
    )


def start_gram_index_ingest(
    docs_stream: DataFrame,
    index_root: str,
    checkpoint: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Incremental ExactSubstr gram index: each micro-batch of new
    documents contributes its k-gram PARTIALS — per gram hash, the
    batch-local MIN packed (doc_id, pos) and occurrence count — to a
    per-batch parquet directory. Both statistics are mergeable (MIN of
    MINs, SUM of counts), so :func:`read_gram_index` folds the batch
    partials into exactly the keeper index the batch form
    (operators/textdedup.exact_substr_spans) derives from a full-corpus
    rebuild — new documents screen against ALL history at
    inverted-index cost, the start_lsh_dedup_ingest economics applied
    to the ExactSubstr family.

    Per batch the work is the batch form's first two stages on the
    BATCH alone: one narrow per-doc gram window + one
    map-side-combinable groupBy(h). Nothing historical is re-read at
    ingest time; merging is deferred to the reader (and can be
    compacted offline by rewriting the folded frame as a single batch
    dir, the layout.compaction pattern).

    Published through :func:`batch_sink` (per-batch overwrite, takedown
    screen on ``index_root``): replay overwrites rather than appends,
    so the reader's SUM merge cannot double count."""
    return batch_sink(
        docs_stream,
        checkpoint,
        lambda batch_df, _: [_gram_partials(batch_df, k, id_col, text_col)],
        outputs=[(index_root, [])],
        screen=(index_root, [id_col]),
    )


def _gram_partials(
    docs: DataFrame, k: int, id_col: str, text_col: str
) -> DataFrame:
    """One micro-batch's mergeable gram partials (h, keeper, c) —
    shared by the text ingest above and the video ingest below.

    Granularity is per (gram, DOCUMENT), not per gram: ``keeper``
    encodes (doc_id, pos) as doc_id·2²⁰ + pos, so the document id is
    recoverable (keeper DIV 2²⁰) and a takedown can SUBTRACT one
    document's rows exactly (streaming/takedown.py) — the Lucene
    postings-plus-tombstones design. The reader's fold (MIN of
    keepers, SUM of counts per h) is associative either way, so the
    folded index is bit-identical to the old per-gram partials; only
    deletability changes. Within one micro-batch a k-gram rarely spans
    documents, so the finer key costs ≈ nothing in rows."""
    from data_lake_spark.operators.textdedup import pack_doc_pos, token_kgrams

    grams = token_kgrams(docs, k, id_col, text_col, guard_pos=True).withColumn(
        "enc", pack_doc_pos(F.col(id_col), F.col("pos"), pos_bounded=True)
    )
    return grams.groupBy("h", id_col).agg(
        F.min("enc").alias("keeper"),
        F.count(F.lit(1)).cast("long").alias("c"),
    ).select("h", "keeper", "c")


def start_video_gram_ingest(
    media_stream: DataFrame,
    index_root: str,
    checkpoint: str,
    ignore_hashes: tuple = (0,),
):
    """Incremental recut-clip index: each micro-batch of new VIDEOS is
    frame-hashed once (the Arrow decode pass on the batch only),
    rendered as frame-token documents (videofp.frame_token_docs — the
    adapter that makes video a citizen of the text-dedup family), and
    its k=2 frame-gram partials land in the SAME mergeable index
    format start_gram_index_ingest maintains for text. New clips
    screen against ALL history at inverted-index cost via
    exact_substr_spans_from_index over frame tokens; compaction and
    the coverage rule apply unchanged (compact_gram_index). The
    stream==batch span-set equivalence is pinned in
    tests/test_dhash_stream.py.

    Published through :func:`batch_sink`; the takedown screen runs
    BEFORE the Arrow decode (the gram doc_id IS the media_id, and
    on-disk tombstones are id-named)."""
    from data_lake_spark.operators.videofp import frame_token_docs

    def _partials(batch_df: DataFrame, batch_id: int) -> list[DataFrame]:
        docs = frame_token_docs(batch_df, ignore_hashes)
        return [_gram_partials(docs, 2, "doc_id", "text")]

    return batch_sink(
        media_stream,
        checkpoint,
        _partials,
        outputs=[(index_root, [])],
        screen=(index_root, ["media_id"]),
    )


#: compaction batch-id namespace: a compacted dir at id 3·10⁶ + m holds
#: the fold of every stream partial with batch_id ≤ m (and any older
#: compaction). Stream ids stay far below 10⁶, so the namespaces never
#: collide; m is recoverable from the dir name alone — no manifest file.
_GRAM_COMPACT_NS = 3_000_000


def _gram_index_live_ids(index_root: str) -> tuple[list[int], list[int], int]:
    """(live stream ids, superseded dir ids, covered-max m) from the
    directory listing. The newest compaction dir covers every stream id
    ≤ its encoded m and every older compaction; anything covered is
    SUPERSEDED — readers skip it, the compactor deletes it."""
    import glob
    import os

    ids = []
    for p in glob.glob(os.path.join(index_root, "batch_id=*")):
        try:
            ids.append(int(os.path.basename(p).split("=", 1)[1]))
        except ValueError:
            continue
    comp = [i for i in ids if i >= _GRAM_COMPACT_NS]
    m = max(comp) - _GRAM_COMPACT_NS if comp else -1
    newest = _GRAM_COMPACT_NS + m if comp else None
    live = [i for i in ids if i < _GRAM_COMPACT_NS and i > m]
    if newest is not None:
        live.append(newest)
    superseded = [i for i in ids if i not in live]
    return live, superseded, m


def read_accepted(
    spark: SparkSession, accepted_root: str, id_col: str = "doc_id"
) -> DataFrame:
    """The live rows of an LSH accepted zone: every batch dir minus
    takedowns (takedown.delete_ids against this root). The write-side
    guard in start_lsh_dedup_ingest keeps a replay from re-writing
    deleted CONTENT; this reader hides rows written before the
    takedown until the zone's next compaction/rewrite purges them
    (takedown.rewrite_purged)."""
    df = read_ingest_zone(spark, accepted_root)
    return filter_tombstoned(
        df, read_tombstones(spark, accepted_root, id_col), [id_col]
    )


def read_vector_index(
    spark: SparkSession, index_root: str, id_col: str = "vec_id"
) -> DataFrame:
    """The live rows of a streaming IVF / IVF-PQ codes index: every
    batch dir, each vector's LATEST batch only (re-ingest supersedes),
    minus takedowns (takedown.delete_ids against this root) — the
    frame pq.codes_elems / pq.ivf_pq_topk_indexed expect. A deleted
    vector stops surfacing as an ANN candidate the moment the
    tombstone lands; its code bytes leave disk when the index is next
    rewritten/retrained (the codebook-refresh schedule)."""
    from data_lake_spark.operators.upsert import latest_batch

    raw = read_ingest_zone(spark, index_root, f"{id_col} long, cell int")
    idx = latest_batch(raw, id_col)
    return filter_tombstoned(
        idx, read_tombstones(spark, index_root, id_col), [id_col]
    )


def read_gram_index(spark: SparkSession, index_root: str) -> DataFrame:
    """Fold the per-batch gram partials into the corpus-wide keeper
    index (h, keeper, c): keeper = MIN of batch keepers, c = SUM of
    batch counts — associative merges, so the result is independent of
    batching and bit-identical to the index the one-shot batch rebuild
    derives. Feed to
    operators/textdedup.exact_substr_spans_from_index.

    Coverage rule: only LIVE dirs are read — the newest compaction dir
    (which already holds everything with stream id ≤ its encoded m)
    plus stream dirs with id > m. Superseded dirs a crashed compactor
    failed to delete are ignored, so a half-finished compaction can
    never double-count. One groupBy over the gram-hash key space (far
    smaller than the corpus's positions); run
    :func:`compact_gram_index` periodically so the fold reads few
    files.

    Takedowns (streaming/takedown.delete_ids against this root) apply
    HERE, before the fold: partials are per-(gram, document) postings
    with the document id packed into ``keeper``, so a deleted
    document's rows drop out exactly and the folded (keeper, c)
    reflect only surviving occurrences — a gram whose other copies
    were all deleted stops marking anyone, and a deleted keeper's
    crown passes to the next-min survivor."""
    from data_lake_spark.operators.textdedup import _POS_BITS

    live, _, _ = _gram_index_live_ids(index_root)
    partials = spark.read.option("basePath", index_root).parquet(
        *[f"{index_root}/batch_id={i}" for i in sorted(live)]
    )
    tomb = read_tombstones(spark, index_root)
    if tomb is not None:
        partials = filter_tombstoned(
            partials.withColumn(
                "_doc", F.expr(f"keeper DIV {_POS_BITS}")
            ),
            tomb.select(F.col(tomb.columns[0]).alias("_doc")),
            ["_doc"],
        ).drop("_doc")
    return partials.groupBy("h").agg(
        F.min("keeper").alias("keeper"), F.sum("c").alias("c")
    )


def compact_gram_index(spark: SparkSession, index_root: str) -> int:
    """Fold the live partials into ONE compacted dir so the reader's
    merge touches few files regardless of how many micro-batches ever
    ran — the layout.compaction story applied to the gram index.

    Crash-safe and LIVE-safe without any whole-root swap, because the
    coverage rule carries the commit point: the compacted dir lands at
    ``batch_id = 3·10⁶ + max(covered stream id)`` FIRST (overwrite —
    a deterministic id, so re-runs republish identical files), and only
    then are the superseded dirs deleted. A crash between the two
    steps leaves extra dirs that every reader already ignores; the
    next compaction (or this one re-run) finishes the deletion.

    The NEWEST stream dir is never folded: Structured Streaming commits
    a batch to its checkpoint only AFTER its batch handler returns, so a
    crashed micro-batch is REPLAYED as an overwrite of the maximum
    stream id — if compaction folded that dir mid-rewrite it would bake
    partial content into the compacted result and then treat the
    completed replay (id ≤ covered max) as superseded, silently
    dropping grams. Only ids strictly below the maximum stream id are
    durably committed and eligible; the max dir stays live until a
    newer batch supersedes it. Returns the number of dirs folded
    (0 = nothing durably foldable)."""
    import os
    import shutil

    live, superseded, m = _gram_index_live_ids(index_root)
    # clean up any leftovers from a crashed predecessor first
    for i in superseded:
        shutil.rmtree(
            os.path.join(index_root, f"batch_id={i}"), ignore_errors=True
        )
    stream_live = sorted(i for i in live if i < _GRAM_COMPACT_NS)
    # exclude the max stream id — the only dir a checkpoint replay can
    # be rewriting in place (see docstring); fold needs ≥1 durable dir
    fold_stream = stream_live[:-1]
    if not fold_stream:
        return 0  # nothing durably committed since the last compaction
    m2 = fold_stream[-1]
    fold_ids = list(fold_stream)
    if m >= 0:
        fold_ids.append(_GRAM_COMPACT_NS + m)  # prior compaction dir
    partials = spark.read.option("basePath", index_root).parquet(
        *[f"{index_root}/batch_id={i}" for i in sorted(fold_ids)]
    )
    # physical purge: tombstoned postings are dropped while folding —
    # the bytes leave the disk on the maintenance schedule (Lucene's
    # merge analogy); the tombstone files stay, still screening any
    # stream dirs newer than this compaction
    from data_lake_spark.operators.textdedup import _POS_BITS

    tomb = read_tombstones(spark, index_root)
    if tomb is not None:
        partials = filter_tombstoned(
            partials.withColumn("_doc", F.expr(f"keeper DIV {_POS_BITS}")),
            tomb.select(F.col(tomb.columns[0]).alias("_doc")),
            ["_doc"],
        ).drop("_doc")
    # fold at per-(gram, document) granularity — the compacted dir must
    # stay deletable for FUTURE takedowns, so documents are never
    # merged together (the doc id is recoverable from keeper)
    merged = partials.groupBy(
        "h", F.expr(f"keeper DIV {_POS_BITS}").alias("_doc")
    ).agg(
        F.min("keeper").alias("keeper"), F.sum("c").alias("c")
    ).select("h", "keeper", "c")
    merged.write.mode("overwrite").parquet(
        f"{index_root}/batch_id={_GRAM_COMPACT_NS + m2}"
    )
    for i in fold_ids:
        if i != _GRAM_COMPACT_NS + m2:
            shutil.rmtree(
                os.path.join(index_root, f"batch_id={i}"), ignore_errors=True
            )
    return len(fold_ids)


def sessionize_stateful(
    events: DataFrame,
    gap_minutes: int = 30,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """True streaming sessionization via ``applyInPandasWithState`` —
    the custom stateful operator shape for semantics tumbling windows
    can't express (data-driven session boundaries).

    State per user = the open session (start, last ts, count, exact-sum
    micros); a micro-batch's events extend it or close it. Closed
    sessions are EMITTED (append mode); the open one stays in state, so
    memory is O(users), not O(events) — bounded forever at any rate.
    Totals use the same floor-micros integer sum as functions.exact, so a
    session's total is identical however the stream is micro-batched —
    the streaming twin of the batch ``sessionize`` (same boundaries, same
    numbers, different arrival mode).

    ``ts`` is epoch seconds (long). Output: one row per CLOSED session.
    Assumes event-time-ordered arrival ACROSS micro-batches (append logs /
    replayed files); within a batch any order is fine (sorted here). For
    sources that deliver late data, front it with a watermarked
    event-time buffer or use the batch ``sessionize`` over closed windows.
    """
    from typing import Any, Iterable, Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_s = gap_minutes * 60
    out_schema = (
        f"{user_col} long, session_start long, session_end long, "
        "n_events long, total_value double"
    )
    state_schema = "start_ts long, last_ts long, n long, micros long"

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import math

        (user,) = key
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values(ts_col)
        start, last, n, micros = (
            state.get if state.exists else (None, None, 0, 0)
        )
        closed = []
        for ts, val in zip(rows[ts_col], rows[value_col]):
            ts = int(ts)
            if start is None:
                start, last, n, micros = ts, ts, 0, 0
            elif ts - last > gap_s:
                closed.append((user, start, last, n, micros / 1_000_000.0))
                start, last, n, micros = ts, ts, 0, 0
            micros += int(math.floor(float(val) * 1_000_000.0))
            n += 1
            last = max(last, ts)
        state.update((start, last, n, micros))
        if closed:
            yield pd.DataFrame(
                closed,
                columns=[user_col, "session_start", "session_end", "n_events", "total_value"],
            )

    return (
        events.groupBy(user_col)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def start_distinct_sketch_ingest(
    event_stream: DataFrame,
    sketch_root: str,
    checkpoint: str,
    day_ns: int = 86_400 * 10**9,
    ts_col: str = "ts",
    key_col: str = "user_id",
):
    """Live distinct-count state maintenance: each micro-batch folds its
    events into per-day HLL sketch PARTIALS (``hll_sketch_agg`` — one
    map-side-combinable aggregate, kilobytes out per day) appended to a
    day-partitioned parquet store. Any window distinct-count is then a
    metadata-pruned read of that window's day directories plus
    ``hll_union_agg`` over a handful of partial rows — the event stream
    itself is never re-scanned (the batch face of queries/tsmon_q.
    q_sliding_distinct's sketch side).

    Published through :func:`batch_sink`. Partials are MERGEABLE, so a
    day spanning many batches is correct by union; no reader dedup is
    needed (unlike the IVF index's latest-batch rule) because HLL union
    is idempotent in the ELEMENTS — re-ingesting the same user on the
    same day cannot inflate the estimate.

    Reader: :func:`read_distinct_sketches`."""

    def _sketch(batch_df: DataFrame, batch_id: int) -> list[DataFrame]:
        return [
            batch_df.select(
                F.expr(f"{ts_col} div {day_ns}").alias("d"),
                F.col(key_col),
            )
            .groupBy("d")
            .agg(F.hll_sketch_agg(key_col).alias("sk"))
        ]

    return batch_sink(
        event_stream, checkpoint, _sketch, outputs=[(sketch_root, ["d"])]
    )


def read_distinct_sketches(
    spark: SparkSession, sketch_root: str
) -> DataFrame:
    """(d, sk) — one merged HLL partial per day from every ingested
    batch. Day filters prune to ``d=`` partition directories before any
    row is read; a trailing-window distinct is hll_sketch_estimate over
    hll_union_agg of the window's days (see tsmon_q for the exact
    window shape). A root no batch has published to reads as an empty
    frame."""
    return (
        read_ingest_zone(spark, sketch_root, "d long, sk binary")
        .groupBy("d")
        .agg(F.hll_union_agg("sk").alias("sk"))
    )


def start_validated_ingest(
    stream: DataFrame,
    clean_root: str,
    quarantine_root: str,
    checkpoint: str,
    checks: list[tuple[str, Column]],
) -> StreamingQuery:
    """Streaming data-quality gate with a dead-letter path — the live
    face of queries/dq_q.q_dq_checks: every micro-batch row is routed
    EXACTLY ONCE to the clean zone or to quarantine, quarantine rows
    carrying the comma-joined names of every check they failed (the
    triage key an ops queue consumes). The reference applies the same
    rules only at silver-conform time (a full-batch rewrite); here bad
    rows are isolated within one micro-batch of arrival and the clean
    zone is always constraint-true.

    ``checks`` is [(name, predicate Column)]. A row PASSES a check only
    when the predicate is TRUE — a NULL verdict (e.g. ``value > 0``
    over a NULL value) fails it, the Deequ convention, so incomplete
    rows cannot tunnel through a range check into the clean zone.

    Published through :func:`batch_sink` (clean, then quarantine).
    Readers: :func:`read_ingest_zone` (either root), which also exposes
    ``batch_id`` for audit.

    Scale: routing is ONE map-only projection per micro-batch (the
    reason string folds every predicate in whole-stage codegen — no
    shuffle, no UDF) over the sink-persisted batch; each side's write
    is partition-parallel. State is zero — this gate never holds rows
    across batches."""
    reasons = F.concat_ws(
        ",",
        *[
            F.when(~F.coalesce(pred, F.lit(False)), F.lit(name))
            for name, pred in checks
        ],
    )

    def _route(batch_df: DataFrame, batch_id: int) -> list[DataFrame]:
        routed = batch_df.withColumn("__dq_reasons", reasons)
        return [
            routed.filter(F.col("__dq_reasons") == "").drop("__dq_reasons"),
            routed.filter(F.col("__dq_reasons") != "").withColumnRenamed(
                "__dq_reasons", "dq_reasons"
            ),
        ]

    return batch_sink(
        stream,
        checkpoint,
        _route,
        outputs=[(clean_root, []), (quarantine_root, [])],
    )


def read_ingest_zone(
    spark: SparkSession, root: str, schema: Optional[str] = None
) -> DataFrame:
    """The one reader of a :func:`batch_sink` output root: every
    ``batch_id=<n>`` dir, with ``batch_id`` surfaced as a column. A root
    with no parquet footer yet — never written, every row routed to the
    other zone, or every dir emptied by a full-delete replay (an empty
    partitioned write leaves only ``_SUCCESS``) — reads as an empty
    frame rather than a path error. Pass ``schema`` (a DDL string of
    the INGEST columns, without batch_id) if callers select data
    columns from a possibly-empty root; without it the fallback frame
    carries only ``batch_id`` and a column reference would fail to
    resolve. Existence is probed through the Spark reader, never
    driver-local os.path: a root may live on any Hadoop-visible
    filesystem (HDFS/S3), where a local check would be silently
    False."""
    from pyspark.errors import AnalysisException

    try:
        # the root itself, not a ``batch_id=*`` glob: Spark's
        # streaming-metadata probe logs a stack trace for every glob
        return spark.read.parquet(root)
    except AnalysisException:
        ddl = (schema + ", " if schema else "") + "batch_id long"
        return spark.createDataFrame([], ddl)


def start_k_anonymity_gate(
    stream: DataFrame,
    release_root: str,
    pending_root: str,
    checkpoint: str,
    qi_cols: list[str],
    k: int = 5,
) -> StreamingQuery:
    """Streaming k-anonymity release gate — the live face of
    queries/dq_q.q_k_anonymity: rows stream toward a per-customer
    release zone, but a row is published only when its quasi-identifier
    equivalence class holds at least ``k`` rows ACROSS everything
    released so far plus this micro-batch (the Sweeney release rule
    applied continuously instead of at review time). Rows whose class
    is still too small go to the ``pending`` zone — nothing is dropped,
    and the release zone is k-anonymous after EVERY batch, not just at
    the end of a review cycle.

    The release-zone invariant is inductive: a class enters the zone
    only with >= k rows at once (new class) or by joining a class
    already >= k, so cumulative released-class sizes never dip below k
    and the per-batch decision needs only a CLASS-COUNT join — released
    rows are never re-read row-by-row, only their (qi, count) frame
    (bounded by the QI domain, the q_k_anonymity scale argument).

    Classes that accumulate k rows only ACROSS batches sit in pending
    until :func:`promote_pending` (the periodic maintenance sweep)
    moves every now-eligible class over — gate + sweep together
    partition the input exactly as the one-shot batch audit would
    (tests/test_stream_k_anon.py proves the equivalence).

    Published through :func:`batch_sink` (release, then pending)."""

    def _gate(batch_df: DataFrame, batch_id: int) -> list[DataFrame]:
        spark = batch_df.sparkSession
        released = read_ingest_zone(spark, release_root)
        new_counts = batch_df.groupBy(*qi_cols).agg(
            F.count(F.lit(1)).alias("__n_new")
        )
        if set(qi_cols) <= set(released.columns):
            rel_counts = released.groupBy(*qi_cols).agg(
                F.count(F.lit(1)).alias("__n_rel")
            )
            decide = new_counts.join(rel_counts, qi_cols, "left")
        else:  # empty zone: the fallback frame has no QI columns
            decide = new_counts.withColumn(
                "__n_rel", F.lit(None).cast("long")
            )
        eligible = decide.filter(
            F.col("__n_new") + F.coalesce("__n_rel", F.lit(0)) >= k
        ).select(*qi_cols)
        # materialize the eligible-class frame BEFORE writing: the
        # release write overwrites batch dirs that the lazy
        # release-zone read underpinning `eligible` still references
        # (a crash-replayed batch would invalidate its own plan).
        # The frame is bounded by the QI domain — the q_k_anonymity
        # scale argument — so this is a bounded collect, and the
        # rebuilt literal frame broadcasts into both routing joins.
        ok = spark.createDataFrame(eligible.collect(), eligible.schema)
        return [
            batch_df.join(ok, qi_cols, "left_semi"),
            batch_df.join(ok, qi_cols, "left_anti"),
        ]

    return batch_sink(
        stream,
        checkpoint,
        _gate,
        outputs=[(release_root, []), (pending_root, [])],
    )


def promote_pending(
    spark: SparkSession,
    release_root: str,
    pending_root: str,
    qi_cols: list[str],
    k: int = 5,
) -> int:
    """The maintenance sweep paired with :func:`start_k_anonymity_gate`:
    promote every pending class whose cumulative size (pending +
    released) has reached ``k``. The gate alone can strand a class that
    gathers its k rows across SEPARATE micro-batches (3 rows in batch
    1, 3 in batch 2 — each decision saw < k); the sweep closes exactly
    that gap, so gate + sweep release precisely the rows the one-shot
    batch audit would.

    Crash safety — the two-write window, closed by a DETERMINISTIC
    promotion id: promoted rows land in the release zone at
    ``batch_id = 10^6 + max(pending batch_id)``, keyed to the pending
    state BEFORE its rewrite (stream batch ids stay far below 10^6).
    A re-run after a crash between the release write and the pending
    rewrite recomputes the SAME id from the unchanged pending zone and
    the same promote set (promoted classes are already eligible; the
    temporary double count can't make a below-k class eligible), so it
    OVERWRITES the same directory instead of appending a duplicate —
    the per-batch-overwrite idempotence convention.

    LIVE-STREAM safety: the sweep remainder lands at
    ``batch_id = 2·10^6 + max(pending batch_id)`` — a namespace
    DISJOINT from stream batch ids (< 10^6, like the 10^6+ promo
    namespace). The gate writes ``pending_root/batch_id=<n>`` per
    micro-batch, so a remainder parked at ``pend_max + 1`` would be
    overwritten (deleted) by the very next micro-batch while the
    stream is live — the sweep is a PERIODIC MAINTENANCE pass and must
    be safe to run beside a running gate. Successive sweeps still get
    distinct ids because pend_max strictly grows through the 2·10^6
    namespace.

    The pending rewrite itself is stage-and-swap through sibling
    directories, ordered so no crash point loses rows: write the
    remainder to ``<pending>__next``, rename the live dir aside to
    ``<pending>__old`` (atomic), rename staging into place (atomic),
    then delete the old dir. A sweep starts by recovering any
    interrupted swap: a missing live dir is restored from ``__next``
    (completes the swap — the release write already landed) or
    ``__old`` (rolls back). The COMBINED crash-then-live-gate window —
    sweep dies between the two renames and the gate recreates
    pending_root with a fresh micro-batch before the next sweep — is
    recognized by BOTH siblings existing beside a live pending_root;
    recovery merges ``__next``'s batch dirs into pending_root (the
    id namespaces are disjoint, so the union is lossless) rather than
    deleting the remainder. Leftover siblings are cleared only after
    these restores. On an object store the equivalent is a new
    versioned prefix + manifest flip. Returns rows promoted."""
    import os
    import shutil

    staging = pending_root.rstrip("/") + "__next"
    old_dir = pending_root.rstrip("/") + "__old"
    if not os.path.exists(pending_root):
        if os.path.exists(staging):
            os.rename(staging, pending_root)  # complete interrupted swap
        elif os.path.exists(old_dir):
            os.rename(old_dir, pending_root)  # roll back to pre-sweep state
    elif os.path.exists(staging) and os.path.exists(old_dir):
        # BOTH siblings beside a live pending_root means the previous
        # sweep crashed between its two renames and the LIVE GATE then
        # wrote a micro-batch, recreating pending_root before recovery
        # ran. The gate's new dirs hold only post-crash rows; the real
        # non-promoted remainder sits in ``staging`` (its release write
        # already landed, so staging — not old — is the truth). The
        # batch_id namespaces are disjoint (gate < 10^6, remainder
        # 2·10^6+), so a directory-level union is lossless: merge
        # staging's batch dirs INTO pending_root instead of deleting
        # them, then drop old (fully superseded: its promoted rows are
        # in the release zone, its remainder rows were just restored).
        for entry in os.listdir(staging):
            src = os.path.join(staging, entry)
            dst = os.path.join(pending_root, entry)
            if os.path.exists(dst):
                shutil.rmtree(dst, ignore_errors=True)
            os.rename(src, dst)
        shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(old_dir, ignore_errors=True)
    if os.path.exists(pending_root):
        # staging WITHOUT old beside a live pending_root = crash before
        # the first rename: pending_root is still the complete pre-sweep
        # state and staging may be a partial write — discard it.
        shutil.rmtree(staging, ignore_errors=True)

    pending = read_ingest_zone(spark, pending_root)
    if "batch_id" not in pending.columns or not (
        set(qi_cols) <= set(pending.columns)
    ):
        return 0
    released = read_ingest_zone(spark, release_root)
    pend_counts = pending.groupBy(*qi_cols).agg(
        F.count(F.lit(1)).alias("__n_pend")
    )
    if set(qi_cols) <= set(released.columns):
        rel_counts = released.groupBy(*qi_cols).agg(
            F.count(F.lit(1)).alias("__n_rel")
        )
        decide = pend_counts.join(rel_counts, qi_cols, "left")
    else:
        decide = pend_counts.withColumn("__n_rel", F.lit(None).cast("long"))
    pend_max = pending.agg(F.max("batch_id").alias("m")).collect()[0]["m"]
    if pend_max is None:
        return 0
    promo_id = 1_000_000 + int(pend_max)
    eligible = decide.filter(
        F.col("__n_pend") + F.coalesce("__n_rel", F.lit(0)) >= k
    ).select(*qi_cols)
    # same bounded materialization as the gate: the promote write lands
    # in the release zone that `eligible`'s lazy plan reads
    ok = spark.createDataFrame(eligible.collect(), eligible.schema)
    promote = pending.drop("batch_id").join(ok, qi_cols, "left_semi")
    n = promote.count()
    if n == 0:
        return 0
    promote.write.mode("overwrite").parquet(
        f"{release_root}/batch_id={promo_id}"
    )
    remain = pending.drop("batch_id").join(ok, qi_cols, "left_anti")
    remainder_id = 2_000_000 + int(pend_max)
    remain.write.mode("overwrite").parquet(
        f"{staging}/batch_id={remainder_id}"
    )
    os.rename(pending_root, old_dir)
    os.rename(staging, pending_root)
    shutil.rmtree(old_dir, ignore_errors=True)
    return n


def start_drift_monitor(
    stream: DataFrame,
    reference: DataFrame,
    out_root: str,
    checkpoint: str,
    bin_col: str = "bin",
) -> StreamingQuery:
    """Streaming covariate-shift monitor — the live face of
    queries/tsmon_q.q_dist_drift: each micro-batch's distribution over
    ``bin_col`` is compared against a fixed REFERENCE histogram
    (``reference``: (bin, a_cnt) — e.g. last quarter's binned counts,
    a dim-sized artifact), and the per-bin L1/chi-square drift terms
    plus the TOTAL row (operators/drift.drift_report — the identical
    integer-exact arithmetic the batch query runs) are published per
    batch. An ops alert is one filter on the stored TOTAL rows:
    ``bin = -1 AND l1_micro > threshold`` — distribution shift caught
    within one micro-batch of arrival, not at the next quarterly
    review.

    Bins absent from one side count 0 on that side (full outer on the
    bin frame) so mass appearing in a NEVER-referenced bin — the
    classic new-category drift — shows up at full weight instead of
    being dropped.

    Scale: per batch, one map-side-combinable groupBy(bin) over the
    micro-batch, then everything rides the bin-sized frame; the
    reference never re-aggregates. Published through
    :func:`batch_sink`; read with :func:`read_ingest_zone`."""
    from data_lake_spark.operators.drift import drift_report

    ref = reference.select(
        F.col(bin_col).cast("long").alias("bin"),
        F.col("a_cnt").cast("long").alias("a_cnt"),
    )

    def _monitor(batch_df: DataFrame, batch_id: int) -> list[DataFrame]:
        b = batch_df.groupBy(
            F.col(bin_col).cast("long").alias("bin")
        ).agg(F.count(F.lit(1)).cast("long").alias("b_cnt"))
        binned = (
            ref.join(b, "bin", "full_outer")
            .select(
                "bin",
                F.coalesce("a_cnt", F.lit(0)).alias("a_cnt"),
                F.coalesce("b_cnt", F.lit(0)).alias("b_cnt"),
            )
        )
        return [drift_report(binned)]

    return batch_sink(stream, checkpoint, _monitor, outputs=[(out_root, [])])
