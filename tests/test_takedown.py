"""Takedown propagation (streaming/takedown.py): delete_ids → every
index family's reader stops surfacing the deleted content immediately;
compaction purges the bytes; crash replay cannot resurrect a deleted
document. One delete→screen round-trip per persisted index family
(gram, dHash, LSH band, IVF codes), per the round-8 verdict item."""

from __future__ import annotations

import glob
import os
import shutil
import time

from pyspark.sql import functions as F

from data_lake_spark.streaming.takedown import (
    delete_ids,
    read_tombstones,
)

_K = 4
_MIN = 6

_RUN = "alpha beta gamma delta epsilon zeta eta theta"  # 8-token dup run
_GRAM_DOCS = [
    (1, _RUN + " unique tail one two three"),
    (2, "lead in words " + _RUN + " trailing words here"),
    (3, _RUN + " something else entirely follows now"),
    (4, "totally different tokens with no repeated run at all"),
]


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _write_batches(tmp_path, batches, sub="src"):
    src = str(tmp_path / sub)
    now = time.time()
    for i, b in enumerate(batches):
        before = set(glob.glob(src + "/*.parquet"))
        b.coalesce(1).write.mode("append").parquet(src)
        for f in set(glob.glob(src + "/*.parquet")) - before:
            os.utime(f, (now - 60 + 30 * i,) * 2)
    return src


def _span_set(df):
    return {
        (r["doc_id"], r["span_start"], r["span_tokens"]) for r in df.collect()
    }


def _run_gram_ingest(spark, tmp_path, src):
    from data_lake_spark.streaming.incremental import start_gram_index_ingest

    index_root = str(tmp_path / "gram_index")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_gram_index_ingest(
        stream, index_root, str(tmp_path / "gram_ckpt"), k=_K
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return index_root


def test_gram_index_delete_screen_roundtrip(spark, tmp_path):
    # The keeper itself is taken down: doc 1 holds the canonical
    # occurrence of the duplicated run. After delete_ids(1) the index
    # must behave as if doc 1 never existed — the keeper crown passes
    # to doc 2 (new min), so doc 2's span VANISHES and doc 3's remains;
    # i.e. the screen equals a from-scratch rebuild on the reduced
    # corpus, bit for bit.
    from data_lake_spark.operators.textdedup import (
        exact_substr_spans,
        exact_substr_spans_from_index,
    )
    from data_lake_spark.streaming.incremental import read_gram_index

    docs = _docs_df(spark, _GRAM_DOCS)
    src = _write_batches(
        tmp_path, [docs.filter("doc_id <= 2"), docs.filter("doc_id > 2")]
    )
    index_root = _run_gram_ingest(spark, tmp_path, src)

    survivors = docs.filter("doc_id <> 1")
    before = _span_set(
        exact_substr_spans_from_index(
            docs, read_gram_index(spark, index_root), k=_K, min_tokens=_MIN
        )
    )
    assert {d for d, _, _ in before} == {2, 3}  # doc 1 is the keeper

    delete_ids(spark, index_root, [1])
    after = _span_set(
        exact_substr_spans_from_index(
            survivors,
            read_gram_index(spark, index_root),
            k=_K,
            min_tokens=_MIN,
        )
    )
    want = _span_set(exact_substr_spans(survivors, k=_K, min_tokens=_MIN))
    assert after == want  # rebuild-on-reduced-corpus equivalence
    assert {d for d, _, _ in after} == {3}  # crown passed to doc 2


def test_gram_compaction_purges_tombstoned_postings(spark, tmp_path):
    from data_lake_spark.operators.textdedup import (
        _POS_BITS,
        exact_substr_spans_from_index,
    )
    from data_lake_spark.streaming.incremental import (
        compact_gram_index,
        read_gram_index,
    )

    docs = _docs_df(spark, _GRAM_DOCS)
    src = _write_batches(
        tmp_path,
        [docs.filter(f"doc_id = {i}") for i in (1, 2, 3, 4)],
    )
    index_root = _run_gram_ingest(spark, tmp_path, src)
    delete_ids(spark, index_root, [1])

    survivors = docs.filter("doc_id <> 1")
    before = _span_set(
        exact_substr_spans_from_index(
            survivors,
            read_gram_index(spark, index_root),
            k=_K,
            min_tokens=_MIN,
        )
    )
    assert compact_gram_index(spark, index_root) > 0
    # logical view unchanged across compaction
    after = _span_set(
        exact_substr_spans_from_index(
            survivors,
            read_gram_index(spark, index_root),
            k=_K,
            min_tokens=_MIN,
        )
    )
    assert after == before
    # PHYSICAL purge: no posting in the compacted dir decodes to doc 1
    comp_dirs = [
        p
        for p in glob.glob(os.path.join(index_root, "batch_id=*"))
        if int(p.rsplit("=", 1)[1]) >= 3_000_000
    ]
    assert comp_dirs
    comp = spark.read.parquet(*comp_dirs)
    assert (
        comp.filter(F.expr(f"keeper DIV {_POS_BITS}") == 1).count() == 0
    )
    # tombstones survive compaction (they must keep screening stream
    # dirs newer than the compacted fold)
    assert read_tombstones(spark, index_root) is not None


def test_gram_replay_cannot_resurrect_deleted_doc(spark, tmp_path):
    # Crash model: the micro-batch that ingested doc 1 is replayed
    # AFTER doc 1's takedown (checkpoint loss / full-source replay).
    # Since round 10 the write-side guard keeps doc 1's postings out of
    # the rewritten batch dirs entirely (pinned in
    # test_gram_replay_after_takedown_writes_reduced_postings); this
    # test pins the READER outcome either way: deleted content never
    # surfaces in spans.
    from data_lake_spark.operators.textdedup import (
        exact_substr_spans,
        exact_substr_spans_from_index,
    )
    from data_lake_spark.streaming.incremental import (
        read_gram_index,
        start_gram_index_ingest,
    )

    docs = _docs_df(spark, _GRAM_DOCS)
    src = _write_batches(
        tmp_path, [docs.filter("doc_id <= 2"), docs.filter("doc_id > 2")]
    )
    index_root = _run_gram_ingest(spark, tmp_path, src)
    delete_ids(spark, index_root, [1])

    # wipe the checkpoint -> the whole source replays from scratch
    shutil.rmtree(str(tmp_path / "gram_ckpt"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_gram_index_ingest(
        stream, index_root, str(tmp_path / "gram_ckpt"), k=_K
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    survivors = docs.filter("doc_id <> 1")
    got = _span_set(
        exact_substr_spans_from_index(
            survivors,
            read_gram_index(spark, index_root),
            k=_K,
            min_tokens=_MIN,
        )
    )
    want = _span_set(exact_substr_spans(survivors, k=_K, min_tokens=_MIN))
    assert got == want


def test_delete_ids_is_idempotent_and_mergeable(spark, tmp_path):
    root = str(tmp_path / "idx")
    os.makedirs(root)
    delete_ids(spark, root, [3, 1, 2])
    n_dirs = len(glob.glob(os.path.join(root, "_tombstones", "del_*")))
    delete_ids(spark, root, [1, 2, 3])  # same set, any order -> same dir
    assert (
        len(glob.glob(os.path.join(root, "_tombstones", "del_*"))) == n_dirs
    )
    delete_ids(spark, root, [9])  # a later, distinct takedown
    tomb = read_tombstones(spark, root)
    assert {r[0] for r in tomb.collect()} == {1, 2, 3, 9}
    delete_ids(spark, root, [])  # empty request: no-op, no dir
    assert read_tombstones(spark, root).count() == 4


# ---------------------------------------------------------------------------
# dHash family (image shown; audio rides the same shared worker)
# ---------------------------------------------------------------------------

_BASE = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do " * 16
_IMG_DOCS = [
    (1, _BASE),
    (2, _BASE[:100] + "X" + _BASE[101:]),  # near-dup of 1
    (3, "zz entirely different pixel payload content words here " * 16),
]


def _media_df(spark, rows):
    from data_lake_spark.operators.imagehash import bmp_from_text_col

    return bmp_from_text_col(_docs_df(spark, rows))


def _run_dhash_ingest(spark, tmp_path, src):
    from data_lake_spark.streaming.incremental import (
        start_dhash_index_ingest,
    )

    pairs_root = str(tmp_path / "pairs")
    index_root = str(tmp_path / "index")
    stream = (
        spark.readStream.schema("media_id long, content binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_dhash_index_ingest(
        stream, pairs_root, index_root, str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return pairs_root, index_root


def test_dhash_delete_screen_roundtrip(spark, tmp_path):
    from data_lake_spark.streaming.incremental import (
        read_dhash_pairs,
        read_hash_index,
    )

    src = _write_batches(tmp_path, [_media_df(spark, _IMG_DOCS)])
    pairs_root, index_root = _run_dhash_ingest(spark, tmp_path, src)
    pairs = read_dhash_pairs(spark, pairs_root)
    assert {(r["media_a"], r["media_b"]) for r in pairs.collect()} == {(1, 2)}

    # takedown of image 1: recorded pairs involving it vanish from the
    # reader, its hash leaves the live index view...
    delete_ids(spark, index_root, [1], id_col="media_id")
    delete_ids(spark, pairs_root, [1], id_col="media_id")
    assert read_dhash_pairs(spark, pairs_root).count() == 0
    assert {
        r["media_id"] for r in read_hash_index(spark, index_root).collect()
    } == {2, 3}

    # ...and a NEW near-dup of the banned image pairs only with the
    # surviving copy (2), never the deleted one
    late = _media_df(spark, [(4, _BASE[:200] + "Q" + _BASE[201:])])
    now = time.time()
    before = set(glob.glob(str(tmp_path / "src") + "/*.parquet"))
    late.coalesce(1).write.mode("append").parquet(str(tmp_path / "src"))
    for f in set(glob.glob(str(tmp_path / "src") + "/*.parquet")) - before:
        os.utime(f, (now,) * 2)
    _run_dhash_ingest(spark, tmp_path, str(tmp_path / "src"))
    got = {
        (r["media_a"], r["media_b"])
        for r in read_dhash_pairs(spark, pairs_root).collect()
    }
    assert got == {(2, 4)}


# ---------------------------------------------------------------------------
# LSH band family
# ---------------------------------------------------------------------------


def test_lsh_deleted_doc_stops_suppressing(spark, tmp_path):
    from data_lake_spark.streaming.incremental import start_lsh_dedup_ingest

    base = (
        "the quick brown fox jumps over the lazy dog while rain falls on "
        "the plain"
    )

    def run(batches_sub, ckpt_sub):
        src = _write_batches(tmp_path, batches_sub, sub="lsh_src")
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = start_lsh_dedup_ingest(
            stream,
            str(tmp_path / "accepted"),
            str(tmp_path / "lsh_index"),
            str(tmp_path / ckpt_sub),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run([_docs_df(spark, [(1, base)])], "lsh_ckpt")
    # takedown of doc 1, then a near-copy arrives: without the
    # tombstone it would be suppressed as a dup of banned content;
    # with it, the copy is accepted as the new canonical occurrence
    delete_ids(spark, str(tmp_path / "lsh_index"), [1])
    run([_docs_df(spark, [(2, base.replace("plain", "coast"))])], "lsh_ckpt")
    accepted = spark.read.parquet(str(tmp_path / "accepted"))
    assert 2 in {r["doc_id"] for r in accepted.collect()}


# ---------------------------------------------------------------------------
# IVF codes family
# ---------------------------------------------------------------------------


def test_ivf_index_delete_roundtrip(spark, tmp_path):
    from data_lake_spark.streaming.incremental import (
        read_vector_index,
        start_ivf_index_ingest,
    )

    from data_lake_spark.catalog import load_table
    from data_lake_spark.operators.kmeans import hash_seeds

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(64)
    n = emb.count()
    centroids = hash_seeds(emb, k=4)
    src = _write_batches(
        tmp_path,
        [emb.filter("vec_id % 2 = 0"), emb.filter("vec_id % 2 = 1")],
        sub="ivf_src",
    )
    index_root = str(tmp_path / "ivf_index")
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_ivf_index_ingest(
        stream, index_root, centroids, str(tmp_path / "ivf_ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    live0 = read_vector_index(spark, index_root)
    assert live0.count() == n
    dead = [r["vec_id"] for r in live0.limit(3).collect()]
    dead_cells = {
        r["vec_id"]: r["cell"]
        for r in live0.filter(F.col("vec_id").isin(dead)).collect()
    }
    delete_ids(spark, index_root, dead, id_col="vec_id")
    live = read_vector_index(spark, index_root)
    assert live.count() == n - 3
    assert not {r["vec_id"] for r in live.collect()} & set(dead)
    # survivors in the deleted vectors' cells are intact
    for cell in set(dead_cells.values()):
        want = live0.filter(
            (F.col("cell") == cell) & ~F.col("vec_id").isin(dead)
        ).count()
        assert live.filter(F.col("cell") == cell).count() == want


def test_rewrite_purged_drops_bytes_and_preserves_live_view(spark, tmp_path):
    from data_lake_spark.streaming.incremental import read_hash_index

    src = _write_batches(tmp_path, [_media_df(spark, _IMG_DOCS)])
    pairs_root, index_root = _run_dhash_ingest(spark, tmp_path, src)
    delete_ids(spark, index_root, [1], id_col="media_id")
    live_before = {
        r["media_id"] for r in read_hash_index(spark, index_root).collect()
    }

    from data_lake_spark.streaming.takedown import rewrite_purged

    dest = str(tmp_path / "index_purged")
    rewrite_purged(spark, index_root, dest, ["media_id"])
    # the raw rewritten files contain NOTHING of the deleted medium...
    raw = spark.read.parquet(dest)
    assert raw.filter("media_id = 1").count() == 0
    # ...the live view is unchanged, and the batch ledger survives
    assert {
        r["media_id"] for r in read_hash_index(spark, dest).collect()
    } == live_before
    assert "batch_id" in raw.columns
    # no tombstones travel: the purged index has nothing left to screen
    assert read_tombstones(spark, dest) is None


def test_propagate_deletes_bridges_cdc_to_tombstones(spark, tmp_path):
    from data_lake_spark.streaming.incremental import read_gram_index
    from data_lake_spark.streaming.takedown import propagate_deletes
    from data_lake_spark.versioned import write_version

    docs = _docs_df(spark, _GRAM_DOCS)
    src = _write_batches(
        tmp_path, [docs.filter("doc_id <= 2"), docs.filter("doc_id > 2")]
    )
    index_root = _run_gram_ingest(spark, tmp_path, src)

    table_root = str(tmp_path / "documents_versioned")
    v1 = write_version(docs, table_root)
    v2 = write_version(docs.filter("doc_id <> 1"), table_root)  # takedown

    n = propagate_deletes(
        spark, table_root, "doc_id", [index_root], v1, v2
    )
    assert n == 1
    tomb = read_tombstones(spark, index_root)
    assert {r[0] for r in tomb.collect()} == {1}
    # and the index reader no longer serves doc 1's postings
    from data_lake_spark.operators.textdedup import _POS_BITS

    idx = read_gram_index(spark, index_root)
    assert idx.filter(F.expr(f"keeper DIV {_POS_BITS}") == 1).count() == 0


# ---------------------------------------------------------------------------
# video gram (recut-clip) family
# ---------------------------------------------------------------------------


def test_video_gram_takedown_unmarks_the_recut_clip(spark, tmp_path):
    # Video 2 is a recut of video 1 (frames 1..3 at offset 0). Take
    # video 1 down: its frame grams leave the index, video 2's run has
    # no surviving other occurrence, and the recut span VANISHES —
    # screening over frame tokens honors deletes exactly like text.
    from data_lake_spark.operators.textdedup import (
        exact_substr_spans_from_index,
    )
    from data_lake_spark.operators.videofp import (
        avi_from_text_col,
        frame_token_docs,
    )
    from data_lake_spark.streaming.incremental import (
        read_gram_index,
        start_video_gram_ingest,
    )

    total = 4 * 768
    base = ("source reel lorem ipsum frame payload words " * 80)[:total]
    clip = base[768:total] + ("zz fresh tail content " * 60)[:768]
    other = ("unrelated clip body " * 80)[:total]
    docs = spark.createDataFrame(
        [(1, base), (2, clip), (3, other)], "doc_id long, text string"
    )
    media = avi_from_text_col(docs)
    src = _write_batches(tmp_path, [media], sub="vsrc")
    index_root = str(tmp_path / "vgrams")
    stream = (
        spark.readStream.schema(media.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_video_gram_ingest(stream, index_root, str(tmp_path / "vckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    def spans():
        tok = frame_token_docs(media.filter("media_id <> 1"))
        return exact_substr_spans_from_index(
            tok, read_gram_index(spark, index_root), k=2, min_tokens=2
        ).count()

    # before: the recut span exists (vs all history incl. video 1)
    tok_all = frame_token_docs(media)
    assert (
        exact_substr_spans_from_index(
            tok_all, read_gram_index(spark, index_root), k=2, min_tokens=2
        ).count()
        == 1
    )
    delete_ids(spark, index_root, [1], id_col="doc_id")
    assert spans() == 0  # the banned source is gone; nothing left to match


# ---------------------------------------------------------------------------
# the artifact lane: takedown reaches stored serving state through the
# table rewrite -> fingerprint change -> rebuild (no tombstone needed)
# ---------------------------------------------------------------------------


def test_table_rewrite_propagates_takedown_to_stored_artifacts(
    spark, tmp_path, monkeypatch
):
    import shutil as _sh

    from data_lake_spark.queries.media import stored_image_hashes

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path / "store"))
    sf_dir = str(tmp_path / "sf")
    docs = _docs_df(
        spark, [(i, f"doc body {i} " + "lorem ipsum " * 80) for i in range(6)]
    )
    docs.write.parquet(sf_dir + "/documents.parquet")

    before = stored_image_hashes(spark, sf_dir)
    assert {r["media_id"] for r in before.collect()} == set(range(6))

    # the takedown lands in the TABLE (CDC delete -> rewrite): the
    # artifact fingerprint changes, so the next serving call rebuilds
    # from the survivors — doc 3's hash is gone without any tombstone
    survivors = spark.read.parquet(sf_dir + "/documents.parquet").filter(
        "doc_id <> 3"
    ).localCheckpoint()
    _sh.rmtree(sf_dir + "/documents.parquet")
    survivors.write.parquet(sf_dir + "/documents.parquet")

    after = stored_image_hashes(spark, sf_dir)
    assert {r["media_id"] for r in after.collect()} == {0, 1, 2, 4, 5}


def test_lsh_replay_after_takedown_never_rewrites_content(spark, tmp_path):
    # The accepted zone holds FULL text: after a takedown, a
    # checkpoint-loss replay must not re-write the deleted document's
    # content to disk (write-side guard), and read_accepted must hide
    # rows written before the takedown (read-side guard).
    from data_lake_spark.streaming.incremental import (
        read_accepted,
        start_lsh_dedup_ingest,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while rain falls on "
        "the plain"
    )
    accepted_root = str(tmp_path / "accepted")
    index_root = str(tmp_path / "lsh_index")

    def run(ckpt):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / "lsh_src"))
        )
        q = start_lsh_dedup_ingest(
            stream, accepted_root, index_root, str(tmp_path / ckpt)
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    _write_batches(
        tmp_path,
        [_docs_df(spark, [(1, base), (2, "other unrelated body of text")])],
        sub="lsh_src",
    )
    run("ck1")
    assert {r["doc_id"] for r in read_accepted(spark, accepted_root).collect()} == {1, 2}

    delete_ids(spark, [accepted_root, index_root], [1])
    # read-side: the pre-takedown row is hidden immediately
    assert {r["doc_id"] for r in read_accepted(spark, accepted_root).collect()} == {2}

    # checkpoint loss -> full replay: the write-side guard keeps doc
    # 1's text out of the rewritten batch dirs entirely
    run("ck2")
    raw = spark.read.parquet(accepted_root)
    assert raw.filter("doc_id = 1").count() == 0
    assert {r["doc_id"] for r in read_accepted(spark, accepted_root).collect()} == {2}


def test_rewrite_purged_preserves_ivf_cell_partitioning(spark, tmp_path):
    # the IVF family nests cell= inside batch_id=: the purge rewrite
    # must keep BOTH levels so cell-pruned probes keep pruning
    import glob as _g

    from data_lake_spark.catalog import load_table
    from data_lake_spark.operators.kmeans import hash_seeds
    from data_lake_spark.streaming.incremental import (
        read_vector_index,
        start_ivf_index_ingest,
    )
    from data_lake_spark.streaming.takedown import rewrite_purged

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(32)
    centroids = hash_seeds(emb, k=4)
    src = _write_batches(tmp_path, [emb], sub="ivfp_src")
    index_root = str(tmp_path / "ivfp_index")
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_ivf_index_ingest(
        stream, index_root, centroids, str(tmp_path / "ivfp_ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    live = read_vector_index(spark, index_root)
    dead = [r["vec_id"] for r in live.limit(2).collect()]
    delete_ids(spark, index_root, dead, id_col="vec_id")

    dest = str(tmp_path / "ivfp_purged")
    rewrite_purged(spark, index_root, dest, ["vec_id"])
    # nested layout survives the rewrite (default partition_by)
    assert _g.glob(os.path.join(dest, "batch_id=*", "cell=*"))
    raw = spark.read.parquet(dest)
    assert raw.filter(F.col("vec_id").isin(dead)).count() == 0
    want = {r["vec_id"] for r in live.collect()} - set(dead)
    assert {r["vec_id"] for r in read_vector_index(spark, dest).collect()} == want


def test_tombstone_publish_is_atomic_and_staging_invisible(spark, tmp_path):
    # round-9 advice: delete_ids used a non-atomic overwrite a racing
    # reader could catch half-written. It now stages to a dot-prefixed
    # dir (hidden from Spark's recursive listing) and renames into
    # place; replays of an already-committed digest are no-ops.
    from data_lake_spark.streaming.takedown import TOMB_DIR

    root = str(tmp_path / "idx")
    os.makedirs(root)
    delete_ids(spark, root, [3, 1, 2])
    tomb_root = os.path.join(root, TOMB_DIR)
    dels = [d for d in os.listdir(tomb_root) if d.startswith("del_")]
    assert len(dels) == 1
    assert os.path.exists(os.path.join(tomb_root, dels[0], "_SUCCESS"))
    # no staging leftovers
    assert not [d for d in os.listdir(tomb_root) if d.startswith(".stage")]
    # a replay leaves the committed dir untouched (same mtime)
    before = os.stat(os.path.join(tomb_root, dels[0])).st_mtime_ns
    delete_ids(spark, root, [1, 2, 3])
    assert os.stat(os.path.join(tomb_root, dels[0])).st_mtime_ns == before

    # a planted in-flight staging dir (mid-publish crash) must be
    # INVISIBLE to the reader — this pins the hidden-dir assumption
    # the atomicity argument rests on
    stage = os.path.join(tomb_root, ".stage_del_deadbeef_1")
    spark.createDataFrame([(99,)], "id long").coalesce(1).write.parquet(stage)
    got = {r["doc_id"] for r in read_tombstones(spark, root).collect()}
    assert got == {1, 2, 3}


def test_read_tombstones_memoizes_only_the_empty_probe(spark, tmp_path):
    # round-9 advice: every micro-batch paid a driver-side Spark probe
    # even with no takedown ever recorded; the empty result is now
    # memoized per root and invalidated by delete_ids
    from data_lake_spark.streaming import takedown as td

    root = str(tmp_path / "idx2")
    os.makedirs(root)
    assert read_tombstones(spark, root) is None
    assert root in td._NO_TOMB_MEMO
    # memoized second call (still None) — and the memo never survives
    # a delete: the ids must be visible immediately afterwards
    assert read_tombstones(spark, root) is None
    delete_ids(spark, root, [42])
    assert root not in td._NO_TOMB_MEMO
    got = {r["doc_id"] for r in read_tombstones(spark, root).collect()}
    assert got == {42}
    # cross-process invalidation: even with a stale memo entry planted,
    # the _tombstones mtime signature differs, forcing a real probe
    td._NO_TOMB_MEMO[root] = 12345
    got = {r["doc_id"] for r in read_tombstones(spark, root).collect()}
    assert got == {42}


# ---------------------------------------------------------------------------
# write-side guard on replay, per ledger family (round-9 verdict #3):
# after a takedown, a checkpoint-loss replay writes the REDUCED row set
# — deleted ids never return to disk, not just to the readers
# ---------------------------------------------------------------------------


def test_dhash_replay_after_takedown_writes_reduced_index(spark, tmp_path):
    src = _write_batches(tmp_path, [_media_df(spark, _IMG_DOCS)])
    pairs_root, index_root = _run_dhash_ingest(spark, tmp_path, src)
    assert spark.read.parquet(index_root).filter("media_id = 1").count() > 0

    delete_ids(spark, [index_root, pairs_root], [1], id_col="media_id")
    shutil.rmtree(str(tmp_path / "ckpt"))
    _run_dhash_ingest(spark, tmp_path, src)

    raw_idx = spark.read.parquet(index_root)
    assert raw_idx.filter("media_id = 1").count() == 0
    assert {r["media_id"] for r in raw_idx.collect()} == {2, 3}
    raw_pairs = spark.read.parquet(pairs_root)
    assert raw_pairs.filter("media_a = 1 OR media_b = 1").count() == 0


def test_ivf_replay_after_takedown_writes_reduced_index(spark, tmp_path):
    from data_lake_spark.catalog import load_table
    from data_lake_spark.operators.kmeans import hash_seeds
    from data_lake_spark.streaming.incremental import start_ivf_index_ingest

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(32)
    centroids = hash_seeds(emb, k=4)
    src = _write_batches(tmp_path, [emb], sub="ivf_src")
    index_root = str(tmp_path / "ivf_index")

    def run(ckpt):
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = start_ivf_index_ingest(
            stream, index_root, centroids, str(tmp_path / ckpt)
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run("ck1")
    dead = [
        r["vec_id"]
        for r in spark.read.parquet(index_root).limit(2).collect()
    ]
    delete_ids(spark, index_root, dead, id_col="vec_id")
    run("ck2")  # checkpoint loss -> full replay
    raw = spark.read.parquet(index_root)
    assert raw.filter(F.col("vec_id").isin(dead)).count() == 0
    assert raw.count() == 32 - len(dead)


def test_gram_replay_after_takedown_writes_reduced_postings(spark, tmp_path):
    from data_lake_spark.operators.textdedup import _POS_BITS

    docs = _docs_df(spark, _GRAM_DOCS)
    src = _write_batches(tmp_path, [docs])
    index_root = _run_gram_ingest(spark, tmp_path, src)
    raw0 = spark.read.parquet(index_root)
    assert raw0.filter(F.expr(f"keeper DIV {_POS_BITS}") == 1).count() > 0

    delete_ids(spark, index_root, [1])
    shutil.rmtree(str(tmp_path / "gram_ckpt"))
    _run_gram_ingest(spark, tmp_path, src)
    raw = spark.read.parquet(index_root)
    assert raw.filter(F.expr(f"keeper DIV {_POS_BITS}") == 1).count() == 0
    # survivors' postings are intact
    assert raw.filter(F.expr(f"keeper DIV {_POS_BITS}") == 2).count() > 0


def test_full_delete_replay_empties_the_batch_dirs(spark, tmp_path):
    # every ingested doc is taken down, then the whole source replays:
    # the write-side guard must OVERWRITE each batch dir with the empty
    # set — an early return would leave the deleted postings on disk
    docs = _docs_df(spark, _GRAM_DOCS)
    src = _write_batches(tmp_path, [docs])
    index_root = _run_gram_ingest(spark, tmp_path, src)
    assert spark.read.parquet(index_root).count() > 0

    delete_ids(spark, index_root, [1, 2, 3, 4])
    shutil.rmtree(str(tmp_path / "gram_ckpt"))
    _run_gram_ingest(spark, tmp_path, src)
    assert spark.read.parquet(index_root).count() == 0


def test_delete_ids_before_first_ingest_is_atomic(spark, tmp_path):
    # a takedown may arrive before the stream ever created the root:
    # a local-but-missing root must still take the atomic staged
    # publish (not the object-store direct-write fallback)
    from data_lake_spark.streaming.takedown import TOMB_DIR

    root = str(tmp_path / "not_yet_created")
    assert not os.path.exists(root)
    delete_ids(spark, root, [7, 8])
    dels = glob.glob(os.path.join(root, TOMB_DIR, "del_*"))
    assert len(dels) == 1
    assert os.path.exists(os.path.join(dels[0], "_SUCCESS"))
    assert not glob.glob(os.path.join(root, TOMB_DIR, ".stage*"))
    got = {r["doc_id"] for r in read_tombstones(spark, root).collect()}
    assert got == {7, 8}


def test_read_vector_index_survives_all_empty_root(spark, tmp_path):
    # full-delete replay empties every IVF batch dir (no parquet
    # footers anywhere): the reader must return an empty frame, not
    # raise 'unable to infer schema'
    from data_lake_spark.streaming.incremental import read_vector_index

    root = str(tmp_path / "ivf_empty")
    spark.createDataFrame([], "vec_id long, cell int").limit(0).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(os.path.join(root, "batch_id=0"))
    assert read_vector_index(spark, root).count() == 0
