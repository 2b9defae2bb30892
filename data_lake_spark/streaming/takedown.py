"""Takedown propagation for the persisted index families.

The lake's CDC surface (versioned.version_diff / apply_changes) can
remove a document from the TABLES, but the derived dedup/ANN indexes —
gram postings, LSH band signatures, dHash/audio fingerprint indexes,
IVF(-PQ) code lists — only ever grew: a GDPR/DMCA takedown could not
retract the deleted content's grams, hashes, or codes, so a removed
document kept suppressing "duplicates" of itself and kept surfacing as
a neighbor. This module adds the standard search-engine remedy
(Lucene's deleted-docs bitmap, applied lake-style):

- **Tombstones** — :func:`delete_ids` records deleted ids under
  ``<index_root>/_tombstones/`` (the underscore prefix keeps Spark's
  partition discovery of ``batch_id=*`` dirs blind to them). Each
  delete call writes a digest-named overwrite dir, so replays of the
  same takedown are idempotent, and the set is append-only/mergeable —
  a tombstone holds only the numeric id, never the content being
  removed.
- **Read-side filtering** — every index reader anti-joins the
  tombstone set (broadcast; takedown sets are legal-request-sized),
  so deletion is effective IMMEDIATELY after :func:`delete_ids`
  returns, without rewriting a single index file. A crash-replayed
  micro-batch that republishes a deleted document's rows cannot
  resurrect it: the filter is applied at read, not at write.
- **Physical purge at compaction** — ``compact_gram_index`` drops
  tombstoned postings while folding, so the bytes leave the disk on
  the existing maintenance schedule (the Lucene merge analogy); the
  tombstone files remain, continuing to screen any not-yet-compacted
  stream dirs.

The gram index is deletable because its partials are per-(gram,
document) postings — ``keeper = doc_id·2²⁰ + pos`` makes the document
id recoverable from every row (``incremental._gram_partials``). The
hash/LSH/IVF indexes store row-level (media_id / doc_id / vec_id)
entries already. **Granularity prerequisite**: a gram index whose
dirs were written by the old per-GRAM partials (one row per hash,
keeper = min over all docs) cannot be subtracted exactly — the
keeper-decoded filter would over-delete where the deleted doc held
the min and under-delete where it did not. Rebuild such an index
(re-ingest, or one compaction of re-derived partials) before relying
on tombstones; every writer in this codebase has emitted posting
granularity since the format changed, so only indexes predating it
need the rebuild.

At 100 TB: tombstone sets stay tiny (thousands of ids), so every
filter is a broadcast anti-join appended to an existing scan — no new
shuffle anywhere.

**Two-lane coherence contract.** Deletion reaches derived state by two
different mechanisms, on purpose:

- *Incremental (batch-ledger) indexes* — gram postings, LSH bands,
  dHash/audio hashes, IVF codes — cannot be rewritten cheaply (their
  per-batch dirs are the replay ledger), so they take TOMBSTONES:
  effective immediately at read, purged physically at compaction /
  rewrite.
- *Fingerprint-keyed serving artifacts* (``artifacts.stored_artifact``
  — PCA component, BPE vocab, stored hash/signature tables) derive
  from TABLES, and their path digests the table bytes: a takedown
  becomes effective there through the table rewrite itself
  (``versioned.apply_changes`` / compaction) — new fingerprint ⇒ the
  next serving call rebuilds without the deleted rows, no tombstone
  needed. The deleted content keeps serving from the OLD artifact only
  until the table rewrite lands, which is exactly the window the
  tombstoned incremental indexes cover (they answer "is this a dup of
  deleted content" queries immediately).

tests/test_takedown.py pins both lanes end to end.
"""

from __future__ import annotations

import hashlib
import os
import re
from typing import Iterable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: tombstones live beside the batch dirs; the leading underscore hides
#: the subtree from Spark's partition discovery of the index root
TOMB_DIR = "_tombstones"

#: read_tombstones memo for the common NO-takedown case: index_root →
#: the os-level signature of its _tombstones subtree observed when a
#: Spark probe last came back empty. Steady-state micro-batches then
#: skip the per-batch driver-side spark.read probe entirely; any
#: delete_ids call changes the subtree's mtime (and pops the entry
#: in-process), invalidating the memo. Only the NEGATIVE result is
#: cached — once tombstones exist, every read goes to Spark.
_NO_TOMB_MEMO: dict = {}


def _tomb_sig(index_root: str):
    """Driver-local signature of ``<index_root>/_tombstones``, or None
    when the root is not visible to local ``os`` (HDFS/S3, or a
    scheme-prefixed path) — memoization is DISABLED there, because an
    os-level check on such a root is silently empty and caching it
    would mean silently serving deleted content (the trap the
    read_tombstones docstring documents)."""
    d = os.path.join(index_root, TOMB_DIR)
    try:
        return os.stat(d).st_mtime_ns
    except OSError:
        # no tombstone subtree — but only trust that when the ROOT
        # itself is locally visible; otherwise we simply can't see
        return 0 if os.path.isdir(index_root) else None


def delete_ids(
    spark: SparkSession,
    index_roots: str | Sequence[str],
    ids: Iterable[int],
    id_col: str = "doc_id",
) -> None:
    """Record a takedown: ``ids`` are dead to every reader of the given
    index root(s) from this call on. Pass every root the content
    touched (e.g. the dHash family's ``index_root`` AND ``pairs_root``)
    — each root owns its tombstones so its readers stay self-contained.

    Idempotent: the dir name digests the sorted id set; a digest dir
    that already holds ``_SUCCESS`` is left untouched (replaying the
    same takedown is a no-op). Distinct takedowns get distinct dirs;
    the reader unions them.

    Publication is ATOMIC where the filesystem allows: the set is
    written to a dot-prefixed staging dir (hidden from Spark's
    recursive listing) and ``os.rename``d into ``del_<digest>``, so a
    concurrent :func:`read_tombstones` can never observe a
    partially-written tombstone set or fail on a vanishing file
    mid-overwrite — briefly serving deleted content. On a root that
    is not os-visible (object store / scheme path) the staging detour
    is skipped entirely — it could neither rename atomically nor
    clean up its staging dir there — and the write is the direct
    (non-atomic) overwrite; production swaps that for a
    conditional-put manifest."""
    import shutil

    uniq = sorted({int(i) for i in ids})
    if not uniq:
        return
    digest = hashlib.sha1(
        (id_col + ":" + ",".join(map(str, uniq))).encode()
    ).hexdigest()[:16]
    # the on-disk column is ALWAYS 'id' regardless of id_col: tombstone
    # dirs under one root must union cleanly even when recorded with
    # different caller-side id names (a doc_id/media_id mix would
    # otherwise schema-merge to NULLs and silently stop screening);
    # id_col still salts the digest so distinct-name replays stay
    # distinct dirs
    df = spark.createDataFrame([(i,) for i in uniq], "id long")
    roots = [index_roots] if isinstance(index_roots, str) else index_roots
    for root in roots:
        final = os.path.join(root, TOMB_DIR, f"del_{digest}")
        if os.path.exists(os.path.join(final, "_SUCCESS")):
            _NO_TOMB_MEMO.pop(root, None)
            continue  # identical set already committed (replay)
        if re.match(r"^[a-zA-Z][a-zA-Z0-9+.\-]*:(//)?", root):
            # scheme-prefixed root (object store / remote FS): the
            # staging detour would leak an un-rmtree-able remote dir
            # per call and the rename can't be atomic there anyway —
            # write directly (the documented non-atomic fallback;
            # production swaps this for a conditional-put manifest)
            df.coalesce(1).write.mode("overwrite").parquet(final)
            _NO_TOMB_MEMO.pop(root, None)
            continue
        # local root (even one the first ingest hasn't created yet —
        # a takedown may legitimately arrive ahead of the stream):
        # the atomic staging+rename publish applies
        os.makedirs(os.path.join(root, TOMB_DIR), exist_ok=True)
        staging = os.path.join(
            root, TOMB_DIR, f".stage_del_{digest}_{os.getpid()}"
        )
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        try:
            os.rename(staging, final)
        except OSError:
            # a concurrent writer committed the same digest (keep
            # theirs), or a crashed direct write left a marker-less
            # dir at final — overwrite it
            if not os.path.exists(os.path.join(final, "_SUCCESS")):
                df.coalesce(1).write.mode("overwrite").parquet(final)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        _NO_TOMB_MEMO.pop(root, None)


def read_tombstones(
    spark: SparkSession, index_root: str, id_col: str = "doc_id"
) -> Optional[DataFrame]:
    """The union of every takedown recorded under ``index_root``, as a
    one-column (``id_col``) frame — or None when no takedown exists
    (the common case; callers skip the join entirely).

    Discovery goes through the SPARK reader, never a driver-local
    glob: index roots live on any Hadoop-visible filesystem (HDFS/S3),
    where an os-level listing is silently empty — which for a takedown
    would mean silently serving deleted content (the same trap
    incremental.read_ingest_zone's existence probe documents). All
    tombstone files share the canonical single 'id' column (see
    delete_ids), so a recursive read of the _tombstones subtree unions
    cleanly.

    The common NO-takedown case is memoized per root (``_NO_TOMB_MEMO``)
    so steady-state micro-batches don't pay a driver-side Spark probe
    per batch forever: when the root is locally visible, an unchanged
    ``_tombstones`` mtime signature short-circuits to None without
    touching Spark. The memo is only ever a cache of a NEGATIVE Spark
    probe, keyed by the subtree's os signature — any delete_ids
    changes the signature (and pops the entry in-process), and on
    non-local roots (signature None) every call still goes to Spark."""
    from pyspark.errors import AnalysisException

    sig = _tomb_sig(index_root)
    if sig is not None and _NO_TOMB_MEMO.get(index_root) == sig:
        return None
    try:
        df = (
            spark.read.option("recursiveFileLookup", "true")
            .parquet(os.path.join(index_root, TOMB_DIR))
        )
    except AnalysisException:
        if sig is not None:
            _NO_TOMB_MEMO[index_root] = sig
        return None  # no takedown ever recorded under this root
    return df.select(F.col("id").alias(id_col)).distinct()


def filter_tombstoned(
    df: DataFrame, tomb: Optional[DataFrame], cols: Sequence[str]
) -> DataFrame:
    """Drop every row where ANY of ``cols`` is a tombstoned id —
    one broadcast anti-join per column (pair tables have two id
    columns). No-op when ``tomb`` is None."""
    if tomb is None:
        return df
    tomb_id = tomb.columns[0]
    for c in cols:
        df = df.join(
            F.broadcast(tomb.select(F.col(tomb_id).alias(c))), c, "left_anti"
        )
    return df


def screen_batch(
    batch_df: DataFrame, index_root: str, id_cols: Sequence[str]
) -> DataFrame:
    """Write-side takedown guard for every streaming ingest, applied by
    incremental.batch_sink (its ``screen``): drop rows whose id is
    tombstoned against ``index_root`` BEFORE any index bytes are
    written. Read-side filtering keeps query results correct
    regardless, but without this a crash-REPLAYED micro-batch re-lands
    a deleted id's rows on disk (hashes, signatures, codes, gram
    postings — or, in the LSH accepted zone, full document text),
    where they sit until the next compaction/rewrite. The guard makes
    replay-after-delete write the REDUCED set: deleted content never
    returns to disk. Costs one memoized tombstone probe per batch
    (nothing in the steady no-takedown state) plus a broadcast
    anti-join when tombstones exist."""
    tomb = read_tombstones(batch_df.sparkSession, index_root, id_cols[0])
    return filter_tombstoned(batch_df, tomb, list(id_cols))


def rewrite_purged(
    spark: SparkSession,
    index_root: str,
    dest_root: str,
    id_cols: Sequence[str],
    partition_by: Sequence[str] = ("batch_id", "cell"),
) -> None:
    """Physical purge for the row-level index families (dHash/audio
    hashes, recorded pairs, LSH bands, IVF codes): rewrite the index
    minus tombstoned rows into ``dest_root``, preserving the batch-dir
    layout (and any inner partitioning, e.g. IVF's ``cell``), then the
    caller swaps roots. The default ``partition_by`` covers both lake
    layouts — plain ``batch_id=`` ledgers and the IVF family's nested
    ``batch_id=/cell=`` (absent names are skipped), so cell-pruned
    probes keep pruning over the rewritten root. The gram index purges
    in place on its compaction schedule (``compact_gram_index``);
    these indexes purge on THEIR natural rewrite schedule —
    retrain/re-layout — or on demand with this, the Lucene force-merge
    analogy. Writing a fresh
    root (never mutating dirs the ledger still references) keeps the
    operation crash-safe: a half-finished rewrite is an unreferenced
    directory, not a corrupted index. Tombstones are NOT copied — the
    rewritten index has nothing left to screen; new takedowns start a
    fresh set."""
    df = spark.read.parquet(index_root)
    tomb = read_tombstones(spark, index_root, id_cols[0])
    out = filter_tombstoned(df, tomb, list(id_cols))
    writer = out.write.mode("overwrite")
    parts = [c for c in partition_by if c in df.columns]
    if parts:
        writer = writer.partitionBy(*parts)
    writer.parquet(dest_root)


def propagate_deletes(
    spark: SparkSession,
    table_root: str,
    key: str,
    index_roots: Sequence[str],
    v_from: int,
    v_to: Optional[int] = None,
    id_col: Optional[str] = None,
) -> int:
    """CDC → takedown bridge: read the change feed between two
    published versions of a lake table (versioned.version_diff) and
    tombstone every DELETED key against the given index roots, so a
    row removed from the table stops matching in every derived
    dedup/ANN index without anyone hand-listing ids. Update-typed
    changes are left alone — the content changed but the id lives on;
    re-indexing updated content is the ingest stream's job.

    The deleted key set is collected to the driver: takedowns are
    legal-request-sized (the delete_ids contract). A bulk purge of a
    whole source should rebuild the affected indexes instead — cheaper
    than a tombstone set the size of the index. Returns the number of
    deleted ids propagated."""
    from data_lake_spark.versioned import version_diff

    diff = version_diff(spark, table_root, [key], v_from, v_to)
    deleted = [
        r[key]
        for r in diff.filter(F.col("_change_type") == "delete")
        .select(key)
        .distinct()
        .collect()
    ]
    if deleted:
        delete_ids(spark, index_roots, deleted, id_col or key)
    return len(deleted)
