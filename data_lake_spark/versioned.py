"""Snapshot-versioned tables on plain parquet — time travel without Delta.

The reference's upsert path rewrites objects in place
(ingestStreamateModelPerformance.py:145-175), so a reader racing a writer
sees a torn table and yesterday's state is unrecoverable. The lakehouse
fix is snapshot isolation: every write lands in a fresh immutable
version directory and a single pointer file flips atomically; readers
resolve the pointer once and scan an immutable snapshot.

This is the core idea of Delta/Iceberg metadata, reduced to what plain
parquet + an atomic rename can give:

    table/
      _v=1/part-*.parquet      (immutable)
      _v=2/part-*.parquet
      _LATEST                  (one line: "2"; swapped via os.replace)

Semantics:
- writers never mutate a published version (crash mid-write leaves an
  unpublished _v=N+1, invisible to readers — publish IS the commit);
- readers pin a version at resolve time → repeatable reads across a job;
- history is queryable (``read_version``) and diffable until ``vacuum``.

At 100 TB the same layout works per-partition (version the partition
directories you rewrote, not the table) — the pointer file is the only
coordination point, identical to Delta's _last_checkpoint.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

_POINTER = "_LATEST"


def _vdir(root: str, v: int) -> str:
    return os.path.join(root, f"_v={v}")


def current_version(root: str) -> int:
    """Published version, or 0 if the table has never been committed."""
    try:
        with open(os.path.join(root, _POINTER)) as fh:
            return int(fh.read().strip())
    except FileNotFoundError:
        return 0


def list_versions(root: str) -> list[int]:
    """All version directories present (published or orphaned)."""
    if not os.path.isdir(root):
        return []
    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(root)
        if d.startswith("_v=")
    )


def write_version(df: DataFrame, root: str) -> int:
    """Write a new immutable snapshot and atomically publish it.
    Returns the committed version number."""
    v = current_version(root) + 1
    while v in set(list_versions(root)):  # skip orphans from crashed writers
        v += 1
    df.write.mode("errorifexists").parquet(_vdir(root, v))
    tmp = os.path.join(root, _POINTER + ".tmp")
    with open(tmp, "w") as fh:
        fh.write(str(v))
    os.replace(tmp, os.path.join(root, _POINTER))  # the commit point
    return v


def read_version(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Scan a pinned snapshot (default: the currently published one).
    The returned frame stays bound to that version even if a writer
    publishes a newer one mid-job — repeatable reads."""
    v = current_version(root) if version is None else version
    if v == 0:
        raise FileNotFoundError(f"no published version at {root}")
    return spark.read.parquet(_vdir(root, v))


def merge_into(
    spark: SparkSession,
    root: str,
    updates: DataFrame,
    keys: list[str],
    order_col: str,
) -> int:
    """Delta-style MERGE onto a versioned table: new version =
    keep-latest over (current snapshot ∪ updates) by ``keys`` —
    WHEN MATCHED UPDATE + WHEN NOT MATCHED INSERT in one window pass,
    with time travel to every pre-merge state for free. First merge on
    an empty table is a plain insert. Returns the committed version.

    The reference's per-record upsert (ingestStreamateModelPerformance
    .py:72-142) is this operation at batch size 1 without history."""
    from data_lake_spark.operators.upsert import keep_latest

    if current_version(root) == 0:
        merged = updates
    else:
        merged = keep_latest(
            read_version(spark, root).unionByName(updates),
            keys=keys,
            order_col=order_col,
        )
    # The plan reads the immutable _v=N and the pointer flips only after
    # _v=N+1 is written, so the merge streams straight into the write.
    return write_version(merged, root)


def vacuum(root: str, keep_last: int = 2) -> list[int]:
    """Drop all but the newest ``keep_last`` published versions (plus any
    orphans older than them). Never touches the current version. Returns
    the versions removed."""
    import shutil

    cur = current_version(root)
    keep = {v for v in list_versions(root) if v > cur - keep_last}
    keep.add(cur)
    dropped = [v for v in list_versions(root) if v not in keep]
    for v in dropped:
        shutil.rmtree(_vdir(root, v))
    return dropped


# ---------------------------------------------------------------------------
# Multi-table atomic commits (group snapshots)
# ---------------------------------------------------------------------------
#
# A silver publish writes SEVERAL tables (studios_earnings +
# earnings_by_performer, SURVEY §3.3); per-table pointers alone let a
# reader see table A at the new state and table B at the old one. The
# fix is one more level of the same idea: tables stage immutable
# version dirs as above, but readers resolve through a GROUP manifest
# (one JSON naming every table's version), and the manifest swap is the
# single commit point for the whole set. Group manifests are numbered
# and kept, so time travel is cross-table consistent: snapshot 3 is the
# exact set of versions that were published together.

_SNAP_PTR = "_SNAPSHOT"
_SNAP_DIR = "_snapshots"


def _snap_path(root: str, sid: int) -> str:
    return os.path.join(root, _SNAP_DIR, f"{sid}.json")


def current_snapshot_id(root: str) -> int:
    try:
        with open(os.path.join(root, _SNAP_PTR)) as fh:
            return int(fh.read().strip())
    except FileNotFoundError:
        return 0


def read_snapshot(root: str, snapshot_id: int | None = None) -> dict:
    """The {table: version} map of a group snapshot (default current)."""
    import json

    sid = current_snapshot_id(root) if snapshot_id is None else snapshot_id
    if sid == 0:
        return {"id": 0, "tables": {}}
    with open(_snap_path(root, sid)) as fh:
        return json.load(fh)


def commit_tables(dfs: dict[str, DataFrame], root: str) -> int:
    """Atomically publish new versions of several tables as ONE snapshot.

    Each frame lands in its table's next free immutable ``_v=`` dir
    (crash mid-write leaves invisible orphans, exactly as
    write_version); the numbered group manifest is then written and the
    ``_SNAPSHOT`` pointer swapped via os.replace — before the swap,
    readers see every table at the previous snapshot; after it, every
    table at the new one. Tables not in ``dfs`` carry forward
    unchanged. Returns the new snapshot id."""
    import json

    snap = read_snapshot(root)
    tables = dict(snap["tables"])
    for name, df in dfs.items():
        troot = os.path.join(root, name)
        os.makedirs(troot, exist_ok=True)
        v = max(list_versions(troot), default=0) + 1
        df.write.mode("errorifexists").parquet(_vdir(troot, v))
        tables[name] = v
    sid = snap["id"] + 1
    os.makedirs(os.path.join(root, _SNAP_DIR), exist_ok=True)
    manifest = {"id": sid, "tables": tables}
    with open(_snap_path(root, sid), "w") as fh:
        json.dump(manifest, fh)
    tmp = os.path.join(root, _SNAP_PTR + ".tmp")
    with open(tmp, "w") as fh:
        fh.write(str(sid))
    os.replace(tmp, os.path.join(root, _SNAP_PTR))  # the commit point
    return sid


def read_table(
    spark: SparkSession,
    root: str,
    table: str,
    snapshot_id: int | None = None,
) -> DataFrame:
    """Scan one table at a group snapshot (default: current). All
    read_table calls against the same snapshot id see versions that
    were committed together — cross-table repeatable reads."""
    snap = read_snapshot(root, snapshot_id)
    if table not in snap["tables"]:
        raise FileNotFoundError(
            f"table {table!r} not in snapshot {snap['id']} at {root}"
        )
    return spark.read.parquet(_vdir(os.path.join(root, table), snap["tables"][table]))


def version_diff(
    spark: SparkSession,
    root: str,
    keys: list[str],
    v_from: int,
    v_to: int | None = None,
) -> DataFrame:
    """Change feed between two published snapshots — Delta CDF
    (``table_changes``) semantics reconstructed from plain versioned
    parquet: one row per changed key with ``_change_type`` ∈ insert /
    delete / update_preimage / update_postimage, in the table's own
    schema. Unchanged rows are absent.

    Plan shape at 100 TB: ONE full-outer equi-join of the two snapshots
    on ``keys`` (co-partitioned shuffle, no pair space), change
    classification from an order-insensitive content hash of the
    non-key columns (functions/checksum.row_hash — null-safe, column-
    order-independent), and the pre/post update images emitted by a
    map-only inline explode, not a second join or a second scan.

    ``keys`` must be non-null (standard join-key equality: a NULL key
    never matches, so a null-keyed row would surface as delete+insert
    rather than update — normalize keys upstream, P10-style) AND unique
    per snapshot: duplicate-keyed rows would fan out M×N in the
    full-outer join, and :func:`apply_changes` could not reproduce the
    target. Uniqueness is ENFORCED in-plan — a count-over-keys window
    on each side (which reuses the join's own hash partitioning, so no
    extra shuffle) feeds ``raise_error``, so a malformed snapshot fails
    the diff action loudly instead of shipping a silently wrong feed.

    Applying the feed to the old snapshot reproduces the new one
    exactly (delete the delete/update_preimage keys, insert the
    insert/update_postimage rows) — the reconciliation property
    tests/test_version_diff.py proves with table_checksum."""
    from data_lake_spark.functions.checksum import row_hash

    pre = read_version(spark, root, v_from)
    post = read_version(spark, root, v_to)
    cols = post.columns
    if set(pre.columns) != set(cols):
        raise ValueError(
            f"version_diff needs matching schemas; v{v_from} has "
            f"{sorted(pre.columns)}, v{v_to} has {sorted(cols)}"
        )
    from pyspark.sql import functions as F

    val_cols = [c for c in cols if c not in keys]

    def _h(df: DataFrame):
        # a pure key set has nothing to content-compare: constant hash
        # makes every matched key "unchanged", leaving insert/delete only
        return row_hash(df, val_cols) if val_cols else F.lit(0).cast("long")

    from pyspark.sql import Window

    def _guarded_h(df: DataFrame, which: str):
        # duplicate-key tripwire folded into the hash column: the window
        # partitions by the join keys, so its exchange is the one the
        # full-outer join needs anyway — the guard costs a per-partition
        # sort, never an extra shuffle or a separate validation job
        dup = F.count(F.lit(1)).over(Window.partitionBy(*keys)) > 1
        msg = F.concat(
            F.lit(f"version_diff: duplicate key in {which} snapshot: "),
            F.concat_ws(
                ", ", *[F.col(k).cast("string") for k in keys]
            ),
        )
        return F.when(dup, F.raise_error(msg).cast("long")).otherwise(
            _h(df)
        )

    a = pre.select(
        *keys,
        _guarded_h(pre, "pre").alias("__h_pre"),
        F.struct(*cols).alias("__pre"),
    )
    b = post.select(
        *keys,
        _guarded_h(post, "post").alias("__h_post"),
        F.struct(*cols).alias("__post"),
    )
    j = a.join(b, keys, "full_outer")

    changes = F.when(
        F.col("__h_pre").isNull(),
        F.array(F.struct(F.lit("insert").alias("t"), F.col("__post").alias("r"))),
    ).when(
        F.col("__h_post").isNull(),
        F.array(F.struct(F.lit("delete").alias("t"), F.col("__pre").alias("r"))),
    ).when(
        F.col("__h_pre") != F.col("__h_post"),
        F.array(
            F.struct(F.lit("update_preimage").alias("t"), F.col("__pre").alias("r")),
            F.struct(F.lit("update_postimage").alias("t"), F.col("__post").alias("r")),
        ),
    ).otherwise(F.array())  # unchanged: emits nothing

    ex = j.select(F.explode(changes).alias("c"))
    return ex.select(
        *[F.col(f"c.r.{c}").alias(c) for c in cols],
        F.col("c.t").alias("_change_type"),
    )


def apply_changes(
    spark: SparkSession,
    base: DataFrame,
    feed: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Replay a :func:`version_diff` feed onto ``base``: drop the keys
    the feed deletes or updates (LEFT ANTI join — key-only shuffle),
    then append the insert/update_postimage rows. The CDC consumer
    side; composing diff→apply reproduces the target snapshot
    bit-for-bit (multiset equality via table_checksum)."""
    from pyspark.sql import functions as F

    cols = base.columns
    touched = feed.filter(
        F.col("_change_type").isin("delete", "update_preimage")
    ).select(*keys)
    additions = feed.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select(*cols)
    return base.join(touched, keys, "left_anti").unionByName(additions)


def maintain_aggregate(
    agg: DataFrame,
    feed: DataFrame,
    group_cols: list[str],
    value_col: str,
    scale: float = 1_000_000.0,
) -> DataFrame:
    """Incremental materialized-view maintenance from a
    :func:`version_diff` feed — the update/delete-capable complement to
    the watermark rollup (pipelines.incremental_event_rollup covers
    append-only sources; a CDC source also retracts).

    ``agg`` is the grouped state ``(group_cols…, value_u, n_rows)``
    with ``value_u`` in integer micro-units (functions/exact.py
    recipe — addition AND subtraction are exact, which is the whole
    trick: retracting a double sum would reintroduce float order
    dependence). The feed's post-images (insert / update_postimage)
    contribute +floor(value·scale); pre-images (delete /
    update_preimage) contribute the exact negation of what they once
    contributed. Groups whose row count reaches zero are dropped, so
    the maintained state is bit-identical to re-aggregating the new
    snapshot from scratch (tests/test_version_diff.py proves it with
    table_checksum).

    Cost: one groupBy over the FEED (sized by what changed) plus one
    co-partitioned merge with the state — at 100 TB the refresh tracks
    the day's churn, never the table."""
    from pyspark.sql import functions as F

    signed = feed.select(
        *group_cols,
        (
            F.when(
                F.col("_change_type").isin("insert", "update_postimage"),
                F.lit(1),
            ).otherwise(F.lit(-1))
        ).alias("__sgn"),
        F.floor(F.col(value_col) * F.lit(scale)).alias("__u"),
    )
    delta = signed.groupBy(*group_cols).agg(
        F.sum(F.col("__sgn") * F.col("__u")).alias("value_u"),
        F.sum("__sgn").alias("n_rows"),
    )
    return (
        agg.unionByName(delta)
        .groupBy(*group_cols)
        .agg(
            F.sum("value_u").alias("value_u"),
            F.sum("n_rows").alias("n_rows"),
        )
        .filter(F.col("n_rows") > 0)
    )
