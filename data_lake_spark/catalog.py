"""Catalog: load the warehouse tables and register them as views.

Replaces the reference's Glue database + six crawlers
(``/root/reference/src/cloudformation/data-lake-stack.yml:218-276``).
The crawler's job — register each table's schema once, so queries plan
from the catalog — is the schema registry behind :func:`read_parquet`:
a process-level map from a parquet path to the ``StructType`` Spark
inferred for it, valid while the path's fingerprint (name,
size and mtime_ns of every data file) and the session's four
inference-changing parquet confs are unchanged. A hit reads with the
stored schema, so the footer-inference Spark job runs once per table
version, not once per query. The registry holds metadata only, never
DataFrames or results. ``register_views`` makes tables addressable by
name from ``spark.sql`` exactly like Athena's two-part names
(``earnings.py:74-75``).
"""

from __future__ import annotations

import hashlib
import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The driver-generated star schema (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any fact scale.
DIM_TABLES = frozenset({"region", "nation", "customer", "supplier", "part"})


# Session confs that change the schema parquet inference returns.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
# Registry size in (path, confs) entries, oldest evicted first: every
# versioned snapshot directory is a distinct path. Writers take the lock
# (the dashboard reads and commits on several threads at once).
_MAX_SCHEMAS = 256
_SCHEMAS: dict[tuple[str, tuple], tuple[str, T.StructType]] = {}
_SCHEMAS_LOCK = threading.Lock()


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _fingerprint_path(p: str, h: "hashlib._Hash") -> None:
    """Digest (relative name, size, mtime_ns) of a file, or of every
    data file under a directory (parquet tables may be either)."""
    if os.path.isdir(p):
        for dirpath, _, names in sorted(os.walk(p)):
            for n in sorted(names):
                if n.startswith((".", "_")):
                    continue
                _fingerprint_path(os.path.join(dirpath, n), h)
        return
    st = os.stat(p)
    h.update(p.encode())
    h.update(str(st.st_size).encode())
    h.update(str(st.st_mtime_ns).encode())


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per
    table version: the first read infers it (one footer job) and
    registers it; later reads of the same unchanged files under the same
    inference confs pass it via ``.schema(...)`` and launch no job.
    Rewriting, adding or removing a data file changes the fingerprint,
    so the next read infers again and replaces the entry. Paths that are
    not local files or directories (globs, remote URIs) are read
    uncached."""
    h = hashlib.sha1()
    try:
        # fingerprint BEFORE inferring: a file that changes in between
        # leaves a stale fingerprint, so the next read re-infers
        _fingerprint_path(path, h)
    except OSError:  # not a local path, or files moved under the walk
        return spark.read.parquet(path)
    fp = h.hexdigest()
    key = (
        os.path.abspath(path),
        tuple(spark.conf.get(c) for c in _INFERENCE_CONFS),
    )
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == fp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    schema = df.schema
    with _SCHEMAS_LOCK:
        _SCHEMAS.pop(key, None)  # a replaced entry counts as newest
        _SCHEMAS[key] = (fp, schema)
        while len(_SCHEMAS) > _MAX_SCHEMAS:
            del _SCHEMAS[next(iter(_SCHEMAS))]
    return df


def _normalize(df: DataFrame, name: str) -> DataFrame:
    """Schema-on-read conformance (the silver layer's job in the reference's
    medallion design). The engine's contract is events.ts = long epoch
    nanoseconds; driver testdata has shipped it both as parquet
    TIMESTAMP(NANOS) (read as long via nanosAsLong) and as TIMESTAMP(MICROS)
    (read as timestamp). Normalize here so every consumer sees one type.
    Session timezone is UTC (session.py), so NTZ wall time == instant and
    the conversion is exact integer math (micros * 1000 fits int64)."""
    if name == "events":
        dt = df.schema["ts"].dataType
        if isinstance(dt, T.TimestampNTZType):
            # NTZ wall-clock arithmetic — independent of the session
            # timezone (the driver may call queries() with its own
            # SparkSession; casting NTZ→TIMESTAMP would shift by its TZ).
            micros = F.expr(
                "timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            )
            df = df.withColumn("ts", (micros * F.lit(1000)).cast("long"))
        elif isinstance(dt, T.TimestampType):
            # instant-typed: unix_micros is TZ-independent by definition
            df = df.withColumn(
                "ts", (F.unix_micros(F.col("ts")) * F.lit(1000)).cast("long")
            )
    return df


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    *,
    since_ns: int | None = None,
) -> DataFrame:
    """Parquet scan (SURVEY §2.1 S3). Columnar, filter/column pushdown free.

    ``since_ns`` is the incremental high-watermark (SURVEY §2.1 S11, Glue
    bookmarks) for ``events``, in epoch nanoseconds. It is applied BELOW the
    ts normalization, as a comparison between the raw column and a literal
    cast to the column's own physical type — the form parquet pushdown
    accepts. Filtering the normalized (derived) column instead would read
    every row-group: `unix_micros(ts)*1000 > X` is not invertible to the
    scanner. At 100 TB this is the difference between an incremental scan
    and a full one.
    """
    df = read_parquet(spark, table_path(sf_dir, name))
    if since_ns is not None and name == "events":
        dt = df.schema["ts"].dataType
        us = int(since_ns) // 1000
        if isinstance(dt, T.TimestampNTZType):
            # NTZ literal built by wall-clock interval arithmetic —
            # session-TZ-independent, constant-folds, stays pushable.
            secs = f"{us // 10**6}.{us % 10**6:06d}"
            bound = F.expr(
                "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
                f" + make_dt_interval(0, 0, 0, CAST('{secs}' AS DECIMAL(20,6)))"
            )
        elif isinstance(dt, T.TimestampType):
            bound = F.timestamp_micros(F.lit(us))
        else:
            bound = F.lit(int(since_ns))
        df = df.filter(F.col("ts") > bound)
    return _normalize(df, name)


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register the named testdata tables (default: all) as temp views
    (SURVEY §2.1 S8)."""
    out: dict[str, DataFrame] = {}
    for name in names:
        if os.path.exists(table_path(sf_dir, name)):
            df = load_table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
