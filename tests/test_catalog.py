"""The schema registry behind catalog.read_parquet: a cached schema is
served only while the table's files and the session's inference confs
are unchanged. Every test works on copies under ``tmp_path``; each fails
when the registry skips the invalidation it names."""

from __future__ import annotations

import os
import sys
import threading
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import types as T

from data_lake_spark import catalog
from data_lake_spark.catalog import load_table, read_parquet, table_path

_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _entries(path: str) -> dict[tuple, tuple]:
    """The registry entries for ``path``, keyed by their conf values."""
    p = os.path.abspath(path)
    return {k[1]: v for k, v in catalog._SCHEMAS.items() if k[0] == p}


def _events_variant(src_dir: str, dst: str, unit: str) -> None:
    """Write the events table with ``ts`` as parquet TIMESTAMP(``unit``)."""
    t = pq.read_table(table_path(src_dir, "events"))
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, "ts", t.column("ts").cast(pa.timestamp(unit)))
    pq.write_table(t, dst)


def test_rewrite_with_added_column_is_read(spark, sf_dir, tmp_path):
    lake = str(tmp_path)
    t = pq.read_table(table_path(sf_dir, "region"))
    pq.write_table(t, table_path(lake, "region"))
    assert "r_extra" not in load_table(spark, lake, "region").columns
    assert "r_extra" not in load_table(spark, lake, "region").columns  # a hit

    n = t.num_rows
    pq.write_table(
        t.append_column("r_extra", pa.array(range(n), pa.int64())),
        table_path(lake, "region"),
    )
    df = load_table(spark, lake, "region")
    assert df.columns[-1] == "r_extra"
    assert sorted(r.r_extra for r in df.collect()) == list(range(n))


def test_events_ts_variant_switch_keeps_long_nanos(spark, sf_dir, tmp_path):
    # the two shapes driver testdata has shipped events.ts in, swapped at
    # one path (the two files have the same size: only mtime tells them
    # apart); load_table must conform both to the same long epoch nanos
    lake = str(tmp_path)
    dst = table_path(lake, "events")
    since = 1_704_500_000 * 10**9

    def snap():
        full = load_table(spark, lake, "events")
        assert dict(full.dtypes)["ts"] == "bigint"
        inc = load_table(spark, lake, "events", since_ns=since)
        return (
            sorted(r.ts for r in full.select("ts").collect()),
            sorted(r.ts for r in inc.select("ts").collect()),
        )

    results = []
    for unit in ("us", "ns", "us"):
        _events_variant(sf_dir, dst, unit)
        results.append(snap())
        results.append(snap())  # served from the registry
    full, inc = results[0]
    assert 0 < len(inc) < len(full)
    assert all(r == results[0] for r in results)


def test_added_part_file_is_read(spark, sf_dir, tmp_path):
    lake = str(tmp_path)
    part_dir = table_path(lake, "orders")
    os.makedirs(part_dir)
    t = pq.read_table(table_path(sf_dir, "orders"))
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), os.path.join(part_dir, "part-0.parquet"))
    assert load_table(spark, lake, "orders").count() == half
    (before,) = _entries(part_dir).values()

    pq.write_table(t.slice(half), os.path.join(part_dir, "part-1.parquet"))
    assert load_table(spark, lake, "orders").count() == t.num_rows
    (after,) = _entries(part_dir).values()
    assert after[0] != before[0]  # the entry was re-fingerprinted


def test_nanos_as_long_flip_is_a_separate_entry(spark, sf_dir, tmp_path):
    path = str(tmp_path / "events_ns.parquet")
    _events_variant(sf_dir, path, "ns")
    old = spark.conf.get(_NANOS_AS_LONG)
    try:
        spark.conf.set(_NANOS_AS_LONG, "true")
        assert dict(read_parquet(spark, path).dtypes)["ts"] == "bigint"
        # without nanosAsLong Spark cannot read TIMESTAMP(NANOS); the
        # long schema cached under the other conf value must not be used
        spark.conf.set(_NANOS_AS_LONG, "false")
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            read_parquet(spark, path)
        spark.conf.set(_NANOS_AS_LONG, "true")
        assert dict(read_parquet(spark, path).dtypes)["ts"] == "bigint"
    finally:
        spark.conf.set(_NANOS_AS_LONG, old)
    (conf_values,) = _entries(path)
    assert conf_values[0] == "true"  # nanosAsLong comes first in the key


def test_concurrent_reads_agree(spark, sf_dir, tmp_path):
    lake = str(tmp_path)
    names = ("region", "nation", "supplier")
    for t in names:
        pq.write_table(pq.read_table(table_path(sf_dir, t)), table_path(lake, t))
    results: list = [None] * 2
    errors: list = []

    def read(i: int) -> None:
        try:
            out = []
            for _ in range(2):
                for t in names:
                    df = load_table(spark, lake, t)
                    out.append((df.dtypes, sorted(df.collect())))
            results[i] = out
        except Exception as e:  # surfaced below, on the test thread
            errors.append(e)

    threads = [threading.Thread(target=read, args=(i,)) for i in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors
    assert results[0] == results[1]
    for t in names:
        assert len(_entries(table_path(lake, t))) == 1


class _FakeReader:
    """``spark.read`` stand-in: the schema "inferred" for a path is one
    long column named after the file."""

    def __init__(self, schema: T.StructType | None = None) -> None:
        self._schema = schema

    def schema(self, schema: T.StructType) -> "_FakeReader":
        return _FakeReader(schema)

    def parquet(self, path: str) -> SimpleNamespace:
        name = os.path.basename(path)
        inferred = T.StructType([T.StructField(name, T.LongType())])
        return SimpleNamespace(schema=self._schema or inferred)


def test_registry_inserts_and_evictions_race_safely(tmp_path, monkeypatch):
    # the registry's own bookkeeping, without Spark in the way: many
    # threads, a tiny cap and a short switch interval make inserts and
    # evictions interleave; every read must get its own path's schema
    paths = []
    for i in range(6):
        p = tmp_path / f"t{i}"
        p.write_bytes(b"x" * i)
        paths.append(str(p))
    fake = SimpleNamespace(
        conf=SimpleNamespace(get=lambda key: "v"), read=_FakeReader()
    )
    monkeypatch.setattr(catalog, "_SCHEMAS", {})
    monkeypatch.setattr(catalog, "_MAX_SCHEMAS", 2)
    errors: list = []

    def read(k: int) -> None:
        try:
            for j in range(2000):
                p = paths[(j + k) % len(paths)]
                names = read_parquet(fake, p).schema.names
                if names != [os.path.basename(p)]:
                    errors.append((p, names))
        except Exception as e:  # surfaced below, on the test thread
            errors.append(e)

    threads = [threading.Thread(target=read, args=(k,)) for k in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors[:3]
    assert len(catalog._SCHEMAS) <= 2
