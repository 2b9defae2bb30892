"""Tests for the benchmark's own code; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import json
import os
import random

import pytest

from perfbench import gen, metrics, oracles

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _take(it, n):
    return list(itertools.islice(it, n))


@pytest.mark.parametrize("seed", [0, 1, 17])
def test_dashboard_requests_are_deterministic_per_seed(seed):
    assert _take(gen.dashboard_rounds(seed), 5) == _take(gen.dashboard_rounds(seed), 5)
    assert _take(gen.dashboard_rounds(seed), 5) != _take(gen.dashboard_rounds(seed + 1), 5)


def test_every_dashboard_round_asks_every_endpoint_once():
    for rnd in _take(gen.dashboard_rounds(3), 20):
        assert sorted(p["endpoint"] for p in rnd) == sorted(gen.ENDPOINTS)


def test_dashboard_grid_covers_every_needle_unit():
    units = {
        oracles.time_unit(p["start_date"], p["end_date"])
        for rnd in _take(gen.dashboard_rounds(5), 200)
        for p in rnd
        if p["endpoint"] == "needle"
    }
    assert units == {"day", "week", "biweek", "month", "quarter", "year"}


def test_curation_passes_are_deterministic_permutations():
    names = list(metrics.CURATION_QUERIES)
    a = _take(gen.curation_passes(7, names), 4)
    assert a == _take(gen.curation_passes(7, names), 4)
    assert all(sorted(p) == sorted(names) for p in a)


def _model():
    rng = random.Random(0)
    rows = {
        (str(rng.randrange(500)), f"1996-01-{d:02d}"): gen.micros(rng.uniform(1, 1e5))
        for d in range(1, 29)
        for _ in range(100)
    }
    return gen.TableModel(rows, 1)


def test_ingest_batches_are_deterministic_and_revise_then_insert():
    a, b = _model(), _model()
    ba = a.draw_batch(random.Random("s"), 1)
    assert ba == b.draw_batch(random.Random("s"), 1)
    keys = [(r[0], r[1]) for r in ba]
    assert len(ba) == gen.BATCH_ROWS and len(set(keys)) == gen.BATCH_ROWS
    revised = sum(k in a.rows for k in keys)
    assert revised == int(gen.BATCH_ROWS * gen.REVISED_SHARE)
    before = a.count
    a.apply(ba)
    assert a.count == before + gen.BATCH_ROWS - revised
    assert a.version == 2
    assert a.micros_sum == sum(a.rows.values())


def test_p90_is_withheld_below_100_samples():
    assert "latency_p90_s" not in metrics.percentiles([0.1] * 99)
    p = metrics.percentiles([i / 100 for i in range(100)])
    assert p["latency_p90_s"] > p["latency_p50_s"]


def test_printed_metric_names_are_the_benchmark_file_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = metrics.e2e_values(1.0, [0.5, 0.7], 2, 1.0)
    layers = metrics.layer_values({}, {"session": 1.0}, 4)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == {
        k: v["unit"] for k, v in e2e.items()
    }
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {
        k: v["unit"] for k, v in layers.items()
    }
    assert {w["name"] for w in bench["workloads"]} == {"dashboard_ingest", "curation"}


def test_layer_values_are_means_per_span():
    spans = {
        "exec": [
            {"name": "a", "s": 1.0, "task_run_s": 2.0, "jobs": 2},
            {"name": "b", "s": 3.0, "task_run_s": 6.0, "jobs": 4},
        ],
        "queries.build": [{"name": "curation_funnel", "s": 0.5, "jobs": 1}],
    }
    v = metrics.layer_values(spans, {"session": 2.0}, 4)
    assert v["spark.exec.collect_s"]["value"] == 2.0
    assert v["spark.exec.jobs"]["value"] == 3.0
    assert v["spark.exec.busy_ratio"]["value"] == 8.0 / 16.0
    assert v["queries.build_s.curation_funnel"]["value"] == 0.5
    assert v["versioned.merge_s"]["value"] == 0.0
    assert v["setup.session_s"]["value"] == 2.0


def test_normalize_is_order_free_and_bit_exact():
    a = oracles.normalize(["y", "x"], [(1.0, "b"), (0.1 + 0.2, "a")])
    b = oracles.normalize(["x", "y"], [("a", 0.30000000000000004), ("b", 1.0)])
    assert a == b
    assert a != oracles.normalize(["x", "y"], [("a", 0.3), ("b", 1.0)])
