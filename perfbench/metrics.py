"""Metric definitions and the result line.

End-to-end metrics are measured with tracing off; per-layer metrics come
from a separate traced run (``--trace 1``). Each workload prints the same
set, so a later change is compared metric by metric on every workload.
"""

from __future__ import annotations

import os
import statistics

E2E = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "throughput_ops_s": "ops/s",
}

# The curation mix, one or two queries per kind. Build-dominated:
# curation_funnel, athena_weekly. Execution-dominated: exact_substr.
# Served from a stored artifact built in set-up: bpe_encode_stored.
# Relational: dow_distribution. Sized so set-up plus one pass fits the
# run budget on 4 cores.
CURATION_QUERIES = (
    "curation_funnel",
    "athena_weekly",
    "exact_substr",
    "bpe_encode_stored",
    "dow_distribution",
)

# (metric, unit, span layer, span field). Every value is a mean per
# span of that layer, i.e. per request, query, read or commit.
_PER_SPAN = (
    ("catalog.load_s", "s", "catalog", "s"),
    ("catalog.load_jobs", "count", "catalog", "jobs"),
    ("api.endpoints.build_s", "s", "endpoints.build", "s"),
    ("api.endpoints.build_jobs", "count", "endpoints.build", "jobs"),
    ("queries.build_s", "s", "queries.build", "s"),
    ("queries.build_jobs", "count", "queries.build", "jobs"),
    ("queries.build_tasks", "count", "queries.build", "tasks"),
    ("spark.plan.analysis_s", "s", "exec", "analysis_s"),
    ("spark.plan.optimization_s", "s", "exec", "optimization_s"),
    ("spark.plan.planning_s", "s", "exec", "planning_s"),
    ("spark.exec.collect_s", "s", "exec", "s"),
    ("spark.exec.jobs", "count", "exec", "jobs"),
    ("spark.exec.stages", "count", "exec", "stages"),
    ("spark.exec.tasks", "count", "exec", "tasks"),
    ("spark.exec.failed_tasks", "count", "exec", "failed_tasks"),
    ("spark.exec.rows", "count", "exec", "rows"),
    ("spark.exec.task_run_s", "s", "exec", "task_run_s"),
    ("spark.exec.task_cpu_s", "s", "exec", "task_cpu_s"),
    ("spark.exec.shuffle_write_bytes", "bytes", "exec", "shuffle_write_bytes"),
    ("spark.exec.shuffle_read_bytes", "bytes", "exec", "shuffle_read_bytes"),
    ("spark.exec.spill_bytes", "bytes", "exec", "spill_bytes"),
    ("spark.exec.input_bytes", "bytes", "exec", "input_bytes"),
    ("spark.exec.queue_s", "s", "exec", "queue_s"),
    ("versioned.merge_s", "s", "versioned.merge", "s"),
    ("versioned.merge_jobs", "count", "versioned.merge", "jobs"),
    ("versioned.bytes_written", "bytes", "versioned.merge", "bytes_written"),
    ("versioned.rows_rewritten_per_row_in", "ratio", "versioned.merge", "rows_ratio"),
    ("versioned.vacuum_s", "s", "versioned.vacuum", "s"),
    ("versioned.read_s", "s", "versioned.read", "s"),
)
SETUP_PHASES = ("session", "warmup", "artifacts", "table")


def layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in print order."""
    out = {name: unit for name, unit, _, _ in _PER_SPAN}
    out["spark.exec.busy_ratio"] = "ratio"
    out.update({f"setup.{p}_s": "s" for p in SETUP_PHASES})
    for q in CURATION_QUERIES:
        out[f"queries.build_s.{q}"] = "s"
        out[f"spark.exec.collect_s.{q}"] = "s"
    return out


def _mean(recs: list[dict], field: str) -> float:
    return sum(r.get(field, 0) for r in recs) / len(recs) if recs else 0.0


def layer_values(spans: dict[str, list[dict]], setup: dict, cores: int) -> dict:
    """Per-layer metrics from a traced run's spans. A layer the workload
    does not drive has no spans and reads 0."""
    units = layer_units()
    vals = {name: _mean(spans.get(layer, []), f) for name, _, layer, f in _PER_SPAN}
    ex = spans.get("exec", [])
    wall = sum(r["s"] for r in ex) * cores
    vals["spark.exec.busy_ratio"] = sum(r.get("task_run_s", 0) for r in ex) / wall if wall else 0.0
    vals.update({f"setup.{p}_s": setup.get(p, 0.0) for p in SETUP_PHASES})
    for q in CURATION_QUERIES:
        vals[f"queries.build_s.{q}"] = _mean(
            [r for r in spans.get("queries.build", []) if r["name"] == q], "s"
        )
        vals[f"spark.exec.collect_s.{q}"] = _mean(
            [r for r in ex if r["name"] == q], "s"
        )
    return {k: {"value": vals[k], "unit": units[k]} for k in units}


def percentiles(latencies: list[float]) -> dict[str, float]:
    """p50 always; p90 only from at least 100 samples, so that ten
    samples lie beyond it. Withheld otherwise."""
    out = {"latency_p50_s": statistics.median(latencies)}
    if len(latencies) >= 100:
        out["latency_p90_s"] = statistics.quantiles(latencies, n=10)[8]
    return out


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of the driver JVM plus this Python process.
    Reported on stderr only: the JVM's share follows heap sizing and GC
    timing more than the program's needs, so it is too noisy to gate."""
    return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb(os.getpid())) / 1024.0


def e2e_values(setup_s: float, latencies: list[float], ops: int, window_s: float) -> dict:
    """``setup_s`` is the wall time from session start to the first
    measured operation; ``latencies`` are the measured reads or queries;
    ``ops`` counts every operation completed in the ``window_s`` window."""
    vals = {
        "setup_s": setup_s,
        "latency_p50_s": percentiles(latencies)["latency_p50_s"],
        "throughput_ops_s": ops / window_s,
    }
    return {k: {"value": vals[k], "unit": E2E[k]} for k in E2E}
