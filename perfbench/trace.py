"""Layer spans for the traced run, read from Spark's own counters.

A span wraps one call the benchmark makes into a layer (an ``api.domain``
adapter, an endpoint or query build, a ``collect``, a ``versioned``
call). Timed runs use :class:`Tracer`, whose spans only run the block;
traced runs use :class:`SparkTracer`, which also tags the block's jobs
with a job group and, when the block ends, reads the jobs' stages from
Spark's status store and the collected plan's Catalyst phase times.
Nothing is added inside the program.
"""

from __future__ import annotations

import itertools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Iterator

# per-stage counters summed into an "exec" span: name -> StageData getter
_STAGE_COUNTERS = {
    "tasks": lambda s: s.numCompleteTasks() + s.numFailedTasks(),
    "failed_tasks": lambda s: s.numFailedTasks(),
    "task_run_s": lambda s: s.executorRunTime() / 1e3,
    "task_cpu_s": lambda s: s.executorCpuTime() / 1e9,
    "shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
    "spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
    "input_bytes": lambda s: s.inputBytes(),
}
PHASES = ("analysis", "optimization", "planning")


class Tracer:
    """Timed-run tracer: spans cost nothing and record nothing."""

    def __init__(self) -> None:
        self.spans: dict[str, list[dict]] = defaultdict(list)

    @contextmanager
    def span(self, layer: str, name: str = "", df=None) -> Iterator[dict]:
        yield {}


class SparkTracer(Tracer):
    """Records, per span: wall seconds, the Spark jobs the block ran and,
    for ``exec`` spans, their stage counters and the plan's phase times.

    With one client, a span owns every job whose id was issued while it
    ran (this also catches jobs the program launches from its own
    thread pools). With several clients, jobs are attributed by the job
    group the span sets on its thread."""

    def __init__(self, spark, clients: int = 1) -> None:
        super().__init__()
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        jvm = self.sc._jvm
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self.by_group = clients > 1
        self._lock = threading.Lock()
        self._ids = itertools.count()

    def _next_job_id(self) -> int:
        # the scheduler's AtomicInteger arrives as its current value
        return int(self._jsc.dagScheduler().nextJobId())

    @contextmanager
    def span(self, layer: str, name: str = "", df=None) -> Iterator[dict]:
        group = f"perfbench-{layer}-{next(self._ids)}"
        self.sc.setJobGroup(group, f"{layer} {name}".strip())
        first = self._next_job_id()
        rec: dict = {"name": name}
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            self.sc.setJobGroup("", "")
            self._jsc.listenerBus().waitUntilEmpty()
            if self.by_group:
                jobs = list(self.sc.statusTracker().getJobIdsForGroup(group))
            else:
                jobs = list(range(first, self._next_job_id()))
            rec["jobs"] = len(jobs)
            if layer in ("exec", "queries.build"):
                rec.update(self._stages(jobs))
            if df is not None:
                rec.update(self._phases(df))
            with self._lock:
                self.spans[layer].append(rec)

    def _stages(self, jobs: list[int]) -> dict:
        out = dict.fromkeys(_STAGE_COUNTERS, 0)
        out.update(stages=0, queue_s=0.0)
        tracker = self.sc.statusTracker()
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                attempts = self._store.stageData(
                    sid, False, self._no_status, False, self._no_quantiles
                )
                for i in range(attempts.size()):
                    s = attempts.apply(i)
                    if s.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    for k, get in _STAGE_COUNTERS.items():
                        out[k] += get(s)
                    sub, first = s.submissionTime(), s.firstTaskLaunchedTime()
                    if sub.isDefined() and first.isDefined():
                        out["queue_s"] += (
                            first.get().getTime() - sub.get().getTime()
                        ) / 1e3
        return out

    @staticmethod
    def _phases(df) -> dict:
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for p in PHASES:
            opt = phases.get(p)
            ms = opt.get().endTimeMs() - opt.get().startTimeMs() if opt.isDefined() else 0
            out[f"{p}_s"] = ms / 1e3
        return out
