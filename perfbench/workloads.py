"""The two workloads. Every client is a closed loop: it sends its next
operation only after the previous one returned.

A workload runs its set-up, calls ``Run.begin_measure``, then measures
a fixed number of whole rounds (dashboard_ingest) or passes (curation):
as many as fill ``seconds`` at their nominal length. So every run of one
``seconds`` does the same operations, however fast the program is, and
whatever the seed. Output checks are never part of an operation's
latency or of the measured window.
"""

from __future__ import annotations

import collections
import json
import os
import random
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

from __spark_entry__ import SF0001
from perfbench import gen, metrics, oracles
from perfbench.trace import SparkTracer, Tracer

# the sf0.1 lake, beside the sf0.001 one `__spark_entry__` names
SF_DIR = os.path.join(os.path.dirname(SF0001), "sf0.1")
DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")
KEYS = ["_id", "date"]
READS_PER_COMMIT = 4  # two commits per round of 8 reads
# nominal length of one measured round / pass on 4 cores, which sets how
# many of them fill ``--seconds``
ROUND_S = 9.0
PASS_S = 7.5


class Run:
    """One run's session, tracer and tallies."""

    def __init__(self, spark, trace: bool, clients: int, tmp: str) -> None:
        self.spark = spark
        self.tmp = tmp
        self.tracer = SparkTracer(spark, clients) if trace else Tracer()
        self.setup: dict[str, float] = {}
        self.setup_end = 0.0
        self.latencies: list[float] = []
        self.ops = 0
        self.attempted = 0
        self.failed = 0
        self.window_s = 0.0
        self.notes: dict = {}
        self._lock = threading.Lock()

    def timed_setup(self, phase: str, fn):
        t0 = time.perf_counter()
        out = fn()
        with self._lock:
            self.setup[phase] = self.setup.get(phase, 0.0) + time.perf_counter() - t0
        return out

    def begin_measure(self) -> float:
        """End of set-up: drop warm-up spans, return the window start."""
        self.tracer.spans.clear()
        self.setup_end = time.perf_counter()
        return self.setup_end

    def tally(self, ok: bool, latency: float | None = None) -> None:
        with self._lock:
            self.attempted += 1
            if ok:
                self.ops += 1
                if latency is not None:
                    self.latencies.append(latency)
            else:
                self.failed += 1

    def fail(self, what: str, detail: str) -> None:
        print(f"# FAILED {what}: {detail}", file=sys.stderr)


def _count(seconds: float, nominal_s: float) -> int:
    """How many rounds of ``nominal_s`` fill ``seconds``; at least one."""
    return max(1, round(seconds / nominal_s))


def _version_glob(root: str, v: int) -> str:
    return os.path.join(root, f"_v={v}", "*.parquet")


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


# --- dashboard_ingest --------------------------------------------------------


def _request(run: Run, p: dict, root: str | None = None, version: int = 0):
    """Serve one endpoint request the way the serving layer does: the dims
    and jasmin facts through ``api.domain``, the streamate facts from a
    pinned version of the versioned table (or through ``api.domain``
    when ``root`` is None), then the endpoint plan, then collect.
    Returns the order-free result."""
    from data_lake_spark import versioned
    from data_lake_spark.api import domain
    from data_lake_spark.api import endpoints as ep

    spark, tr, name = run.spark, run.tracer, p["endpoint"]
    args = {k: v for k, v in p.items() if k != "endpoint"}
    with tr.span("catalog", name):
        users = domain.users_dim(spark, SF_DIR)
        if name == "profit_avg":
            facts = (domain.earnings_by_performer(spark, SF_DIR),)
        else:
            facts = (domain.jasmin_performance(spark, SF_DIR),)
            if root is None:
                facts += (domain.streamate_performance(spark, SF_DIR),)
    if root is not None and name != "profit_avg":
        with tr.span("versioned.read", name):
            facts += (versioned.read_version(spark, root, version),)
    with tr.span("endpoints.build", name):
        df = getattr(ep, name)(users, *facts, **args)
    with tr.span("exec", name, df) as rec:
        rows = df.collect()
        rec["rows"] = len(rows)
    return oracles.normalize(df.columns, rows)


class _Table:
    """The versioned streamate table, the Python model of its contents,
    the versions readers have pinned (vacuum keeps those), and hard-linked
    snapshots of the versions read or written, checked after the window."""

    SCHEMA = "_id string, date string, total_earnings double, online_seconds long, updated_at long"

    def __init__(self, run: Run, seed: int) -> None:
        self.run = run
        self.root = os.path.join(run.tmp, "streamate_perf")
        self.snaps = os.path.join(run.tmp, "snapshots")
        self.rng = random.Random(f"ingest:{seed}")
        self.lock = threading.Lock()
        self.pinned: collections.Counter = collections.Counter()
        self.model: gen.TableModel | None = None
        self.unchecked: list[tuple] = []  # (version, model tuple, latency, span)

    def publish(self) -> None:
        """Publish the streamate facts, one row per (_id, date), as v1."""
        from pyspark.sql import functions as F

        from data_lake_spark import versioned
        from data_lake_spark.api import domain
        from data_lake_spark.operators.upsert import keep_latest

        perf = domain.streamate_performance(self.run.spark, SF_DIR).withColumn(
            "updated_at", F.lit(0).cast("long")
        )
        # the lake holds a few same-day repeats of a key
        table = keep_latest(perf, KEYS, "updated_at", ["total_earnings", "online_seconds"])
        v = versioned.write_version(table, self.root)
        oracle = oracles.Oracle(SF_DIR)
        try:
            rows = oracle.sql(
                f"SELECT _id, date, total_earnings FROM read_parquet('{_version_glob(self.root, v)}')"
            )
        finally:
            oracle.close()
        self.model = gen.TableModel({(i, d): gen.micros(te) for i, d, te in rows}, v)

    def pin(self) -> int:
        with self.lock:
            v = self.model.version
            self.pinned[v] += 1
            return v

    def unpin(self, v: int) -> None:
        with self.lock:
            self.pinned[v] -= 1
            if not self.pinned[v]:
                del self.pinned[v]

    def snapshot(self, v: int) -> str:
        """Hard-link version ``v``'s files aside, once, so the output
        checks can read it after vacuum has dropped it. ``v`` must be
        pinned or be the latest version. Returns its parquet glob."""
        dst = os.path.join(self.snaps, f"_v={v}")
        with self.lock:
            if not os.path.isdir(dst):
                src = os.path.join(self.root, f"_v={v}")
                os.makedirs(dst)
                for f in os.listdir(src):
                    os.link(os.path.join(src, f), os.path.join(dst, f))
        return _version_glob(self.snaps, v)

    def commit(self, cycle: int) -> float:
        """MERGE one seeded batch and vacuum to the last two versions plus
        any a reader still holds. The commit is queued for ``check``.
        Returns when the commit and vacuum are done."""
        from data_lake_spark import versioned

        tr = self.run.tracer
        batch = self.model.draw_batch(self.rng, cycle)
        updates = self.run.spark.createDataFrame(batch, self.SCHEMA)
        t = time.perf_counter()
        with tr.span("versioned.merge") as rec:
            v = versioned.merge_into(self.run.spark, self.root, updates, KEYS, "updated_at")
        lat = time.perf_counter() - t
        with self.lock:
            self.model.apply(batch)
            m = self.model
            want = (m.version, m.count, m.micros_sum)
        rec["bytes_written"] = _dir_bytes(os.path.join(self.root, f"_v={v}"))
        with tr.span("versioned.vacuum"), self.lock:
            keep = max(2, v - min(self.pinned, default=v) + 1)
            versioned.vacuum(self.root, keep_last=keep)
        done = time.perf_counter()
        self.snapshot(v)
        self.unchecked.append((v, want, lat, rec))
        return done

    def check(self, oracle: oracles.Oracle) -> list[tuple[bool, float]]:
        """Read-your-writes for every queued commit: its version, row
        count and exact micros sum must match the model's after that
        batch. Returns (ok, latency) per commit."""
        out = []
        for v, want, lat, rec in self.unchecked:
            n, total = oracle.sql(
                "SELECT COUNT(*), SUM(CAST(FLOOR(total_earnings * 1000000.0) AS BIGINT)) "
                f"FROM read_parquet('{_version_glob(self.snaps, v)}')"
            )[0]
            rec["rows_ratio"] = n / gen.BATCH_ROWS
            ok = (v, n, int(total)) == want
            if not ok:
                self.run.fail("commit", f"v={v} n={n} sum={total}; model {want}")
            out.append((ok, lat))
        self.unchecked.clear()
        return out


def dashboard_ingest(run: Run, seed: int, seconds: float) -> None:
    """2 reader clients send requests to all 8 endpoints; 1 ingest client
    MERGEs a 2000-record batch after every ``READS_PER_COMMIT`` completed
    reads. Reads see the streamate facts at the latest published version.
    After the window, each read is checked against the DuckDB oracle over
    a snapshot of the version it read, and each commit against the model."""
    table = _Table(run, seed)
    warm = next(gen.dashboard_rounds(-1))

    def ingest_setup() -> bool:
        run.timed_setup("table", table.publish)
        table.commit(1)
        oracle = oracles.Oracle(SF_DIR)
        try:
            return all(ok for ok, _ in table.check(oracle))
        finally:
            oracle.close()

    def warm_reads() -> None:
        with ThreadPoolExecutor(2) as pool:  # the two reader clients
            list(pool.map(lambda p: _request(run, p), warm))

    with ThreadPoolExecutor(1) as pool:  # the ingest client sets up beside the readers
        writer_ready = pool.submit(ingest_setup)
        run.timed_setup("warmup", warm_reads)
        if not writer_ready.result():
            run.fail("commit", "warm-up commit differs from the model")

    rounds = gen.dashboard_rounds(seed)
    n_rounds = _count(seconds, ROUND_S)
    queue: collections.deque = collections.deque()
    cond = threading.Condition()
    ends: list[float] = []
    reads: list[tuple] = []  # (request, version, snapshot glob, rows, latency)
    state = {"rounds": 0, "reads": 0, "commits": 0, "stop": False}
    start = run.begin_measure()

    def next_request():
        with cond:
            if not queue:
                if state["rounds"] == n_rounds:
                    return None
                state["rounds"] += 1
                queue.extend(next(rounds))
            return queue.popleft()

    def reader():
        while (p := next_request()) is not None:
            v = table.pin()
            t = time.perf_counter()
            try:
                got = _request(run, p, table.root, v)
                lat = time.perf_counter() - t
                reads.append((p, v, table.snapshot(v), got, lat))
            except Exception:
                lat = 0.0
                run.fail(p["endpoint"], traceback.format_exc())
                run.tally(False)
            finally:
                table.unpin(v)
            with cond:
                ends.append(t + lat)
                state["reads"] += 1
                cond.notify_all()

    def writer():
        """Commit once per ``READS_PER_COMMIT`` completed reads; after the
        readers stop, finish the commits already due."""
        while True:
            with cond:
                cond.wait_for(
                    lambda: state["commits"] < state["reads"] // READS_PER_COMMIT or state["stop"]
                )
                if state["commits"] >= state["reads"] // READS_PER_COMMIT:
                    return
                state["commits"] += 1
                cycle = state["commits"] + 1
            try:
                done = table.commit(cycle)
            except Exception:
                done = time.perf_counter()
                run.fail("commit", traceback.format_exc())
                run.tally(False)
            with cond:
                ends.append(done)

    readers = [threading.Thread(target=reader, name=f"reader-{i}") for i in range(2)]
    ingest = threading.Thread(target=writer, name="ingest")
    for t in readers + [ingest]:
        t.start()
    for t in readers:
        t.join()
    with cond:
        state["stop"] = True
        cond.notify_all()
    ingest.join()
    run.window_s = max(ends, default=time.perf_counter()) - start

    # output checks, after the window so DuckDB never competes with Spark
    oracle = oracles.Oracle(SF_DIR)
    try:
        commits = table.check(oracle)
        for ok, _ in commits:
            run.tally(ok)
        for p, v, snap, got, lat in reads:
            ok = got == oracle.answer(p, snap)
            if not ok:
                run.fail(p["endpoint"], f"{p} at v={v} differs from the oracle")
            run.tally(ok, lat)
    finally:
        oracle.close()
    good = [lat for ok, lat in commits if ok]
    run.notes.update(
        rounds=n_rounds,
        commits=len(commits),
        commit_p50_s=metrics.percentiles(good)["latency_p50_s"] if good else None,
    )


# --- curation ----------------------------------------------------------------


def curation(run: Run, seed: int, seconds: float) -> None:
    """1 client, whole passes over the curation mix, each query's output
    checked against the digest of its oracle-verified output."""
    from data_lake_spark.queries import full_registry

    reg = full_registry()
    with open(DIGESTS) as fh:
        digests = json.load(fh)["digests"]
    spark, tr = run.spark, run.tracer

    def one(q: str) -> tuple[float, bool, float]:
        """Latency, correctness, and the seconds spent checking."""
        t = time.perf_counter()
        with tr.span("queries.build", q):
            df = reg[q].fn(spark, SF_DIR)
        with tr.span("exec", q, df) as rec:
            rows = df.collect()
            rec["rows"] = len(rows)
        lat = time.perf_counter() - t
        ok = oracles.digest(oracles.normalize(df.columns, rows)) == digests[q]
        return lat, ok, time.perf_counter() - t - lat

    def warm(q: str) -> None:
        # stored twins build their artifacts into the fresh store here
        phase = "artifacts" if q.endswith("_stored") else "warmup"
        if not run.timed_setup(phase, lambda: one(q))[1]:
            run.fail(q, "warm-up output differs from its digest")

    for q in metrics.CURATION_QUERIES:
        warm(q)

    paused = 0.0
    passes = gen.curation_passes(seed, list(metrics.CURATION_QUERIES))
    pass_s = []
    start = run.begin_measure()
    for _ in range(_count(seconds, PASS_S)):
        p0, p_paused = time.perf_counter(), paused
        for q in next(passes):
            try:
                lat, ok, check_s = one(q)
                paused += check_s
            except Exception:
                lat, ok = None, False
                run.fail(q, traceback.format_exc())
            run.tally(ok, lat)
            if not ok and lat is not None:
                run.fail(q, "output differs from its digest")
        pass_s.append(round(time.perf_counter() - p0 - (paused - p_paused), 3))
    run.window_s = time.perf_counter() - start - paused
    run.notes["pass_s"] = pass_s


WORKLOADS = {"dashboard_ingest": (dashboard_ingest, 3), "curation": (curation, 1)}
