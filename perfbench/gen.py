"""Seeded input generators for the workloads.

Everything a run sends to the program is drawn here from ``--seed``:
dashboard request parameters, the curation query order, and the
ingest batches. Pure Python with no Spark import, so the tests can
check determinism without starting a JVM.
"""

from __future__ import annotations

import datetime as dt
import math
import random
from typing import Iterator

# --- dashboard ---------------------------------------------------------------

ENDPOINTS = (
    "earnings",
    "needle",
    "average_profitability",
    "total_profit_report",
    "profit_avg",
    "models_earning_distribution",
    "earnings_by_day_of_week",
    "detailed_ranking",
)

# The lake's order dates run 1995-01-01 .. 2001-08-01. Every start keeps
# the needle's look-back window (up to 12 months earlier) inside the data.
START_DATES = ("1996-02-10", "1997-05-01", "1998-09-15", "1999-11-20", "2000-06-01")
# 0 / 6 / 13 / 29 / 89 / 364 days: one span per needle time unit
# (day, week, biweek, month, quarter, year).
SPANS_DAYS = (0, 6, 13, 29, 89, 364)
LOCATIONS = (
    None,
    ({"officeName": "BUILDING"},),
    ({"cityName": "NATION_3"}, {"officeName": "AUTOMOBILE"}),
)
USERS = (None, "11452")  # a customer with many orders
PLATFORMS = (None, "jasmin", "streamate")
PAGES = (1, 2, 3)
SORT_KEYS = ("DESC", "ASC")
PAGE_LIMIT = 10


def _end(start: str, span: int) -> str:
    return (dt.date.fromisoformat(start) + dt.timedelta(days=span)).isoformat()


def draw_request(rng: random.Random, endpoint: str) -> dict:
    """One request's parameters, drawn from the finite grid above. Only
    the parameters the endpoint accepts are set."""
    start = rng.choice(START_DATES)
    p: dict = {"endpoint": endpoint, "start_date": start}
    if endpoint != "earnings":
        p["end_date"] = _end(start, rng.choice(SPANS_DAYS))
    loc = rng.choice(LOCATIONS)
    p["locations"] = [dict(x) for x in loc] if loc else None
    if endpoint not in ("profit_avg", "detailed_ranking"):
        p["user_selected"] = rng.choice(USERS)
        p["platform"] = rng.choice(PLATFORMS)
    if endpoint == "models_earning_distribution":
        p["sort_key"] = rng.choice(SORT_KEYS)
    if endpoint == "detailed_ranking":
        p["page"] = rng.choice(PAGES)
        p["limit"] = PAGE_LIMIT
    return p


def dashboard_rounds(seed: int) -> Iterator[list[dict]]:
    """Endless rounds; each round asks every endpoint once, in a seeded
    order, so any whole number of rounds has the same endpoint mix."""
    rng = random.Random(f"dashboard:{seed}")
    while True:
        order = list(ENDPOINTS)
        rng.shuffle(order)
        yield [draw_request(rng, e) for e in order]


# --- curation ----------------------------------------------------------------


def curation_passes(seed: int, names: list[str]) -> Iterator[list[str]]:
    """Endless passes over the query mix, each in a fresh seeded order."""
    rng = random.Random(f"curation:{seed}")
    while True:
        order = list(names)
        rng.shuffle(order)
        yield order


# --- ingest ------------------------------------------------------------------

BATCH_ROWS = 2000
REVISED_SHARE = 0.8
FIRST_DATE = dt.date(1995, 1, 1)
LAST_DATE = dt.date(2001, 8, 1)


def micros(amount: float) -> int:
    """The lake's exact money unit: floor(amount * 1e6), as Spark and
    DuckDB compute it on IEEE doubles."""
    return math.floor(amount * 1000000.0)


class TableModel:
    """Python model of the versioned performance table: one entry per
    ``(_id, date)`` key holding the ``total_earnings`` micros. Commits
    are checked against it (version, row count, exact micros sum)."""

    def __init__(self, rows: dict[tuple[str, str], int], version: int) -> None:
        self.rows = rows
        self.version = version
        self._ids = sorted({k[0] for k in rows})

    @property
    def count(self) -> int:
        return len(self.rows)

    @property
    def micros_sum(self) -> int:
        return sum(self.rows.values())

    def draw_batch(self, rng: random.Random, cycle: int) -> list[tuple]:
        """``BATCH_ROWS`` records ``(_id, date, total_earnings,
        online_seconds, updated_at)``: 80% revise existing keys, 20% add
        keys the table does not hold. No key repeats within a batch, and
        ``updated_at = cycle`` is newer than every stored row, so each
        record wins its MERGE."""
        n_rev = int(BATCH_ROWS * REVISED_SHARE)
        keys = sorted(self.rows)
        revised = rng.sample(keys, n_rev)
        fresh: set[tuple[str, str]] = set()
        span = (LAST_DATE - FIRST_DATE).days
        while len(fresh) < BATCH_ROWS - n_rev:
            k = (
                rng.choice(self._ids),
                (FIRST_DATE + dt.timedelta(days=rng.randrange(span + 1))).isoformat(),
            )
            if k not in self.rows:
                fresh.add(k)
        out = []
        for k in revised + sorted(fresh):
            amount = round(rng.uniform(900.0, 450000.0), 2)
            out.append((k[0], k[1], amount, rng.randrange(86400), cycle))
        return out

    def apply(self, batch: list[tuple]) -> None:
        for _id, date, amount, _secs, _upd in batch:
            self.rows[(_id, date)] = micros(amount)
        self.version += 1
