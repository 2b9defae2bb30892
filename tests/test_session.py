"""session.overlap: the one helper for concurrent driver-side builds."""

from __future__ import annotations

import time

import pytest

from data_lake_spark.session import overlap


def test_overlap_returns_results_in_argument_order():
    def after(delay: float, value: str):
        def thunk() -> str:
            time.sleep(delay)
            return value

        return thunk

    # the first thunk finishes last; results still follow argument order
    assert overlap(after(0.2, "a"), after(0.0, "b"), after(0.1, "c")) == [
        "a",
        "b",
        "c",
    ]


def test_overlap_propagates_a_thunk_exception():
    def boom() -> None:
        raise ValueError("side build failed")

    with pytest.raises(ValueError, match="side build failed"):
        overlap(lambda: 1, boom)


def test_overlap_jobs_keep_the_callers_job_group(spark):
    # jobs launched on the pool threads must be attributable to the
    # caller's job group; plain pool threads start with no group
    sc = spark.sparkContext
    group = "overlap-test-group"
    sc.setJobGroup(group, "overlap attribution")
    try:
        n_a, n_b = overlap(
            lambda: len(spark.range(10).collect()),
            lambda: len(spark.range(5).collect()),
        )
    finally:
        sc._jsc.clearJobGroup()
    assert (n_a, n_b) == (10, 5)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 2
