"""session.py::run_concurrently — the helper behind the weather path's
concurrent CV fits, batch sinks and model saves: argument-order results,
the first failure re-raised, real concurrency, and the caller's job group
on every job a thunk starts."""

from __future__ import annotations

import threading
import time

import pytest

from weatherdatapipeline_spark.session import run_concurrently


def test_results_in_argument_order(spark):
    def slow():
        time.sleep(0.3)
        return "slow"

    assert run_concurrently(spark, slow, lambda: "fast", lambda: 3) == ["slow", "fast", 3]


def test_first_failure_reraised_after_all_finish(spark):
    finished = []

    def fail(msg):
        raise ValueError(msg)

    def slow():
        time.sleep(0.3)
        finished.append(True)

    with pytest.raises(ValueError, match="first"):
        run_concurrently(spark, slow, lambda: fail("first"), lambda: fail("second"))
    assert finished == [True]


def test_thunks_run_at_the_same_time(spark):
    # run one after the other, the first wait would time out alone
    barrier = threading.Barrier(2, timeout=10)
    assert sorted(run_concurrently(spark, barrier.wait, barrier.wait)) == [0, 1]


def test_jobs_land_in_callers_job_group(spark):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("run-concurrently", "run-concurrently")
    try:
        counts = run_concurrently(
            spark, lambda: spark.range(10).count(), lambda: spark.range(20).count()
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert counts == [10, 20]
    assert len(tracker.getJobIdsForGroup("run-concurrently")) >= 2
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped  # no new ungrouped job
