"""Driver-thread overlap (operators/concurrency.py): results in thunk
order, every overlapped Spark job attributed to the caller, and a
failing thunk's siblings cancelled."""

import time

import pytest

from xdump_spark.operators.concurrency import overlap


def test_overlap_jobs_carry_callers_job_group(spark):
    """Overlapped thunks run with the caller's local properties, so
    their jobs land in the caller's job group (and a cancelJobGroup on
    it reaches them)."""
    sc = spark.sparkContext
    sc.setJobGroup("overlap-attribution-pin", "overlap job group")
    try:
        got = overlap(
            lambda: spark.range(10).count(),
            lambda: spark.range(20).count(),
        )
    finally:
        sc.setJobGroup("", "")
    assert got == [10, 20]
    jobs = sc.statusTracker().getJobIdsForGroup("overlap-attribution-pin")
    assert len(jobs) >= 2, jobs


def test_overlap_degenerate_arities_run_inline():
    assert overlap() == []
    assert overlap(lambda: 7) == [7]


def test_failing_thunk_cancels_sibling_jobs(spark):
    """When one thunk raises, its siblings' running Spark jobs are
    cancelled (by the call's job tag) and the first error propagates at
    once, instead of after the siblings run to completion."""
    sc = spark.sparkContext
    group = "overlap-cancel-pin"

    def long_job():
        # two tasks that would each sleep a minute
        return sc.parallelize(range(2), 2).map(
            lambda x: time.sleep(60) or x
        ).count()

    def fail():
        time.sleep(2)  # let the sibling's job start
        raise ValueError("boom")

    sc.setJobGroup(group, "overlap cancellation")
    t0 = time.monotonic()
    try:
        with pytest.raises(ValueError, match="boom"):
            overlap(long_job, fail)
    finally:
        sc.setJobGroup("", "")
    assert time.monotonic() - t0 < 30
    tracker = sc.statusTracker()
    jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
    assert [j.status for j in jobs] == ["FAILED"], jobs
