"""Driver-thread overlap (operators/concurrency.py): results in thunk
order, and every overlapped Spark job attributed to the caller."""

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
