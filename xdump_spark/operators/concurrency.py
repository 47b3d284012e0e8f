"""Driver-thread overlap for independent blocking sub-builds.

Spark's scheduler happily runs several jobs at once inside one
application; actions are only sequential because driver code calls them
sequentially (optimization guide §2.6). Operators whose builders chain
several data-independent BLOCKING protocol steps — eager
localCheckpoints, KMeans fits, guarded query-batch collects, partition-
prune probes, sink writes — submit them through :func:`overlap` so the
scheduler overlaps their jobs and the py4j socket waits release the GIL
for the other thread's Column-building chatter. Results are identical by
construction: the same frames are built and consumed in the same order;
only the wall-clock overlap changes."""

from __future__ import annotations

import uuid
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

# How often a failed overlap re-cancels its siblings' jobs while it waits
# for them: a sibling may submit its next job after a cancel.
_RECANCEL_S = 0.2


def overlap(*thunks):
    """Run independent builder thunks on driver threads; return results
    in thunk order. Each thunk runs with the caller's local properties
    (job group, job description, scheduler pool) and session tags, so
    its Spark jobs are attributed to — and cancelled with — the
    caller's. Every thunk's jobs also carry one job tag unique to this
    call: when a thunk raises, the siblings' running jobs are cancelled
    by that tag and the first error is re-raised once they stop."""
    if len(thunks) <= 1:
        return [t() for t in thunks]
    spark = SparkSession.active()
    sc = spark.sparkContext
    tag = f"xdump-overlap-{uuid.uuid4().hex}"
    inherit = inheritable_thread_target(spark)

    def tagged(thunk):
        def run():
            sc.addJobTag(tag)
            try:
                return thunk()
            finally:
                sc.removeJobTag(tag)

        return inherit(run)

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(tagged(t)) for t in thunks]
        done, running = wait(futures, return_when=FIRST_EXCEPTION)
        failed = [f for f in futures if f in done and f.exception() is not None]
        if failed:
            while running:
                sc.cancelJobsWithTag(tag)
                _, running = wait(running, timeout=_RECANCEL_S)
            raise failed[0].exception()
        return [f.result() for f in futures]
