"""Driver-thread overlap for independent blocking sub-builds.

Spark's scheduler happily runs several jobs at once inside one
application; actions are only sequential because driver code calls them
sequentially (optimization guide §2.6). Operators whose builders chain
several data-independent BLOCKING protocol steps — eager
localCheckpoints, KMeans fits, guarded query-batch collects, partition-
prune probes — submit them through :func:`overlap` so the scheduler
overlaps their jobs and the py4j socket waits release the GIL for the
other thread's Column-building chatter. Results are identical by
construction: the same frames are built and consumed in the same
order; only the wall-clock overlap changes."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession


def overlap(*thunks):
    """Run independent builder thunks on driver threads; return results
    in thunk order. Exceptions propagate from the failing thunk. Each
    thunk runs with the caller's local properties (job group, job
    description, scheduler pool) and session tags, so its Spark jobs
    are attributed to — and cancelled with — the caller's."""
    if len(thunks) <= 1:
        return [t() for t in thunks]
    inherit = inheritable_thread_target(SparkSession.active())
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(inherit(t)) for t in thunks]
        return [f.result() for f in futures]
