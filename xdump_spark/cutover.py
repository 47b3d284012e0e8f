"""One driver budget for every driver-vs-distributed cutover.

A fast path that puts data on the driver (a collect, a numpy kernel over
collected rows, a broadcast relation the driver builds) states what it
puts there in bytes and compares that with one budget, a fixed share of
``spark.driver.memory``. The bounded transfer, "at most L+1 rows to the
driver", is written once, as :func:`bounded_collect`. Each decision is
logged at DEBUG on the ``xdump_spark`` logger with the site, what was
probed, the bound and the path taken; the record carries the same facts
as a ``cutover`` attribute for programmatic readers.
"""

from __future__ import annotations

import contextlib

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from xdump_spark.timing import logger

# One driver-side path may hold this share of the driver memory: the rest
# is the JVM's own working set and the Python process around the path.
_SHARE = 4

_pinned: int | None = None


def budget_bytes(spark: SparkSession) -> int:
    """The driver budget: a quarter of ``spark.driver.memory`` (Spark's
    1g default when unset). Parsed as Spark parses it, a bare number
    being MiB."""
    if _pinned is not None:
        return _pinned
    mem = spark.conf.get("spark.driver.memory", "1g")
    return (spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsMb(mem) << 20) // _SHARE


@contextlib.contextmanager
def budget(nbytes: int):
    """Pin the driver budget to ``nbytes`` inside the block; 0 sends
    every site to its distributed (or refusing) path."""
    global _pinned
    prev, _pinned = _pinned, int(nbytes)
    try:
        yield
    finally:
        _pinned = prev


def _decide(site: str, probed: int, unit: str, bound: int, over: str) -> bool:
    path = "driver" if probed <= bound else over
    logger.debug(
        "cutover %s: %d %s, bound %d, path %s", site, probed, unit, bound, path,
        extra={"cutover": {"site": site, unit: probed, "bound": bound, "path": path}},
    )
    return path == "driver"


def fits(spark: SparkSession, site: str, nbytes: int, over: str = "distributed") -> bool:
    """Whether ``site`` may put ``nbytes`` on the driver; ``over`` names
    the path the site takes when it may not."""
    return _decide(site, nbytes, "bytes", budget_bytes(spark), over)


def bounded_collect(
    df: DataFrame, max_rows: int, site: str, over: str = "distributed"
) -> pa.Table | None:
    """``df`` on the driver as one Arrow transfer, or None when it holds
    more than ``max_rows`` rows (at most ``max_rows + 1`` of them cross).
    The transfer is one Spark job over a plain plan; a plan that
    broadcasts a relation runs the broadcast as a job of its own first,
    so the export's semi-joins against driver-held key sets take 2."""
    tbl = df.limit(max_rows + 1).toArrow()
    return tbl if _decide(site, tbl.num_rows, "rows", max_rows, over) else None
