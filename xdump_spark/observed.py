"""Row counts that ride an action the caller runs anyway.

``RowCount(df)`` observes ``count(1)`` on ``df`` through a
``pyspark.sql.Observation``: build on :attr:`RowCount.frame`, run the
actions the work needs, then read :meth:`RowCount.count` — no count job
of its own. What Spark 4.1 does with an Observation shapes the reader:

* It is filled by a query-execution listener, on the listener bus, a
  little AFTER the action returns; :meth:`RowCount.count` waits for it.
* The FIRST finished action that executes the frame fills it, whatever
  that action read. A ``limit`` probe fills it with a partial count, and
  a range sort above the frame fills it twice over (the sampling pass
  of its ``RangePartitioner`` runs the frame once more). Callers must
  let only a full, single pass over the frame finish first.
* AQE's empty-relation propagation can drop the observed node from the
  plan it runs (a join side whose partner stage came back empty); the
  metric then comes back empty and :meth:`RowCount.count` falls back to
  a count job."""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# How long count() waits for the listener to deliver a metric. Delivery
# takes milliseconds; the bound only turns a frame that no finished
# action executed into a fallback count instead of a hang.
FILL_WAIT_S = 30.0


class RowCount:
    """The row count of ``df``, filled by the first action over
    :attr:`frame` (or anything built on it)."""

    def __init__(self, df: DataFrame):
        self._obs = Observation()
        self.frame = df.observe(self._obs, F.count(F.lit(1)).alias("n"))

    def count(self) -> int:
        """The observed count; one count job of :attr:`frame` when no
        finished action filled the Observation, or filled it with an
        empty metric row (see the module docstring)."""
        # pyspark's Observation.get blocks without a bound and fails on
        # an empty metric row; read the JVM object's future instead
        jo = self._obs._jo
        filled = jo.future()
        deadline = time.monotonic() + FILL_WAIT_S
        while not filled.isCompleted():
            if time.monotonic() > deadline:
                return self.frame.count()
            time.sleep(0.001)
        row = jo.getRow()
        return int(row.getLong(0)) if row.length() else self.frame.count()
