"""Jobs and stages from Spark's status store, read outside timed intervals.

``sc._jsc.sc().statusStore()`` answers with ``spark.ui.enabled=false``.
Its lists are Scala Seqs: index them with ``.apply(i)``.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class JobInfo:
    job_id: int
    submitted: float             # epoch seconds (millisecond resolution)
    stage_ids: tuple[int, ...]


class StatusStore:
    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds all jobs submitted so far."""
        self._sc.listenerBus().waitUntilEmpty(30_000)

    def next_job_id(self) -> int:
        """One past the highest job id seen (job ids are dense and
        increasing within an application)."""
        self.drain()
        jobs = self._store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1) + 1

    def jobs_since(self, first_id: int) -> list[JobInfo]:
        self.drain()
        jobs = self._store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() < first_id:
                continue
            sub = j.submissionTime()
            ids = j.stageIds()
            out.append(JobInfo(
                j.jobId(),
                sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0,
                tuple(ids.apply(k) for k in range(ids.size())),
            ))
        return sorted(out, key=lambda j: j.job_id)

    def stage_totals(self, jobs: list[JobInfo]) -> dict[str, float]:
        """Executed (non-skipped) stages of ``jobs``: count, executor run
        time and shuffle bytes written."""
        n, run_ms, shuffle = 0, 0, 0
        for sid in sorted({s for j in jobs for s in j.stage_ids}):
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:        # evicted or never submitted
                continue
            if str(st.status()) == "SKIPPED":
                continue
            n += 1
            run_ms += st.executorRunTime()
            shuffle += st.shuffleWriteBytes()
        return {"stages": n, "task_s": run_ms / 1000.0, "shuffle_mb": shuffle / 1e6}
