"""Per-layer metrics of one traced op, from its spans and Spark jobs.

Times are seconds of wall time, jobs are counts of Spark jobs attributed
by submission time. A layer the workload never calls reads 0.
"""

from __future__ import annotations

from tracing import Span, attribute_jobs, covered, self_times, subtree

# Operator modules the curate chain calls from the pipeline.
OPERATOR_MODULES = ("cleaning", "spans", "dedup")


def layer_metrics(spans: list[Span], root: Span, jobs, stages: dict, archive_bytes: int) -> dict:
    """``jobs``: [(job_id, submitted_epoch_s)] of the op; ``stages``: the
    status store's totals over them; ``root``: the span around the op."""
    orphans = attribute_jobs(spans, jobs)
    own = self_times(spans)

    def tree(pred):
        return subtree(spans, pred)

    def dur(pred) -> float:
        return sum(s.dur for s in spans if pred(s))

    def njobs(group) -> int:
        return sum(len(s.jobs) for s in group)

    def actions_in(group) -> list[Span]:
        # top-level actions only: nested ones are never recorded
        return [s for s in group if s.name.startswith("action.")]

    m: dict[str, float] = {}
    closure = tree(lambda s: s.name == "closure")
    m["closure.s"] = dur(lambda s: s.name == "closure")
    m["closure.jobs"] = njobs(closure)
    m["closure.action_s"] = sum(s.dur for s in actions_in(closure))

    def export_action(kind):
        return lambda s: s.name == f"action.{kind}" and s.caller == "xdump_spark.engine._export"

    probes = [s for s in spans if export_action("count")(s)]
    collects = [s for s in spans if export_action("collect")(s)]
    seqstate = tree(lambda s: s.name == "engine.seqstate")
    m["engine.probe_s"] = sum(s.dur for s in probes)
    m["engine.probe_jobs"] = njobs(probes)
    m["engine.collect_s"] = sum(s.dur for s in collects)
    m["engine.seqstate_s"] = dur(lambda s: s.name == "engine.seqstate")
    m["engine.seqstate_jobs"] = njobs(seqstate)
    dump = tree(lambda s: s.name == "engine.dump")
    export_jobs = njobs(dump) - m["closure.jobs"]
    m["engine.jobs_per_table"] = export_jobs / len(collects) if collects else 0.0

    m["archive.encode_s"] = dur(lambda s: s.name == "archive.encode")
    m["archive.parse_s"] = dur(lambda s: s.name == "archive.parse")
    m["archive.zip_write_s"] = dur(lambda s: s.name == "archive.zip_write")
    m["archive.zip_read_s"] = dur(lambda s: s.name == "archive.zip_read")
    m["archive.bytes"] = archive_bytes
    m["engine.load_build_s"] = sum(own[s.id] for s in spans if s.name == "engine.load")
    m["engine.replay_s"] = dur(lambda s: s.name == "engine.replay")
    m["engine.replay_jobs"] = njobs(tree(lambda s: s.name == "engine.replay"))

    pipeline = tree(lambda s: s.name == "pipeline")
    audit = [s for s in pipeline if s.name == "action.count"
             and s.caller.startswith("xdump_spark.pipeline.")]
    m["pipeline.s"] = dur(lambda s: s.name == "pipeline")
    m["pipeline.jobs"] = njobs(pipeline)
    m["pipeline.audit_jobs"] = njobs(audit)
    m["pipeline.audit_s"] = sum(s.dur for s in audit)
    m["pipeline.sink_s"] = dur(lambda s: s.name == "pipeline.sink")

    for mod in OPERATOR_MODULES:
        name = f"operators.{mod}"
        group = tree(lambda s, name=name: s.name == name)
        m[f"{name}.build_s"] = sum(own[s.id] for s in group if s.name == name)
        m[f"{name}.action_s"] = sum(s.dur for s in actions_in(group))
        m[f"{name}.jobs"] = njobs(group)

    m["spark.task_s"] = stages["task_s"]
    m["spark.stages"] = stages["stages"]
    m["spark.shuffle_mb"] = stages["shuffle_mb"]

    top = [s for s in spans if s.parent == root.id]
    m["trace.op_s"] = root.dur
    m["trace.top_s"] = covered([(s.start, s.end) for s in top], root.start, root.end)
    m["trace.unattributed_s"] = root.dur - m["trace.top_s"]
    m["trace.unattributed_jobs"] = len(root.jobs) + len(orphans)
    return m
