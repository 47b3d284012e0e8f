import json
import os

import run
import workloads
from layers import layer_metrics
from tracing import Span

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_workloads_match():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    assert names == list(workloads.WORKLOADS)


def test_every_listed_metric_is_computed():
    # run._report raises KeyError for a metric BENCHMARK.json lists and
    # the code does not compute
    rec = {"op_s": 1.0, "jobs": 60, "out_bytes": 1000, "rows": 10, "rss_mb": 200.0}
    got = run._end_to_end([rec], {"setup_s": 5.0})
    assert all(v["value"] > 0 for v in got.values())
    root = Span(0, "op", 0.0, 1.0)
    stages = {"task_s": 0.0, "stages": 0, "shuffle_mb": 0.0}
    traced = dict(rec, layers=layer_metrics([root], root, [], stages, 0))
    got = run._layer_summary([rec, traced], {"session.start_s": 1.0, "catalog.load_s": 2.0}, 0.5)
    assert list(got) == list(run._spec_units("per_layer"))
