import pytest

from tracing import Span, Tracer, attribute_jobs, covered, self_times, subtree


def S(i, name, start, end, parent=None):
    return Span(i, name, start, end, parent)


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    assert covered([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3)
    assert covered([(4, 3)], 0, 10) == 0


def test_self_time_subtracts_children_once():
    spans = [
        S(0, "op", 0.0, 10.0),
        S(1, "engine.dump", 1.0, 7.0, 0),
        S(2, "closure", 1.5, 3.5, 1),
        # two overlapping children on pool threads count once
        S(3, "action.collect", 4.0, 6.0, 1),
        S(4, "action.collect", 5.0, 6.5, 1),
        S(5, "engine.replay", 8.0, 9.0, 0),
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10 - 6 - 1)
    assert own[1] == pytest.approx(6 - 2 - 2.5)
    assert own[2] == pytest.approx(2)
    assert own[5] == pytest.approx(1)


def test_jobs_go_to_the_deepest_open_span():
    spans = [
        S(0, "op", 100.0, 110.0),
        S(1, "engine.dump", 100.5, 105.0, 0),
        S(2, "action.count", 101.0, 102.0, 1),
        S(3, "action.collect", 103.0, 104.0, 1),
        S(4, "engine.replay", 106.0, 109.0, 0),
    ]
    orphans = attribute_jobs(spans, [
        (1, 101.2), (2, 101.9), (3, 103.5), (4, 102.5), (5, 107.0), (6, 105.5), (7, 111.0),
    ])
    assert spans[2].jobs == [1, 2]
    assert spans[3].jobs == [3]
    assert spans[1].jobs == [4]          # between its two actions
    assert spans[4].jobs == [5]
    assert spans[0].jobs == [6]          # inside the op, outside every layer
    assert orphans == [7]


def test_job_attribution_tolerates_millisecond_truncation():
    spans = [S(0, "op", 10.0, 20.0), S(1, "action.count", 12.0004, 13.0, 0)]
    # Spark stamps 12.000 for a job submitted at 12.0006
    attribute_jobs(spans, [(1, 12.000)])
    assert spans[1].jobs == [1]


def test_sibling_overlap_prefers_the_latest_started():
    spans = [S(0, "op", 0.0, 10.0), S(1, "action.collect", 1.0, 5.0, 0),
             S(2, "action.collect", 2.0, 6.0, 0)]
    attribute_jobs(spans, [(1, 3.0), (2, 1.5)])
    assert spans[2].jobs == [1]
    assert spans[1].jobs == [2]


def test_subtree_collects_descendants():
    spans = [S(0, "op", 0, 9), S(1, "pipeline", 0, 8, 0), S(2, "operators.spans", 1, 2, 1),
             S(3, "action.count", 1.2, 1.5, 2), S(4, "engine.replay", 8, 9, 0)]
    assert [s.id for s in subtree(spans, lambda s: s.name == "pipeline")] == [1, 2, 3]


def test_tracer_nesting_threads_and_uninstall():
    import threading

    import xdump_spark.engine as engine

    original = engine.compute_closure
    t = Tracer()
    t.install()
    try:
        assert engine.compute_closure is not original
        with t.span("op") as root:
            with t.span("closure") as c:
                def pool_task():
                    with t.span("action.count"):
                        pass

                th = threading.Thread(target=pool_task)
                th.start()
                th.join()
    finally:
        t.uninstall()
    assert engine.compute_closure is original
    spans = t.take()
    assert c.parent == root.id
    # a pool-thread span hangs off the main thread's open span
    assert [s.parent for s in spans if s.name == "action.count"] == [c.id]
    assert t.take() == []
