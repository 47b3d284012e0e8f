"""The driver budget (xdump_spark.cutover): how it is derived, the one
test seam, the decision record, the bounded transfer's job count, and
the exact-mode pair fast path declining what a small driver cannot
hold."""

import logging
import uuid
from types import SimpleNamespace

import numpy as np
import pytest

from xdump_spark import cutover
from xdump_spark.operators import dedup as D
from xdump_spark.operators import pq as PQ
from xdump_spark.operators import similarity as S
from xdump_spark.planner.closure import compute_closure

EMB = "/root/testdata/sf0.001/embeddings.parquet"


def _with_driver_memory(spark, mem):
    """A session stand-in whose conf holds only ``spark.driver.memory``
    (or nothing, for None)."""
    return SimpleNamespace(_jvm=spark._jvm, conf={} if mem is None else {"spark.driver.memory": mem})


@pytest.mark.parametrize(
    "mem,want",
    [("512m", 128 << 20), ("2g", 512 << 20), ("16g", 4 << 30), ("2048", 512 << 20), (None, 256 << 20)],
)
def test_budget_bytes_is_a_quarter_of_driver_memory(spark, mem, want):
    """A quarter of ``spark.driver.memory``, parsed as Spark parses it (a
    bare number is MiB); unset means Spark's 1g default."""
    assert cutover.budget_bytes(_with_driver_memory(spark, mem)) == want


def test_budget_seam_pins_and_restores(spark):
    derived = cutover.budget_bytes(spark)
    assert derived == cutover.budget_bytes(
        _with_driver_memory(spark, spark.sparkContext.getConf().get("spark.driver.memory"))
    )
    with cutover.budget(7):
        assert cutover.budget_bytes(spark) == 7
        with cutover.budget(0):
            assert cutover.budget_bytes(spark) == 0
        assert cutover.budget_bytes(spark) == 7
    assert cutover.budget_bytes(spark) == derived


def _records(caplog):
    return [r.cutover for r in caplog.records if hasattr(r, "cutover")]


def test_decision_records_closure_and_dedup(spark, employees_catalog, caplog):
    """Each cutover decision logs one DEBUG record on the ``xdump_spark``
    logger with the site, what was probed, the bound and the path."""
    caplog.set_level(logging.DEBUG, logger="xdump_spark")
    seed = employees_catalog.tables["employees"].filter("id = 5")
    compute_closure(employees_catalog, partial_tables={"employees": seed})
    recs = _records(caplog)
    assert recs and all(r["site"].startswith("closure.") for r in recs)
    assert {r["path"] for r in recs} == {"driver"}
    assert all(0 <= r["rows"] <= r["bound"] for r in recs)
    assert any(r["site"] == "closure.seed.employees" and r["rows"] == 1 for r in recs)
    assert any(
        "cutover closure.seed.employees: 1 rows" in m and m.endswith("path driver")
        for m in caplog.messages
    )

    caplog.clear()
    with cutover.budget(0):
        compute_closure(employees_catalog, partial_tables={"employees": seed})
    assert any(r["path"] == "distributed" and r["bound"] == 0 for r in _records(caplog))

    caplog.clear()
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    D.simhash_pairs(docs, max_bucket=None)
    entry, enum = _records(caplog)
    assert entry["site"] == enum["site"] == "dedup.simhash_pairs"
    assert entry["path"] == enum["path"] == "driver"
    assert entry["bytes"] == 104 * docs.count() <= enum["bytes"]
    assert entry["bound"] == cutover.budget_bytes(spark)


def _jobs(spark, fn) -> int:
    """The number of Spark jobs ``fn()`` runs."""
    sc = spark.sparkContext
    group = f"cutover-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "cutover job budget")
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_query_collect_is_one_job(spark):
    """The query batch reaches the driver as one bounded Arrow collect:
    building a kNN search runs one Spark job (a limit+count probe then
    a collect ran two)."""
    emb = spark.read.parquet(EMB)
    queries = emb.filter("vec_id % 50 = 1")
    cb = PQ.pq_train(emb, m=4, k=16)
    codes = PQ.pq_encode(emb, cb)
    assert _jobs(spark, lambda: S.cosine_topk(emb, queries, k=3)) == 1
    assert _jobs(spark, lambda: PQ.pq_topk(codes, cb, queries, k=3)) == 1


def test_exact_pairs_collect_is_one_job(spark):
    """embedding_neardup_pairs(exact=True) collects the corpus as one
    bounded Arrow job (a count then a collect ran two)."""
    emb = spark.read.parquet(EMB)
    assert _jobs(spark, lambda: S.embedding_neardup_pairs(emb, threshold=0.9, exact=True)) == 1


def test_minhash_exact_declines_past_a_2g_driver(spark, caplog):
    """The exact-mode pair fast path's modeled peak counts the dense
    shingle matrix S, P = S·Sᵀ and the candidate temporaries. 1000 docs
    of ~166 distinct 5-char shingles each put S at ~600 MB: inside the
    former fixed bounds (8192 docs, 8M shingles, 1.5 GiB dense), past
    the budget a 2g driver derives (512 MiB). The path declines before
    allocating and the distributed plan returns the exact rows: the
    planted near-duplicate pairs at their exact shingle Jaccard."""
    rng = np.random.default_rng(11)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    base = ["".join(rng.choice(letters, 170)) for _ in range(900)]
    near = [t[:85] + ("b" if t[85] == "a" else "a") + t[86:] for t in base[:100]]
    rows = list(enumerate(base)) + [(900 + i, t) for i, t in enumerate(near)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def sh(t):
        return {t[i : i + 5] for i in range(len(t) - 4)}

    want = sorted(
        (i, 900 + i, round(len(sh(a) & sh(b)) / len(sh(a) | sh(b)), 6))
        for i, (a, b) in enumerate(zip(base, near))
    )

    caplog.set_level(logging.DEBUG, logger="xdump_spark")
    with cutover.budget(cutover.budget_bytes(_with_driver_memory(spark, "2g"))):
        got = sorted(
            tuple(r)
            for r in D.minhash_lsh_pairs(
                docs, threshold=0.8, num_perm=32, bands=16, verify="exact", max_bucket=None
            ).collect()
        )
    guard, entry, peak = _records(caplog)
    assert [r["path"] for r in (guard, entry, peak)] == ["driver", "driver", "distributed"]
    assert peak["site"] == "dedup.minhash_pairs" and peak["bound"] == 512 << 20
    assert peak["bytes"] > peak["bound"] and peak["bytes"] - entry["bytes"] < 1536 << 20
    assert got == want
