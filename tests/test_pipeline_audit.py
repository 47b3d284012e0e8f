"""Pins ``prepare_training_corpus``'s and ``prepare_rag_corpus``'s audit
dicts, key for key and value for value, on the stage shapes the audit
has to survive: the curate chain (span + exact dedup + quality gate +
90/10 split + sink), the chain-pin plain chain, each dedup-store mode, a
fuzzy dedup on its driver path behind ``domain_cap``, runs without a
sink, a run resumed from a checkpoint, and a gate that empties the
corpus. The expected dicts are the counts the count-per-stage audit
recorded on the same inputs; the audit now rides Observations filled by
one barrier count and the sink writes, so any partial or doubled fill
(an eager probe, a range sort's sampling pass) shows up here as a
changed value. The curate chain also carries a Spark job budget."""

import random
import uuid

import pytest

from tests.test_pipeline_chain import _plain_docs
from tests.test_pipeline_e2e import SF
from xdump_spark.pipeline import prepare_rag_corpus, prepare_training_corpus

CURATE = dict(
    span_k=8, doc_dedup="exact", min_tokens=5,
    splits={"train": 0.9, "val": 0.1},
)
CURATE_AUDIT = {
    "input": 500, "cleaned": 500, "span_stripped": 500, "doc_deduped": 479,
    "quality_gated": 476, "split_train": 425, "split_val": 51,
}
CURATE_JOB_BUDGET = 10


@pytest.fixture
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_curate_chain_audit(spark, docs, tmp_path):
    """The benchmark's curate shape. The splits sit downstream of the
    range sort of ``deterministic_shuffle``, whose sampling pass runs
    the upstream stages once more: observing the stages on the sink
    writes would double their counts."""
    res = prepare_training_corpus(docs, out_dir=str(tmp_path / "out"), **CURATE)
    assert res.audit == CURATE_AUDIT
    assert list(res.audit) == list(CURATE_AUDIT)
    for name in ("train", "val"):
        got = spark.read.parquet(str(tmp_path / "out" / name)).count()
        assert got == CURATE_AUDIT[f"split_{name}"]


def _jobs(spark, fn) -> int:
    """The number of Spark jobs ``fn()`` runs."""
    sc = spark.sparkContext
    group = f"curate-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "curate job budget")
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_curate_chain_job_budget(spark, docs, tmp_path):
    """The curate shape runs at most ``CURATE_JOB_BUDGET`` Spark jobs:
    one local checkpoint of the chain fills the audit, and the split
    writes read it. A count job per stage and per split made it 52; a
    barrier count with each split write running the chain again, 25."""
    jobs = _jobs(spark, lambda: prepare_training_corpus(
        docs, out_dir=str(tmp_path / "out"), **CURATE,
    ))
    assert jobs <= CURATE_JOB_BUDGET, jobs


def test_unaudited_split_sink_runs_the_chain_once(spark, docs, tmp_path):
    """``audit=False`` with two splits and a sink: both split writes read
    the one local checkpoint of the chain, so the run takes the audited
    run's jobs. With each write running the chain itself it took 18."""
    jobs = _jobs(spark, lambda: prepare_training_corpus(
        docs, out_dir=str(tmp_path / "out"), audit=False, **CURATE,
    ))
    assert jobs <= CURATE_JOB_BUDGET, jobs
    for name in ("train", "val"):
        got = spark.read.parquet(str(tmp_path / "out" / name)).count()
        assert got == CURATE_AUDIT[f"split_{name}"]


def test_curate_chain_without_sink(spark, docs):
    """``out_dir=None``: each split is counted on its own job."""
    res = prepare_training_corpus(docs, **CURATE)
    assert res.audit == CURATE_AUDIT


def test_chain_without_splits_or_sink(spark, docs):
    res = prepare_training_corpus(docs, span_k=8, doc_dedup="exact", min_tokens=5)
    assert res.audit == {
        k: v for k, v in CURATE_AUDIT.items() if not k.startswith("split_")
    }


def test_curate_chain_resumed_from_checkpoint(spark, docs, tmp_path):
    """A checkpointed stage's count comes from its manifest, on the
    materializing run and on the resumed one alike; the stages around it
    stay observed."""
    kw = dict(
        CURATE, checkpoint_dir=str(tmp_path / "ck"),
        checkpoint_stages={"span_stripped"},
    )
    first = prepare_training_corpus(docs, out_dir=str(tmp_path / "a"), **kw)
    second = prepare_training_corpus(docs, out_dir=str(tmp_path / "b"), **kw)
    assert first.resumed == [] and second.resumed == ["span_stripped"]
    assert first.audit == CURATE_AUDIT
    assert second.audit == CURATE_AUDIT


def test_gate_that_empties_the_corpus(spark, docs, tmp_path):
    """Every count after the emptying gate reads 0 — no hang on a metric
    the empty-relation rewrite dropped, no missing key."""
    res = prepare_training_corpus(
        docs, span_k=8, doc_dedup="exact", min_tokens=10**6,
        blocklist=["casino"], splits={"train": 0.9, "val": 0.1},
        out_dir=str(tmp_path / "out"),
    )
    assert res.audit == {
        "input": 500, "cleaned": 500, "span_stripped": 500,
        "doc_deduped": 479, "quality_gated": 0, "blocklist_gated": 0,
        "split_train": 0, "split_val": 0,
    }


PROBED_AUDIT = {
    "input": 24, "url_deduped": 24, "cleaned": 24, "span_stripped": 24,
    "quality_gated": 24,
}


def test_undeclared_eager_build_is_counted_exactly(spark, monkeypatch):
    """A stage build that runs a Spark job over the chain on its own
    (here a limit probe) fills the pending Observations first, with a
    partial count. The stage runner notices the job and counts those
    stages on their own instead."""
    from xdump_spark.operators import web

    real = web.url_dedup

    def probing(df, *args, **kwargs):
        df.limit(3).collect()
        return real(df, *args, **kwargs)

    monkeypatch.setattr(web, "url_dedup", probing)
    res = prepare_training_corpus(
        _plain_docs(spark), dedup_urls=True, span_k=6, min_tokens=3,
    )
    assert res.audit == PROBED_AUDIT


PLAIN_AUDIT = {
    "input": 24, "url_deduped": 24, "domain_capped": 24, "line_filtered": 24,
    "line_deduped": 24, "cleaned": 24, "span_stripped": 24, "doc_deduped": 24,
    "quality_gated": 24, "blocklist_gated": 24, "gopher_gated": 24,
    "compression_gated": 24, "sampled": 23, "decontaminated": 23,
    "mixture_rebalanced": 23,
}


def test_plain_chain_audit(spark):
    """The chain-pin plain chain, eager gates included (the compression
    gate's checkpoint, the mixture-rate estimation)."""
    bench = spark.createDataFrame(
        [(0, "zeta eta theta iota kappa alpha beta gamma")],
        "doc_id long, text string",
    )
    res = prepare_training_corpus(
        _plain_docs(spark), dedup_urls=True, domain_cap=3, markup=True,
        line_filter=True, line_dedup=True, span_k=6, doc_dedup="exact",
        min_tokens=3, blocklist=["viagra", "casino"], gopher=True,
        compression_min=0.1, sample_rates={"en": 1.0, "de": 0.9},
        benchmark=bench, target_mixture={"web": 0.5, "news": 0.5},
    )
    assert res.audit == PLAIN_AUDIT
    assert list(res.audit) == list(PLAIN_AUDIT)


def _neardup_docs(spark):
    """40 docs over 4 registrable domains; every 4th doc is a one-word
    edit of the doc before it."""
    words = (
        "river city market engine garden winter music letter council "
        "harbor teacher village station history science doctor morning "
        "bridge painter kitchen forest museum island journey theory"
    ).split()
    rows = []
    for i in range(40):
        rng = random.Random(i - 1 if i % 4 == 3 else i)
        toks = [rng.choice(words) for _ in range(60)]
        if i % 4 == 3:
            toks[30] = "zebra"
        rows.append((i, " ".join(toks), f"http://www.site{i % 4}.org/p{i}"))
    return spark.createDataFrame(rows, "doc_id long, text string, url string")


FUZZY_AUDIT = {
    "input": 40, "domain_capped": 32, "cleaned": 32, "doc_deduped": 26,
    "quality_gated": 26, "split_train": 12, "split_val": 14,
}


def test_fuzzy_driver_path_chain_audit(spark):
    """Fuzzy dedup on its driver fast path (exact verify, a driver-small
    corpus): its builds run eager probes and checkpoints, so the stages
    before it must be settled first."""
    res = prepare_training_corpus(
        _neardup_docs(spark), domain_cap=8, span_k=None, doc_dedup="fuzzy",
        fuzzy_threshold=0.7,
        fuzzy_kwargs={"num_perm": 64, "bands": 16, "verify": "exact"},
        min_tokens=3, splits={"train": 0.5, "val": 0.5},
    )
    assert res.audit == FUZZY_AUDIT


def _store_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    return spark.createDataFrame(
        [(1, base, [1.0, 0.0, 0.0, 0.0]),
         (2, base, [0.98, 0.02, 0.0, 0.0]),
         (3, base.replace("jumps", "jumped"), [0.0, 1.0, 0.0, 0.0]),
         (4, "an unrelated subject entirely here", [0.0, 0.0, 1.0, 0.0]),
         (5, "tiny", [0.0, 0.0, 0.0, 1.0])],
        "doc_id long, text string, embedding array<double>",
    )


def _store(spark, mode, tmp_path):
    from xdump_spark.operators.incremental import (
        ExactHashStore,
        SignatureStore,
        VectorStore,
    )

    if mode == "exact":
        name = f"audit_pin_{uuid.uuid4().hex[:8]}"
        return ExactHashStore(spark, name, n_buckets=4, path=str(tmp_path / name))
    if mode == "fuzzy":
        return SignatureStore(spark, str(tmp_path / "sig"))
    return VectorStore(spark, str(tmp_path / "vs"))


STORE_KW = {
    "exact": {},
    "fuzzy": {"fuzzy_threshold": 0.5,
              "fuzzy_kwargs": {"num_perm": 64, "bands": 16}},
    "semantic": {"semantic_kwargs": {"n_cells": 2}},
}
STORE_AUDIT = {
    "exact": [
        {"input": 5, "cleaned": 5, "doc_deduped": 4, "quality_gated": 3},
        {"input": 5, "cleaned": 5, "doc_deduped": 0, "quality_gated": 0},
    ],
    "fuzzy": [
        {"input": 5, "cleaned": 5, "doc_deduped": 3, "quality_gated": 2},
        {"input": 5, "cleaned": 5, "doc_deduped": 0, "quality_gated": 0},
    ],
    "semantic": [
        {"input": 5, "cleaned": 5, "doc_deduped": 4, "quality_gated": 3},
        {"input": 5, "cleaned": 5, "doc_deduped": 0, "quality_gated": 0},
    ],
}


@pytest.mark.parametrize("mode", ["exact", "fuzzy", "semantic"])
def test_store_chain_audit(spark, tmp_path, mode):
    """Each dedup-store increment, run twice: the second day re-sends
    the first day's docs, so the store rejects them."""
    store = _store(spark, mode, tmp_path)
    got = []
    try:
        for day in range(2):
            res = prepare_training_corpus(
                _store_docs(spark), span_k=None, min_tokens=2,
                doc_dedup=mode, dedup_store=store,
                out_dir=str(tmp_path / f"out{day}"), **STORE_KW[mode],
            )
            got.append(res.audit)
    finally:
        if mode == "exact":
            spark.sql(f"DROP TABLE IF EXISTS {store.table_name}")
    assert got == STORE_AUDIT[mode]


RAG_AUDIT = [
    {"docs": 3, "chunks": 15, "accepted_chunks": 10},
    {
        "docs": 2,
        "replaced": {
            "docs_requested": 2,
            "store": {"deleted_rows": 5, "cells_rewritten": 1},
            "index": {"deleted_docs": 5, "deleted_postings": 152, "seg": 1},
            "corpus_rows_deleted": 5,
            "corpus": {
                "rows_deleted": 5, "buckets_touched": 1, "files_rewritten": 1,
            },
        },
        "chunks": 6,
        "accepted_chunks": 6,
    },
]


def test_rag_ingest_audit(spark, tmp_path):
    """``prepare_rag_corpus``'s three counts ride the eager checkpoints
    of the chunk+embed frame and the survivor frame; a replacing ingest
    keeps the ids frame it forgets unobserved."""
    from xdump_spark.operators.incremental import VectorStore

    bodies = [
        " ".join(f"{w}{i}" for i in range(40) for w in ws)
        for ws in (("alpha", "beta", "gamma"), ("delta", "epsilon", "zeta"))
    ]
    day1 = spark.createDataFrame(
        [(1, bodies[0]), (2, bodies[1]), (3, bodies[0])],
        "doc_id long, text string",
    )
    day2 = spark.createDataFrame(
        [(2, bodies[1] + " omega"), (4, "short new doc")],
        "doc_id long, text string",
    )
    store = VectorStore(spark, str(tmp_path / "vs"))
    kw = dict(
        index_dir=str(tmp_path / "tidx"), out_dir=str(tmp_path / "chunks"),
        max_tokens=32, overlap=8, hash_embed_dim=64, threshold=0.9, n_cells=2,
    )
    a1 = prepare_rag_corpus(day1, store, **kw).audit
    a2 = prepare_rag_corpus(day2, store, replace=True, **kw).audit
    assert [a1, a2] == RAG_AUDIT
