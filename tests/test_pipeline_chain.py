"""Pins the checkpoint fingerprint chain of ``prepare_training_corpus``.

Every stage extends the chain through ``StageCheckpointer.advance(stage,
params)``, and the chained fingerprints are persisted in checkpoint
manifests: a stage renamed, reordered or given a different parameter
dict silently stops existing checkpoint directories from resuming. These
tests record every ``advance`` call as ``stage|_canon(params)`` (tmp
paths replaced by ``<tmp>``) and compare it with literals captured
before the pipeline's stage runner was restructured."""

import random
import uuid

import pytest

from xdump_spark.checkpointing import StageCheckpointer, _canon
from xdump_spark.pipeline import prepare_training_corpus


@pytest.fixture
def chain(monkeypatch, tmp_path):
    calls: list[str] = []
    real = StageCheckpointer.advance

    def record(self, stage, params):
        calls.append(
            f"{stage}|{_canon(params)}".replace(str(tmp_path), "<tmp>")
        )
        return real(self, stage, params)

    monkeypatch.setattr(StageCheckpointer, "advance", record)
    return calls


PLAIN_CHAIN = [
    'url_deduped|{"id_col":"doc_id","url_col":"url"}',
    'domain_capped|{"domain_cap":3,"id_col":"doc_id","url_col":"url"}',
    'markup|{"text_col":"text"}',
    'line_filtered|{"text_col":"text"}',
    'line_deduped|{"id_col":"doc_id","text_col":"text"}',
    'cleaned|{"text_col":"text"}',
    'span_stripped|{"id_col":"doc_id","span_k":6,"text_col":"text"}',
    'doc_deduped|{"doc_dedup":"exact","id_col":"doc_id","text_col":"text"}',
    'quality_gated|{"min_tokens":3,"text_col":"text"}',
    'blocklist_gated|{"blocklist":["casino","viagra"],"mode":"token"}',
    'gopher_gated|{"gopher":true,"text_col":"text"}',
    'compression_gated|{"compression_min":0.1,"text_col":"text"}',
    'sampled|{"rates":{"de":0.9,"en":1.0},"strata_col":"lang"}',
    'decontaminated|{"benchmark":"content:d6b4b4b9d162358a","k":6,'
    '"policy":"drop"}',
    'mixture_rebalanced|{"mixture_col":"source",'
    '"target":{"news":0.5,"web":0.5}}',
]


def _plain_docs(spark):
    words = (
        "the of and to that have with river city market engine garden winter "
        "music letter council harbor teacher village station history science "
        "doctor morning bridge painter kitchen forest museum island journey "
        "theory student capital summer factory theatre"
    ).split()
    rows = []
    for i in range(24):
        rng = random.Random(i)
        body = " ".join(rng.choice(words) for _ in range(70))
        rows.append((
            i, f"<p>{body}.</p>", f"http://www.site{i}.org/page",
            "en" if i % 3 else "de", "web" if i % 2 else "news",
        ))
    return spark.createDataFrame(
        rows, "doc_id long, text string, url string, lang string, source string"
    )


def test_plain_chain_stage_fingerprints(spark, tmp_path, chain):
    bench = spark.createDataFrame(
        [(0, "zeta eta theta iota kappa alpha beta gamma")],
        "doc_id long, text string",
    )
    prepare_training_corpus(
        _plain_docs(spark), dedup_urls=True, domain_cap=3, markup=True,
        line_filter=True, line_dedup=True, span_k=6, doc_dedup="exact",
        min_tokens=3, blocklist=["viagra", "casino"], gopher=True,
        compression_min=0.1, sample_rates={"en": 1.0, "de": 0.9},
        benchmark=bench, target_mixture={"web": 0.5, "news": 0.5},
        audit=False, checkpoint_dir=str(tmp_path / "ck"),
        checkpoint_stages={"cleaned", "doc_deduped", "mixture_rebalanced"},
    )
    assert chain == PLAIN_CHAIN


def test_exact_store_chain(spark, tmp_path, chain):
    from xdump_spark.operators.incremental import ExactHashStore

    name = f"chain_pin_{uuid.uuid4().hex[:8]}"
    docs = spark.createDataFrame(
        [(1, "one document about shuffles"), (2, "one document about shuffles")],
        "doc_id long, text string",
    )
    try:
        store = ExactHashStore(spark, name, n_buckets=4, path=str(tmp_path / name))
        prepare_training_corpus(
            docs, span_k=None, min_tokens=1, doc_dedup="exact",
            dedup_store=store, audit=False,
            checkpoint_dir=str(tmp_path / "ck"),
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    assert [c.replace(name, "<store>") for c in chain] == [
        'cleaned|{"text_col":"text"}',
        'doc_deduped|{"doc_dedup":"exact-incremental","id_col":"doc_id",'
        '"n_buckets":4,"store":"<store>","text_col":"text"}',
        'quality_gated|{"min_tokens":1,"text_col":"text"}',
    ]


def test_fuzzy_store_chain(spark, tmp_path, chain):
    from xdump_spark.operators.incremental import SignatureStore

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, base), (2, base.replace("jumps", "jumped"))],
        "doc_id long, text string",
    )
    prepare_training_corpus(
        docs, span_k=None, min_tokens=1, doc_dedup="fuzzy",
        fuzzy_threshold=0.5, fuzzy_kwargs={"num_perm": 64, "bands": 16},
        dedup_store=SignatureStore(spark, str(tmp_path / "sig")),
        audit=False, checkpoint_dir=str(tmp_path / "ck"),
    )
    assert chain == [
        'cleaned|{"text_col":"text"}',
        'doc_deduped|{"doc_dedup":"fuzzy-incremental","id_col":"doc_id",'
        '"kwargs":{"bands":16,"num_perm":64},"resolve":"components",'
        '"store":"<tmp>/sig","text_col":"text","threshold":0.5}',
        'quality_gated|{"min_tokens":1,"text_col":"text"}',
    ]


def test_semantic_store_chain(spark, tmp_path, chain):
    from xdump_spark.operators.incremental import VectorStore

    docs = spark.createDataFrame(
        [(1, "first document about engines", [1.0, 0.0, 0.0, 0.0]),
         (2, "its semantic twin reworded", [0.98, 0.02, 0.0, 0.0]),
         (3, "an unrelated subject entirely", [0.0, 1.0, 0.0, 0.0])],
        "doc_id long, text string, embedding array<double>",
    )
    prepare_training_corpus(
        docs, span_k=None, min_tokens=1, doc_dedup="semantic",
        dedup_store=VectorStore(spark, str(tmp_path / "vs")),
        semantic_kwargs={"n_cells": 2}, audit=False,
        checkpoint_dir=str(tmp_path / "ck"),
    )
    assert chain == [
        'cleaned|{"text_col":"text"}',
        'doc_deduped|{"doc_dedup":"semantic-incremental",'
        '"embedding_col":"embedding","hash_embed":null,"id_col":"doc_id",'
        '"kwargs":{"n_cells":2},"store":"<tmp>/vs","threshold":0.95}',
        'quality_gated|{"min_tokens":1,"text_col":"text"}',
    ]
