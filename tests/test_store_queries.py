"""Read-only store query surfaces: SignatureStore.probe (near-dup
lookup) and ExactHashStore.contains (membership) — each the forensic
twin of its increment's store tier, pinned consistent with the
increment's own evidence, never mutating."""

from __future__ import annotations

import uuid

from xdump_spark.operators.incremental import (
    ExactHashStore,
    SignatureStore,
    incremental_exact_dedup,
    incremental_neardup,
)

BASE = "the quick brown fox jumps over the lazy dog again and again in the yard"
NEAR = "the quick brown fox jumped over the lazy dog again and again in the yard"
OTHER = "completely different content about distributed query engines and shuffles"
THIRD = "yet another unrelated document mentioning parquet footers and row groups"
DOC_SCHEMA = "doc_id long, text string"


def test_signature_probe_matches_increment_evidence(spark, tmp_path):
    store = SignatureStore(spark, str(tmp_path / "sig"))
    b1 = spark.createDataFrame([(1, BASE), (3, OTHER)], DOC_SCHEMA)
    incremental_neardup(b1, store)

    queries = spark.createDataFrame(
        [(10, NEAR), (11, OTHER), (12, THIRD)], DOC_SCHEMA
    )
    hits = {
        (r.query_id, r.stored_id): r.est
        for r in store.probe(queries).collect()
    }
    assert set(hits) == {(10, 1), (11, 3)}
    assert all(est >= 0.5 for est in hits.values())
    assert hits[(11, 3)] == 1.0  # byte-identical re-send

    # the increment's own rejects carry the same evidence
    twin = SignatureStore(spark, str(tmp_path / "twin"))
    incremental_neardup(b1, twin)
    r = incremental_neardup(queries, twin)
    for dup_id, kept_id, est in r.pairs:
        assert hits[(dup_id, kept_id)] == est

    # probe mutated nothing: the store still holds exactly ids {1, 3}
    assert {x.id for x in store.read().select("id").distinct().collect()} \
        == {1, 3}


def test_signature_probe_empty_store_and_hot_bucket_guard(spark, tmp_path):
    empty = SignatureStore(spark, str(tmp_path / "none"))
    q = spark.createDataFrame([(1, BASE)], DOC_SCHEMA)
    out = empty.probe(q)
    assert out.columns == ["query_id", "stored_id", "est"]
    assert out.count() == 0

    # a degenerate template bucket (every stored doc identical) is
    # dropped by max_bucket, kept when the guard is disabled
    store = SignatureStore(spark, str(tmp_path / "hot"))
    template = spark.createDataFrame(
        [(i, BASE) for i in range(1, 6)], DOC_SCHEMA
    )
    # append all five as if accepted (bypass dedup: craft via increment
    # on disjoint stores would reject; use the store's row formula)
    store.append(*store.rows(template))
    assert store.probe(q, max_bucket=4).count() == 0
    assert store.probe(q, max_bucket=None).count() == 5


def test_exact_contains(spark, tmp_path):
    name = f"q_{uuid.uuid4().hex[:8]}"
    store = ExactHashStore(
        spark, name, n_buckets=4, path=str(tmp_path / name)
    )
    try:
        incremental_exact_dedup(
            spark.createDataFrame([(1, BASE), (2, OTHER)], DOC_SCHEMA),
            store,
        )
        got = {
            r.doc_id: r.is_stored
            for r in store.contains(
                spark.createDataFrame(
                    # 11 = normalized re-send (case/whitespace), 12 novel
                    [(10, BASE), (11, "  " + OTHER.upper()), (12, THIRD)],
                    DOC_SCHEMA,
                )
            ).collect()
        }
        assert got == {10: True, 11: True, 12: False}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")

    absent = ExactHashStore(
        spark, f"q_{uuid.uuid4().hex[:8]}", n_buckets=4,
        path=str(tmp_path / "absent"),
    )
    got = {
        r.doc_id: r.is_stored
        for r in absent.contains(
            spark.createDataFrame([(1, BASE)], DOC_SCHEMA)
        ).collect()
    }
    assert got == {1: False}
