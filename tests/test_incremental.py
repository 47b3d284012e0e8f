"""Incremental / streaming near-dup dedup against the signature store."""

import pytest

from pyspark.sql import functions as F

from xdump_spark.operators.incremental import (
    SignatureStore,
    incremental_neardup,
    streaming_neardup_dedup,
)

BASE = "the quick brown fox jumps over the lazy dog again and again in the yard"
NEAR = "the quick brown fox jumped over the lazy dog again and again in the yard"
OTHER = "completely different content about distributed query engines and shuffles"
THIRD = "yet another unrelated document mentioning parquet footers and row groups"

DOC_SCHEMA = "doc_id long, text string"


def _ids(df):
    return sorted(r.id for r in df.collect())


def test_incremental_two_batches(spark, tmp_path):
    store = SignatureStore(spark, str(tmp_path / "store"))

    # increment 1: near-dup pair (1,2) + distinct 3
    b1 = spark.createDataFrame([(1, BASE), (2, NEAR), (3, OTHER)], DOC_SCHEMA)
    r1 = incremental_neardup(b1, store, count_store=True)
    assert _ids(r1.accepted) == [1, 3]
    assert [(d, k) for d, k, _ in r1.pairs] == [(2, 1)]
    assert r1.store_rows == 2

    # increment 2: 10 dups the STORED 1; 11 dups the STORED 3; 12 is new
    b2 = spark.createDataFrame([(10, NEAR), (11, OTHER), (12, THIRD)], DOC_SCHEMA)
    r2 = incremental_neardup(b2, store, count_store=True)
    assert _ids(r2.accepted) == [12]
    assert [(d, k) for d, k, _ in r2.pairs] == [(10, 1), (11, 3)]
    assert r2.store_rows == 3


def test_incremental_greedy_chain_semantics(spark, tmp_path):
    """A doc whose only near-dup partner was itself rejected is still
    kept — greedy-sequential semantics (the batch behaves as if it had
    arrived one doc at a time)."""
    store = SignatureStore(spark, str(tmp_path / "store"))
    b1 = spark.createDataFrame([(1, BASE)], DOC_SCHEMA)
    incremental_neardup(b1, store)

    # 20 dups stored 1 → rejected. 21 dups 20 (same text) BUT its only
    # accepted comparison is the store: NEAR vs BASE → also rejected
    # against the store survivor, not against 20.
    b2 = spark.createDataFrame([(20, NEAR), (21, NEAR)], DOC_SCHEMA)
    r2 = incremental_neardup(b2, store)
    assert _ids(r2.accepted) == []
    assert [(d, k) for d, k, _ in r2.pairs] == [(20, 1), (21, 1)]


def test_incremental_matches_oneshot_survivors(spark, tmp_path):
    """Two increments accept exactly the greedy survivors of the union
    batch (banding is deterministic, so candidates agree)."""
    from xdump_spark.operators.dedup import minhash_lsh_pairs

    docs = [(1, BASE), (2, NEAR), (3, OTHER), (4, THIRD), (5, BASE + " x")]
    union = spark.createDataFrame(docs, DOC_SCHEMA)
    pairs = [
        (r.id_a, r.id_b) for r in minhash_lsh_pairs(union, threshold=0.5).collect()
    ]
    # greedy survivors from the one-shot pair list
    rejected = set()
    for a, b in sorted(pairs, key=lambda p: p[1]):
        if a not in rejected:
            rejected.add(b)
    want = sorted(set(d for d, _ in docs) - rejected)

    store = SignatureStore(spark, str(tmp_path / "store"))
    acc = []
    for batch in (docs[:3], docs[3:]):
        res = incremental_neardup(spark.createDataFrame(batch, DOC_SCHEMA), store)
        acc.extend(_ids(res.accepted))
    assert sorted(acc) == want


def test_streaming_neardup_dedup(spark, tmp_path):
    """foreachBatch wrapper: files arrive as separate micro-batches, the
    store ends in the same state as explicit increments."""
    src = str(tmp_path / "in")
    spark.createDataFrame([(1, BASE), (2, NEAR)], DOC_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    spark.createDataFrame([(10, NEAR), (11, OTHER)], DOC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    store = SignatureStore(spark, str(tmp_path / "store"))
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_neardup_dedup(
        stream, store, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    kept = sorted(
        r.id for r in store.read().select("id").distinct().collect()
    )
    # one BASE/NEAR survivor (whichever file arrived first) + OTHER
    assert 11 in kept
    assert len(kept) == 2
    assert kept[0] in (1, 10)

# ------------------------------------------- exact hash store -------


def _exact_store(spark, tmp_path, n_buckets=8):
    import uuid

    from xdump_spark.operators.incremental import ExactHashStore

    name = f"seen_{uuid.uuid4().hex[:8]}"
    return ExactHashStore(
        spark, name, n_buckets=n_buckets, path=str(tmp_path / name)
    )


def test_exact_store_increments_match_duckdb(spark, tmp_path):
    """Accepted set across increments == DuckDB's keep-first-occurrence
    over the concatenated history in ARRIVAL order (independent
    recomputation, including the whitespace/case normalization). A
    later increment re-sending an old text under a smaller id must NOT
    win."""
    import duckdb

    from xdump_spark.operators.incremental import incremental_exact_dedup

    store = _exact_store(spark, tmp_path)
    batches = [
        [(100, "Alpha beta  GAMMA"), (101, "alpha beta gamma"), (102, "delta")],
        # 7 re-sends batch-0's text under a SMALLER id; 103 is new
        [(7, "  alpha   beta gamma "), (103, "epsilon")],
        [(104, "DELTA"), (105, "zeta"), (106, "zeta")],
    ]
    accepted = []
    try:
        for b in batches:
            acc = incremental_exact_dedup(
                spark.createDataFrame(b, "doc_id long, text string"), store
            )
            accepted.extend(sorted(r.id for r in acc.collect()))

        con = duckdb.connect()
        rows = [
            (bi, did, txt) for bi, b in enumerate(batches) for did, txt in b
        ]
        con.execute(
            "CREATE TABLE hist AS SELECT * FROM (VALUES "
            + ",".join(
                f"({bi}, {did}, '{t}')" for bi, did, t in rows
            )
            + ") t(batch, doc_id, text)"
        )
        want = [
            r[0]
            for r in con.execute(
                """
                SELECT doc_id FROM (
                  SELECT doc_id, row_number() OVER (
                    PARTITION BY trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))
                    ORDER BY batch, doc_id) AS rn
                  FROM hist) WHERE rn = 1 ORDER BY doc_id
                """
            ).fetchall()
        ]
        assert sorted(accepted) == want == [100, 102, 103, 105]
        assert store.read().count() == 4
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {store.table_name}")


def test_exact_store_equals_oneshot_exact_dedup(spark, tmp_path):
    """With ascending ids across increments, the incremental accepted
    set equals one-shot exact_dedup over the union."""
    from xdump_spark.operators.dedup import exact_dedup
    from xdump_spark.operators.incremental import incremental_exact_dedup

    docs = [(i, f"text number {(i * 7) % 23}") for i in range(60)]
    union = spark.createDataFrame(docs, "doc_id long, text string")
    want = sorted(r.doc_id for r in exact_dedup(union).collect())

    store = _exact_store(spark, tmp_path)
    got = []
    try:
        for lo, hi in ((0, 20), (20, 45), (45, 60)):
            acc = incremental_exact_dedup(
                spark.createDataFrame(docs[lo:hi], "doc_id long, text string"),
                store,
            )
            got.extend(r.id for r in acc.collect())
        assert sorted(got) == want
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {store.table_name}")


def test_streaming_exact_dedup(spark, tmp_path):
    """foreachBatch twin: accepted parquet accumulates exactly the
    first-arrival ids; the bucketed hash table carries state across
    micro-batches."""
    from xdump_spark.operators.incremental import streaming_exact_dedup

    src = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, "aaa"), (2, "bbb")], DOC_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(
        [(10, "bbb"), (11, "ccc")], DOC_SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)

    store = _exact_store(spark, tmp_path)
    out = str(tmp_path / "accepted")
    try:
        stream = (
            spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = streaming_exact_dedup(
            stream, store, checkpoint_dir=str(tmp_path / "ckpt"),
            accepted_dir=out,
        )
        q.awaitTermination(120)
        kept = sorted(r.id for r in spark.read.parquet(out).collect())
        # one bbb survivor (whichever file triggered first) + aaa + ccc
        assert len(kept) == 3 and 11 in kept
        assert store.read().count() == 3
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {store.table_name}")


def test_content_hashes_independent_seeds(spark):
    """h2 must NOT be the seed-chained xxhash64(norm, lit) — Spark
    chains the running hash as the next seed, which would make (h1,h2)
    a 64-bit pair in 128-bit clothing. Pin the salt-first formula and
    its non-equality with the chained form."""
    from pyspark.sql import functions as F

    from xdump_spark.operators.dedup import _norm_text
    from xdump_spark.operators.incremental import content_hashes

    df = spark.createDataFrame(
        [(i, f"text sample {i}") for i in range(20)], "doc_id long, text string"
    )
    norm = _norm_text(F.col("text"))
    both = content_hashes(df).join(
        df.select(
            F.col("doc_id").alias("id"),
            F.xxhash64(F.lit(0x9E3779B9), norm).alias("want_h2"),
            F.xxhash64(norm, F.lit(0x9E3779B9)).alias("chained"),
        ),
        "id",
    )
    rows = both.collect()
    assert all(r.h2 == r.want_h2 for r in rows)
    assert all(r.h2 != r.chained for r in rows)


def test_exact_store_defer_commit(spark, tmp_path):
    """defer_commit returns (accepted, commit) without touching the
    store; commit() is what persists — the failed-run-retry contract."""
    from xdump_spark.operators.incremental import incremental_exact_dedup

    store = _exact_store(spark, tmp_path)
    docs = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb")], "doc_id long, text string"
    )
    try:
        accepted, commit = incremental_exact_dedup(docs, store, defer_commit=True)
        assert sorted(r.id for r in accepted.collect()) == [1, 2]
        assert store.read() is None          # nothing persisted yet
        # "retry" before commit sees an empty store -> same answer
        again, commit2 = incremental_exact_dedup(docs, store, defer_commit=True)
        assert sorted(r.id for r in again.collect()) == [1, 2]
        commit2()
        assert store.read().count() == 2
        # double-commit (crash-after-commit redelivery) changes nothing
        # semantically: duplicate hashes can't alter a left-anti join
        commit()
        b2 = spark.createDataFrame([(9, "aaa"), (10, "ccc")], "doc_id long, text string")
        assert sorted(
            r.id for r in incremental_exact_dedup(b2, store).collect()
        ) == [10]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {store.table_name}")


# ------------------------------------------- r7 skew/size guards ----


def _append_raw(spark, store, rows):
    """Force rows into the store bypassing greedy acceptance (to build
    pathological store states the guards must then handle)."""
    store.append(*store.rows(spark.createDataFrame(rows, DOC_SCHEMA)))


def test_incremental_neardup_guard_equivalent_off_pathology(spark, tmp_path):
    """On non-pathological data the max_bucket guard changes nothing:
    guarded and unguarded increments accept the same docs and report the
    same pairs."""
    batches = [
        [(1, BASE), (2, NEAR), (3, OTHER)],
        [(10, NEAR), (11, OTHER), (12, THIRD)],
    ]
    results = []
    for name, mb in (("g", 1000), ("u", None)):
        store = SignatureStore(spark, str(tmp_path / name))
        out = []
        for b in batches:
            r = incremental_neardup(
                spark.createDataFrame(b, DOC_SCHEMA), store, max_bucket=mb
            )
            out.append((sorted(_ids(r.accepted)), r.pairs))
        results.append(out)
    assert results[0] == results[1]


def test_incremental_neardup_template_cluster_bounded(spark, tmp_path):
    """The r6-soak blowup shape: a template cluster inside one batch.
    With the hot-bucket guard the increment completes with BOUNDED pair
    work (template docs are kept, the documented tradeoff); unguarded it
    trips the max_pairs driver bound and raises with guidance instead of
    collecting the quadratic pair set."""
    template = [(i, "identical template boilerplate page " * 3) for i in range(200)]
    distinct = [(1000, BASE), (1001, OTHER), (1002, THIRD)]
    batch = spark.createDataFrame(template + distinct, DOC_SCHEMA)

    store = SignatureStore(spark, str(tmp_path / "g"))
    r = incremental_neardup(batch, store, max_bucket=50)
    # template bucket (200 > 50) excluded -> all template docs kept
    assert len(_ids(r.accepted)) == 203 and r.pairs == []

    store2 = SignatureStore(spark, str(tmp_path / "u"))
    with pytest.raises(ValueError, match="max_pairs"):
        incremental_neardup(
            batch, store2, max_bucket=None, max_pairs=1000
        )  # 200-doc cluster -> 19900 intra pairs > 1000


def test_incremental_neardup_hot_bucket_in_store(spark, tmp_path):
    """A template cluster living in the STORE (accumulated history) is
    guarded by the COMBINED count: a new probe matching it is excluded
    from candidates and accepted rather than joined against the whole
    cluster."""
    store = SignatureStore(spark, str(tmp_path / "s"))
    tpl = "accumulated template boilerplate from many prior crawls " * 2
    _append_raw(spark, store, [(i, tpl) for i in range(60)])

    probe = spark.createDataFrame([(999, tpl), (1000, OTHER)], DOC_SCHEMA)
    r = incremental_neardup(probe, store, max_bucket=30)
    assert _ids(r.accepted) == [999, 1000] and r.pairs == []
    # and WITHOUT the guard the same probe is rejected against history
    store2 = SignatureStore(spark, str(tmp_path / "s2"))
    _append_raw(spark, store2, [(i, tpl) for i in range(60)])
    r2 = incremental_neardup(probe, store2, max_bucket=None)
    assert _ids(r2.accepted) == [1000]
    assert [(d, k) for d, k, _ in r2.pairs] == [(999, 0)]


def test_incremental_neardup_store_hit_evidence_same_row(spark, tmp_path):
    """ADVICE r6: kept_id and est_jaccard must come from the SAME best
    candidate — max est, tie-break min kept_id — not independent
    min(kept_id)/max(est) aggregates. Store doc 1 (moderate overlap with
    the probe) and doc 2 (near-exact): the reported pair must be
    (probe, 2, est(probe,2)), not kept_id=1 wearing doc 2's est."""
    half = "the quick brown fox jumps over the lazy dog near the old barn "
    other_half = "while rain hammers the tin roof and the river rises slowly "
    probe_text = half + other_half
    store = SignatureStore(spark, str(tmp_path / "s"))
    _append_raw(spark, store, [(1, half + "completely different tail content here")])
    _append_raw(spark, store, [(2, probe_text + "x")])

    probe = spark.createDataFrame([(50, probe_text)], DOC_SCHEMA)
    r = incremental_neardup(probe, store, threshold=0.2)
    assert len(r.pairs) == 1
    d, k, est = r.pairs[0]
    assert (d, k) == (50, 2)
    assert est > 0.9  # doc 2's evidence, not doc 1's moderate est


# --------------------------------------- r7 components resolution ----


def test_incremental_components_basic(spark, tmp_path):
    """resolve='components' on sparse data: cluster {1,2} keeps the min
    id, rejects arrive as a DataFrame (pairs stays empty), and the next
    increment dedups against the store like greedy would."""
    store = SignatureStore(spark, str(tmp_path / "store"))
    b1 = spark.createDataFrame([(1, BASE), (2, NEAR), (3, OTHER)], DOC_SCHEMA)
    r1 = incremental_neardup(b1, store, resolve="components", count_store=True)
    assert _ids(r1.accepted) == [1, 3]
    assert r1.pairs == [] and r1.rejects is not None
    rej = sorted((r.dup_id, r.kept_id) for r in r1.rejects.collect())
    assert rej == [(2, 1)]
    assert r1.store_rows == 2

    b2 = spark.createDataFrame([(10, NEAR), (11, OTHER), (12, THIRD)], DOC_SCHEMA)
    r2 = incremental_neardup(b2, store, resolve="components", count_store=True)
    assert _ids(r2.accepted) == [12]
    rej2 = sorted((r.dup_id, r.kept_id) for r in r2.rejects.collect())
    assert rej2 == [(10, 1), (11, 3)]


def test_incremental_components_store_tainted_cluster(spark, tmp_path):
    """A whole intra-batch cluster touching the store is rejected
    WHOLESALE against the stored survivor — here greedy and components
    agree (both reject 20 and 21 against stored doc 1), and the store
    gains nothing."""
    store = SignatureStore(spark, str(tmp_path / "store"))
    incremental_neardup(spark.createDataFrame([(1, BASE)], DOC_SCHEMA), store)

    b2 = spark.createDataFrame([(20, NEAR), (21, NEAR)], DOC_SCHEMA)
    r2 = incremental_neardup(b2, store, resolve="components", count_store=True)
    assert _ids(r2.accepted) == []
    rej = sorted((r.dup_id, r.kept_id) for r in r2.rejects.collect())
    assert rej == [(20, 1), (21, 1)]
    assert r2.store_rows == 1


def test_incremental_components_template_cluster_distributed(spark, tmp_path):
    """The 4.2B-pair blowup shape resolved WITHOUT guards and WITHOUT
    any driver-side pair collect: a 200-doc template cluster under
    resolve='components' keeps exactly the min id; rejects carry the
    direct-edge evidence for every member (all estimates 1.0 — every
    pair is a real near-dup here)."""
    template = [(i, "identical template boilerplate page " * 3) for i in range(100, 300)]
    distinct = [(1000, BASE), (1001, OTHER)]
    batch = spark.createDataFrame(template + distinct, DOC_SCHEMA)
    store = SignatureStore(spark, str(tmp_path / "store"))
    r = incremental_neardup(
        batch, store, max_bucket=None, max_pairs=1, resolve="components"
    )  # max_pairs=1 proves the driver bound is never consulted
    assert _ids(r.accepted) == [100, 1000, 1001]
    rej = r.rejects
    assert rej.count() == 199
    assert rej.filter(F.col("kept_id") != 100).count() == 0
    assert rej.filter(F.col("est") < 0.99).count() == 0


def test_incremental_resolve_validation(spark, tmp_path):
    store = SignatureStore(spark, str(tmp_path / "store"))
    with pytest.raises(ValueError, match="resolve"):
        incremental_neardup(
            spark.createDataFrame([(1, BASE)], DOC_SCHEMA), store, resolve="nope"
        )


# ----------------------------------------- r7 compaction + stats ----


def test_signature_store_compact_preserves_decisions(spark, tmp_path):
    """N appends -> compact -> identical dedup decisions, fewer files,
    same distinct-row count. Twin stores: one compacted between
    increments, one not; increment 3 must behave identically on both."""
    batches = [
        [(1, BASE), (2, NEAR), (3, OTHER)],
        [(10, THIRD), (11, BASE + " extra tail"), (12, OTHER + " and more")],
    ]
    probe = [(20, NEAR), (21, THIRD), (22, "fresh unseen text about nothing at all here")]

    stores = {}
    for name in ("c", "u"):
        s = SignatureStore(spark, str(tmp_path / name))
        for b in batches:
            incremental_neardup(spark.createDataFrame(b, DOC_SCHEMA), s)
        stores[name] = s

    st_before = stores["c"].stats()
    assert st_before["files"] > st_before["bands"]  # 2 appends -> >=2 files/band
    rpt = stores["c"].compact()
    st_after = stores["c"].stats()
    assert rpt["files_after"] < rpt["files_before"]
    assert st_after["files"] == st_after["bands"]  # 1 file per band at this size
    assert st_after["rows"] == st_before["rows"]

    r_c = incremental_neardup(spark.createDataFrame(probe, DOC_SCHEMA), stores["c"], count_store=True)
    r_u = incremental_neardup(spark.createDataFrame(probe, DOC_SCHEMA), stores["u"], count_store=True)
    assert _ids(r_c.accepted) == _ids(r_u.accepted) == [22]
    assert r_c.pairs == r_u.pairs
    assert r_c.store_rows == r_u.store_rows


@pytest.mark.parametrize("kind", ["signature", "window"])
def test_signature_store_compact_respects_target_bytes(spark, tmp_path, kind):
    """Both band stores compact through the one Hadoop-FS kernel, here
    on a ``file://`` URI store path: a tiny target_file_bytes keeps
    multiple files per band (no pointless merge below the threshold), a
    huge one merges to 1 per band, and the distinct rows are kept."""
    import hashlib

    from xdump_spark.operators.spans import (
        WindowHashStore,
        incremental_span_flags,
    )

    path = (tmp_path / kind).as_uri()
    if kind == "signature":
        s = SignatureStore(spark, path)
        increment = lambda b: incremental_neardup(b, s)  # noqa: E731
    else:
        s = WindowHashStore(spark, path)
        increment = lambda b: incremental_span_flags(b, s, k=4)  # noqa: E731

    def text(i, j):  # unrelated docs: every increment accepts all
        return " ".join(
            hashlib.md5(f"{i}.{j}.{n}".encode()).hexdigest()[:8]
            for n in range(24)
        )

    for i in range(2):
        increment(spark.createDataFrame(
            [(100 * i + j, text(i, j)) for j in range(3)], DOC_SCHEMA
        ))
    before = s.stats()["files"]
    rows = sorted(s.read().distinct().collect())
    rpt = s.compact(target_file_bytes=1)  # every file already >= 1 byte
    assert rpt["files_after"] == before and rpt["bands_compacted"] == 0
    rpt2 = s.compact()  # default 128 MB >> store size -> full merge
    assert rpt2["files_after"] == s.stats()["bands"] < before
    assert sorted(s.read().distinct().collect()) == rows


def test_signature_store_scheme_marker(spark, tmp_path):
    """num_perm, bands, shingle_k and the signature formula are the
    store's scheme, kept in one JSON marker. An increment, probe or
    append under another scheme, or against a tampered or markerless
    store, raises with rebuild guidance (before the marker, a re-sent
    document was accepted as novel with no error). Compaction and
    retention keep the marker."""
    import json

    from xdump_spark import fsutil

    store = SignatureStore(spark, str(tmp_path / "s"))
    for rows in ([(1, BASE)], [(3, OTHER)]):
        incremental_neardup(spark.createDataFrame(rows, DOC_SCHEMA), store)
    marker = fsutil.join(store.path, "_scheme.json")
    scheme = json.loads(fsutil.read_text(spark, marker))
    assert scheme == {
        "kind": "signature", "formula": "minhash-byte-shingle-xxhash64-band-v1",
        "num_perm": 128, "bands": 32, "shingle_k": 5,
    }
    resent = spark.createDataFrame([(10, BASE)], DOC_SCHEMA)

    def rejected():
        r = incremental_neardup(resent, store, defer_commit=True)
        return _ids(r.accepted) == [] and r.pairs[0][:2] == (10, 1)

    assert rejected()  # at the store's own scheme

    def refused(want, **kw):
        with pytest.raises(ValueError, match=want):
            incremental_neardup(resent, store, **kw)
        with pytest.raises(ValueError, match="rebuild the store"):
            store.probe(resent, **kw)
        with pytest.raises(ValueError, match="rebuild the store"):
            store.append(*store.rows(resent, **kw))

    refused("'bands': 16", bands=16)
    refused("'shingle_k': 3", shingle_k=3)

    # maintenance needs no scheme and keeps the marker
    assert store.compact()["bands_compacted"] > 0
    assert store.delete_ids([3])["bands_rewritten"] > 0
    assert json.loads(fsutil.read_text(spark, marker)) == scheme
    assert rejected()

    fsutil.write_text_atomic(spark, marker, "minhash-v0")  # not JSON
    refused("minhash-v0")
    fsutil.delete(spark, marker)
    refused("no scheme marker")


def test_exact_hash_store_compact(spark, tmp_path):
    """Appends pile up files; compact() rewrites to one file per bucket,
    preserves every dedup decision, and keeps the bucketed no-shuffle
    plan property (history scan stays `Bucketed: true`, one Exchange)."""
    import re
    import uuid

    from xdump_spark.operators.incremental import (
        ExactHashStore,
        content_hashes,
        incremental_exact_dedup,
    )

    name = f"seen_{uuid.uuid4().hex[:8]}"
    store = ExactHashStore(spark, name, n_buckets=4, path=str(tmp_path / name))
    try:
        for i in range(3):
            incremental_exact_dedup(
                spark.createDataFrame(
                    [(100 * i + j, f"doc {i}-{j % 8}") for j in range(12)],
                    DOC_SCHEMA,
                ),
                store,
            )
        before = store.stats()
        assert before["files"] > store.n_buckets
        rpt = store.compact()
        after = store.stats()
        assert rpt["files_after"] <= store.n_buckets
        assert after["rows"] == before["rows"]

        # decisions preserved: re-sent docs all dup, one fresh accepted
        probe = spark.createDataFrame(
            [(900, "doc 0-0"), (901, "doc 2-7"), (902, "doc brand new")],
            DOC_SCHEMA,
        )
        accepted, commit = incremental_exact_dedup(store=store, new_docs=probe, defer_commit=True)
        assert [r.id for r in accepted.collect()] == [902]

        # plan property survives compaction
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            batch = (
                content_hashes(probe)
                .repartition(store.n_buckets, "h1", "h2")
                .groupBy("h1", "h2")
                .agg(F.min("id").alias("id"))
            )
            j = batch.join(store.read(), ["h1", "h2"], "left_anti")
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert len(re.findall(r"Exchange hashpartitioning\([^)]*\)", plan)) == 1, plan
            assert "Bucketed: true" in plan, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {store.table_name}")


def test_exact_hash_store_refuses_other_bucket_count(spark, tmp_path):
    """ExactHashStore needs no scheme marker: its catalog table records
    the bucketing. An append at another ``n_buckets`` raises Spark's own
    AnalysisException, and a dedup read through a handle at another
    ``n_buckets`` decides the same."""
    import uuid

    from pyspark.errors import AnalysisException

    from xdump_spark.operators.incremental import (
        ExactHashStore,
        content_hashes,
        incremental_exact_dedup,
    )

    name = f"seen_{uuid.uuid4().hex[:8]}"
    loc = str(tmp_path / name)
    store = ExactHashStore(spark, name, n_buckets=8, path=loc)
    try:
        incremental_exact_dedup(
            spark.createDataFrame([(1, "aaa"), (2, "bbb")], DOC_SCHEMA), store
        )
        other = ExactHashStore(spark, name, n_buckets=4, path=loc)
        b2 = spark.createDataFrame([(9, "aaa"), (10, "ccc")], DOC_SCHEMA)
        with pytest.raises(AnalysisException, match="bucketing"):
            other.append(content_hashes(b2).select("h1", "h2"))
        accepted, _ = incremental_exact_dedup(b2, other, defer_commit=True)
        assert _ids(accepted) == [10]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_exact_hash_store_compact_respects_target_bytes(spark, tmp_path):
    """r13 verdict What's-wrong #4c: compact takes the store family's
    standard target_file_bytes knob — a tiny target skips the
    pointless merge (SignatureStore semantics), a mid target splits
    each bucket across multiple files WITHOUT losing the bucketed
    no-shuffle plan property, and the default still merges toward one
    file per bucket."""
    import re
    import uuid

    from xdump_spark.operators.incremental import (
        ExactHashStore,
        content_hashes,
        incremental_exact_dedup,
    )

    name = f"seen_{uuid.uuid4().hex[:8]}"
    store = ExactHashStore(spark, name, n_buckets=4, path=str(tmp_path / name))
    try:
        for i in range(3):
            incremental_exact_dedup(
                spark.createDataFrame(
                    [(100 * i + j, f"doc {i}-{j}") for j in range(12)],
                    DOC_SCHEMA,
                ),
                store,
            )
        before = store.stats()
        assert before["files"] > 2 * store.n_buckets

        # tiny target: every bucket already "needs" more files than it
        # has — no pointless merge
        rpt = store.compact(target_file_bytes=1)
        assert rpt["files_after"] == before["files"]

        # mid target: two files per bucket (total/(target·N) in (1,2])
        target = before["bytes"] // 7
        rpt2 = store.compact(target_file_bytes=target)
        assert rpt2["files_after"] <= 2 * store.n_buckets
        after = store.stats()
        assert after["rows"] == before["rows"]

        # dedup decisions and the bucketed plan survive a
        # multi-file-per-bucket layout
        probe = spark.createDataFrame(
            [(900, "doc 0-0"), (901, "doc new here")], DOC_SCHEMA
        )
        accepted, commit = incremental_exact_dedup(
            store=store, new_docs=probe, defer_commit=True
        )
        assert [r.id for r in accepted.collect()] == [901]
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            batch = (
                content_hashes(probe)
                .repartition(store.n_buckets, "h1", "h2")
                .groupBy("h1", "h2")
                .agg(F.min("id").alias("id"))
            )
            j = batch.join(store.read(), ["h1", "h2"], "left_anti")
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert len(
                re.findall(r"Exchange hashpartitioning\([^)]*\)", plan)
            ) == 1, plan
            assert "Bucketed: true" in plan, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

        # default target (128 MB >> store): full merge to one per bucket
        rpt3 = store.compact()
        assert rpt3["files_after"] <= store.n_buckets
        assert store.stats()["rows"] == before["rows"]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {store.table_name}")


# --------------------------------------- r7 semantic (vector) store ----


EMB = "/root/testdata/sf0.001/embeddings.parquet"


def _vids(df):
    return sorted(r.id for r in df.collect())


def test_incremental_semantic_basic_two_batches(spark, tmp_path):
    """Crafted two-increment flow: within-batch dup resolved min-id,
    re-sent near-dup of a STORED vector rejected with evidence, novel
    vector accepted; store grows only by survivors."""
    from xdump_spark.operators.incremental import (
        VectorStore,
        incremental_semantic_dedup,
    )

    store = VectorStore(spark, str(tmp_path / "vs"))
    b1 = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.999, 0.01, 0.0]), (3, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    r1 = incremental_semantic_dedup(
        b1, store, threshold=0.98, n_cells=2, count_store=True
    )
    assert _vids(r1.accepted) == [1, 3]
    rej1 = {(r.dup_id, r.kept_id) for r in r1.rejects.collect()}
    assert rej1 == {(2, 1)}
    assert r1.store_rows == 2

    b2 = spark.createDataFrame(
        [(10, [0.998, 0.02, 0.0]),   # near stored 1
         (11, [0.01, 0.999, 0.0]),   # near stored 3
         (12, [0.0, 0.0, 1.0])],     # novel
        "vec_id long, embedding array<double>",
    )
    r2 = incremental_semantic_dedup(
        b2, store, threshold=0.98, n_cells=2, count_store=True
    )
    assert _vids(r2.accepted) == [12]
    rej2 = {(r.dup_id, r.kept_id) for r in r2.rejects.collect()}
    assert rej2 == {(10, 1), (11, 3)}
    assert r2.store_rows == 3
    for r in r2.rejects.collect():
        assert r.est >= 0.98


def test_incremental_semantic_single_batch_equals_semdedup(spark, tmp_path):
    """A fresh store's first increment must accept exactly the one-shot
    semantic_dedup(keep='min_id') survivors — same seed, same cells,
    same per-cell semantics."""
    from xdump_spark.operators.incremental import (
        VectorStore,
        incremental_semantic_dedup,
    )
    from xdump_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(EMB).limit(300)
    store = VectorStore(spark, str(tmp_path / "vs"))
    r = incremental_semantic_dedup(emb, store, threshold=0.35, n_cells=4)
    one_shot = semantic_dedup(
        emb, threshold=0.35, n_cells=4, keep="min_id"
    ).filter("is_survivor")
    assert _vids(r.accepted) == sorted(v.vec_id for v in one_shot.collect())
    assert r.rejects.count() == 300 - len(_vids(r.accepted))


def test_incremental_semantic_defer_commit_and_guard(spark, tmp_path):
    from xdump_spark.operators.incremental import (
        VectorStore,
        incremental_semantic_dedup,
    )

    emb = spark.read.parquet(EMB).limit(100)
    store = VectorStore(spark, str(tmp_path / "vs"))
    r = incremental_semantic_dedup(
        emb, store, threshold=0.35, n_cells=4, defer_commit=True
    )
    assert r.store_rows == -1 and store.exists()
    # nothing appended yet: a re-run accepts the same set
    r2 = incremental_semantic_dedup(
        emb, store, threshold=0.35, n_cells=4, defer_commit=True
    )
    assert _vids(r.accepted) == _vids(r2.accepted)
    r2.commit()
    # now every re-sent vector is rejected against history
    r3 = incremental_semantic_dedup(emb, store, threshold=0.35, n_cells=4)
    assert _vids(r3.accepted) == []

    with pytest.raises(Exception, match="max_cell"):
        incremental_semantic_dedup(
            spark.read.parquet(EMB).limit(60),
            VectorStore(spark, str(tmp_path / "vs2")),
            threshold=0.35, n_cells=2, max_cell=5,
        ).accepted.count()


def test_vector_store_stats_and_compact(spark, tmp_path):
    """N increments pile files per cell; compact() shrinks them with
    identical subsequent decisions and unchanged row count."""
    from xdump_spark.operators.incremental import (
        VectorStore,
        incremental_semantic_dedup,
    )

    emb = spark.read.parquet(EMB)
    store = VectorStore(spark, str(tmp_path / "vs"))
    for i in range(3):
        incremental_semantic_dedup(
            emb.filter(f"vec_id % 3 = {i}"), store, threshold=0.35, n_cells=4
        )
    before = store.stats()
    assert before["files"] > before["cells"]
    rpt = store.compact()
    after = store.stats()
    assert rpt["files_after"] < rpt["files_before"]
    assert after["rows"] == before["rows"]
    # decisions preserved: every stored vector re-sent is rejected
    r = incremental_semantic_dedup(emb, store, threshold=0.35, n_cells=4)
    assert r.accepted.count() == 0


def test_vector_store_retrain_clears_drift(spark, tmp_path):
    """r7 verdict #4 e2e: a drifted store trips ivf_balance, retrain
    clears it with membership preserved exactly, and post-retrain
    increments agree with a fresh-store twin."""
    from xdump_spark.operators.incremental import (
        VectorStore,
        incremental_semantic_dedup,
    )
    from xdump_spark.operators.similarity import ivf_balance

    def batch(rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    store = VectorStore(spark, str(tmp_path / "vs"))
    # first increment fits 2 centroids on ±x clusters (frozen)
    b1 = [(i, [1.0, 0.02 * i, 0.0]) for i in range(3)] + [
        (10 + i, [-1.0, 0.02 * i, 0.0]) for i in range(3)
    ]
    incremental_semantic_dedup(batch(b1), store, threshold=0.9999, n_cells=2)
    # drift: three new clusters in the x=0 plane — all collapse into one
    # of the two frozen cells (occupancy skew, the retrain trigger)
    drift = (
        [(100 + i, [0.0, 1.0, 0.02 * i]) for i in range(6)]
        + [(200 + i, [0.02 * i, 0.0, 1.0]) for i in range(6)]
        + [(300 + i, [0.02 * i, 1.0, 1.0]) for i in range(6)]
    )
    incremental_semantic_dedup(batch(drift), store, threshold=0.9999, n_cells=2)
    before = store.stats()
    assert ivf_balance(store.index(), hot_cell_factor=1.5)[
        "retrain_recommended"
    ]

    members_before = sorted(
        r["neighbor_id"] for r in store.index().assigned.collect()
    )
    rpt = store.retrain(n_cells=5)
    assert rpt == {"n_cells": 5, "rows": before["rows"], "generation": 1}
    # membership preserved EXACTLY; occupancy healthy again
    idx = store.index()
    assert sorted(r["neighbor_id"] for r in idx.assigned.collect()) == members_before
    assert len(idx.centers) == 5
    # occupancy healthy again at the DEFAULT trigger (k=2 can never trip
    # the 4x default — max/mean is bounded by 2 — hence the 1.5 above)
    assert not ivf_balance(idx)["retrain_recommended"]
    bal = ivf_balance(idx, hot_cell_factor=1.5)
    assert bal["max_cell"] < before["rows"] - 5  # hot cell actually split
    # old generation swept, meta names the new dir
    import os

    names = os.listdir(tmp_path / "vs")
    assert "assigned_g1" in names and "assigned" not in names

    # a second retrain bumps the generation and sweeps g1
    store.retrain(n_cells=3)
    names = os.listdir(tmp_path / "vs")
    assert "assigned_g2" in names and "assigned_g1" not in names

    # post-retrain increment vs a fresh-store twin seeded with the same
    # accepted vectors and the same geometry
    twin = VectorStore(spark, str(tmp_path / "twin"))
    stored_rows = [
        (int(r["neighbor_id"]), list(r["cv"]))
        for r in store.index().assigned.collect()
    ]
    incremental_semantic_dedup(
        batch(stored_rows), twin, threshold=0.9999, n_cells=3
    )
    nxt = (
        [(900, [1.0, 0.0, 0.0])]        # colinear dup of stored vec 0
        + [(901, [1.0, -1.0, 0.0])]     # novel direction
    )
    ra = incremental_semantic_dedup(batch(nxt), store, threshold=0.9999, n_cells=3)
    rb = incremental_semantic_dedup(batch(nxt), twin, threshold=0.9999, n_cells=3)
    assert _vids(ra.accepted) == _vids(rb.accepted) == [901]


def test_streaming_semantic_ingest_two_drops(spark, tmp_path):
    """Two parquet drops through the semantic streaming ingest with
    hash-trick embeddings (no external encoder): dedup holds across
    drops via the persistent VectorStore, rejects carry cosine
    evidence, a drained re-run appends nothing, and the SAME store
    rejects the docs when they arrive later via the batch API."""
    from xdump_spark.operators.incremental import (
        VectorStore,
        incremental_semantic_dedup,
        streaming_semantic_ingest,
    )
    from xdump_spark.operators.text import hash_embed_frame

    inp = tmp_path / "drops"
    inp.mkdir()
    store = VectorStore(spark, str(tmp_path / "vs"))
    out = str(tmp_path / "out")

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("jumps", "leaps")
    other = "distributed query engines shuffle data between executor stages"

    def drop(name, rows):
        spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
            str(inp / name)
        )

    def run():
        q = streaming_semantic_ingest(
            spark, str(inp) + "/*", store, out, str(tmp_path / "ckpt"),
            threshold=0.6, n_cells=2, hash_embed_dim=256,
            rejects_dir=str(tmp_path / "rejects"),
            schema="doc_id long, text string",
        )
        q.awaitTermination(120)

    drop("day1", [(1, base), (2, near), (3, other)])
    run()
    got1 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert len(got1) == 2 and 3 in got1 and len(got1 & {1, 2}) == 1
    rej = spark.read.parquet(str(tmp_path / "rejects")).collect()
    assert len(rej) == 1 and rej[0]["est"] >= 0.6

    # drop 2: a re-send of the base text (store dup) + genuinely new
    drop("day2", [(10, base), (11, "completely new content about parquet row groups")])
    run()
    got2 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got2 == got1 | {11}

    # drained re-run: nothing new consumed, nothing appended
    run()
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == got2

    # the SAME store serves the batch API: a batch re-send rejects
    batch = spark.createDataFrame([(100, near)], "doc_id long, text string")
    emb = hash_embed_frame(batch, dim=256)
    res = incremental_semantic_dedup(
        batch.join(emb, "doc_id"), store, threshold=0.6, id_col="doc_id",
    )
    assert res.accepted.count() == 0


# ------------------------------------------ r9 atomic meta commit ----


def _fresh_semantic_store(spark, path):
    """A VectorStore with two committed increments (so retrain works)."""
    from xdump_spark.operators.incremental import (
        VectorStore,
        incremental_semantic_dedup,
    )

    store = VectorStore(spark, str(path))
    b1 = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    incremental_semantic_dedup(b1, store, threshold=0.98, n_cells=2)
    b2 = spark.createDataFrame(
        [(3, [0.0, 0.0, 1.0]), (4, [1.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    incremental_semantic_dedup(b2, store, threshold=0.98, n_cells=2)
    return store


def test_vector_store_meta_commit_is_atomic_file(spark, tmp_path):
    """r8 verdict #1: the liveness-bearing meta must be a single file
    written tmp+rename, never a Spark mode('overwrite') directory."""
    import os

    store = _fresh_semantic_store(spark, tmp_path / "vs")
    meta_file = tmp_path / "vs" / "meta.json"
    assert meta_file.is_file() and not (tmp_path / "vs" / "meta").exists()
    meta = store._meta()
    assert meta["n_cells"] == 2 and len(meta["centers"]) == 2
    # retrain rewrites through the same atomic path
    store.retrain(n_cells=3)
    assert meta_file.is_file() and not (tmp_path / "vs" / "meta").exists()
    assert store._meta()["generation"] == 1


def test_vector_store_retrain_crash_window_keeps_old_generation(
    spark, tmp_path, monkeypatch
):
    """Crash-window e2e: a retrain that dies before the meta rename
    leaves the OLD generation fully live — the store must NOT silently
    re-fit fresh centroids on the next increment (the r8 finding's
    failure mode), and the orphan generation dir is swept later."""
    from xdump_spark import fsutil
    from xdump_spark.operators.incremental import incremental_semantic_dedup

    store = _fresh_semantic_store(spark, tmp_path / "vs")
    old_meta = store._meta()

    real = fsutil.write_text_atomic

    def boom(spark_, path, text):
        raise IOError("simulated crash before the meta rename")

    monkeypatch.setattr(fsutil, "write_text_atomic", boom)
    with pytest.raises(IOError, match="simulated crash"):
        store.retrain(n_cells=3)
    monkeypatch.setattr(fsutil, "write_text_atomic", real)

    # old meta intact: same centers, same generation, store still exists
    assert store.exists()
    after = store._meta()
    assert after["centers"] == old_meta["centers"]
    assert after.get("generation") == old_meta.get("generation")
    # next increment runs against the OLD geometry, not a silent re-fit:
    # a re-sent stored vector is rejected and the centers are unchanged
    probe = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    r = incremental_semantic_dedup(probe, store, threshold=0.98, n_cells=2)
    assert r.accepted.count() == 0
    assert store._meta()["centers"] == old_meta["centers"]
    # the crash left an orphan generation dir; a successful retrain
    # sweeps it and commits atomically
    import os

    orphans = [
        n for n in os.listdir(tmp_path / "vs") if n.startswith("assigned_g")
    ]
    assert orphans == ["assigned_g1"]
    store.retrain(n_cells=2)
    names = os.listdir(tmp_path / "vs")
    assert "assigned_g1" in names  # re-used generation number, now live
    assert store._meta()["generation"] == 1


def test_vector_store_meta_dir_only_raises(spark, tmp_path):
    """A store directory holding a Spark-JSON ``meta/`` dir but no
    ``meta.json`` (the store format before the single-file meta) raises
    with rebuild guidance: read as "no store", the next increment would
    silently re-fit a fresh store over the old cells."""
    import json

    from xdump_spark.operators.incremental import incremental_semantic_dedup

    store = _fresh_semantic_store(spark, tmp_path / "vs")
    meta = (tmp_path / "vs" / "meta.json").read_text()
    (tmp_path / "vs" / "meta").mkdir()
    (tmp_path / "vs" / "meta" / "part-00000.json").write_text(
        json.dumps({"meta": meta}) + "\n"
    )
    (tmp_path / "vs" / "meta.json").unlink()

    with pytest.raises(ValueError, match="rebuild the store"):
        store.exists()
    probe = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="rebuild the store"):
        incremental_semantic_dedup(probe, store, threshold=0.98, n_cells=2)
    assert not (tmp_path / "vs" / "meta.json").exists()


def test_incremental_semantic_count_store_flag(spark, tmp_path):
    """The default (r10 flip) skips the full-store reporting count
    (store_rows -1); count_store=True opts back in — with identical
    decisions either way."""
    from xdump_spark.operators.incremental import (
        VectorStore,
        incremental_semantic_dedup,
    )

    emb = spark.read.parquet(EMB).limit(100)
    a = VectorStore(spark, str(tmp_path / "a"))
    b = VectorStore(spark, str(tmp_path / "b"))
    ra = incremental_semantic_dedup(
        emb, a, threshold=0.35, n_cells=4, count_store=True
    )
    rb = incremental_semantic_dedup(emb, b, threshold=0.35, n_cells=4)
    assert rb.store_rows == -1 and ra.store_rows >= 0
    assert _vids(ra.accepted) == _vids(rb.accepted)
    # the store was still committed: a re-send rejects everything
    r2 = incremental_semantic_dedup(
        emb, b, threshold=0.35, n_cells=4, count_store=False
    )
    assert r2.accepted.count() == 0


def test_incremental_neardup_count_store_flag(spark, tmp_path):
    from xdump_spark.operators.incremental import (
        SignatureStore,
        incremental_neardup,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "totally different words in this one here")],
        "doc_id long, text string",
    )
    store = SignatureStore(spark, str(tmp_path / "sig"))
    r = incremental_neardup(docs, store)  # default: no full-store count
    assert r.store_rows == -1
    assert store.exists()  # committed despite the skipped count


def test_vector_store_float32_storage_option(spark, tmp_path):
    """r8 verdict #4: opt-in float32 on-disk vectors — half the store
    bytes, float64 compute, decisions identical on non-borderline data,
    dtype recorded in meta and authoritative over later ctor args."""
    from xdump_spark.operators.incremental import (
        VectorStore,
        incremental_semantic_dedup,
    )

    emb = spark.read.parquet(EMB).limit(200)
    f64 = VectorStore(spark, str(tmp_path / "f64"))
    f32 = VectorStore(spark, str(tmp_path / "f32"), dtype="float32")
    for batch in (emb.filter("vec_id % 2 = 0"), emb.filter("vec_id % 2 = 1")):
        ra = incremental_semantic_dedup(batch, f64, threshold=0.35, n_cells=4)
        rb = incremental_semantic_dedup(batch, f32, threshold=0.35, n_cells=4)
        assert _vids(ra.accepted) == _vids(rb.accepted)

    assert f32._meta()["dtype"] == "float32"
    # on-disk schema is float; reads upcast to double
    raw = spark.read.parquet(str(tmp_path / "f32" / "assigned"))
    assert dict(raw.dtypes)["cv"] == "array<float>"
    assert dict(f32.index().assigned.dtypes)["cv"] == "array<double>"
    # the bytes actually halve (vector column dominates at dim=64)
    sa, sb = f64.stats(), f32.stats()
    assert sa["rows"] == sb["rows"] > 0
    assert sb["bytes"] < 0.75 * sa["bytes"]

    # a later open with the DEFAULT ctor dtype still appends float32
    # (the meta wins for the store's life)
    reopened = VectorStore(spark, str(tmp_path / "f32"))
    probe = spark.read.parquet(EMB).filter("vec_id >= 200").limit(20)
    incremental_semantic_dedup(probe, reopened, threshold=0.35, n_cells=4)
    raw = spark.read.parquet(str(tmp_path / "f32" / "assigned"))
    assert dict(raw.dtypes)["cv"] == "array<float>"

    # retrain preserves the precision across generations
    reopened.retrain(n_cells=3)
    assert reopened._meta()["dtype"] == "float32"
    gen = spark.read.parquet(str(tmp_path / "f32" / "assigned_g1"))
    assert dict(gen.dtypes)["cv"] == "array<float>"
    # and the retrained store still rejects re-sent history
    r = incremental_semantic_dedup(probe, reopened, threshold=0.35, n_cells=4)
    assert r.accepted.count() == 0

    with pytest.raises(ValueError, match="dtype"):
        VectorStore(spark, str(tmp_path / "x"), dtype="float16")


def _clustered_vectors(spark, n_protos=4, per=10, dim=32, noise=1e-3,
                       seed=11, start_id=0):
    """Prototype-clustered vectors — the manifold-structured shape real
    embeddings have (and the shape PQ codebooks are FOR; on pure random
    gaussians reconstruction cosine drops to ~0.8 by design)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    protos = rng.standard_normal((n_protos, dim))
    protos /= np.linalg.norm(protos, axis=1)[:, None]
    rows = []
    for i in range(n_protos * per):
        v = protos[i % n_protos] + noise * rng.standard_normal(dim)
        rows.append((start_id + i, [float(x) for x in v]))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ), protos


def test_vector_store_pq_storage_option(spark, tmp_path):
    """r9 verdict #1: dtype='pq' stores product-quantized CODES — the
    8-32x store-bytes step beyond float32. On clustered data (the
    regime PQ is for) decisions match a float64 twin; codebook in the
    atomic meta; meta authoritative over later ctor dtypes."""
    from xdump_spark.operators.incremental import (
        VectorStore,
        incremental_semantic_dedup,
    )

    import numpy as np

    # 100 prototypes → 100 survivors: enough rows that parquet file
    # overhead does not mask the bytes comparison
    b1, protos = _clustered_vectors(spark, n_protos=100, per=2, start_id=0)
    # batch 2 RE-SENDS half the prototypes under fresh ids (jittered):
    # every row must reject against the stored history in both stores
    rng = np.random.default_rng(12)
    b2 = spark.createDataFrame(
        [(1000 + i, [float(x) for x in protos[i % 50] +
                     1e-3 * rng.standard_normal(32)])
         for i in range(60)],
        "vec_id long, embedding array<double>",
    )

    pq = VectorStore(spark, str(tmp_path / "pq"), dtype="pq", pq_m=8)
    f64 = VectorStore(spark, str(tmp_path / "f64"))
    for batch in (b1, b2):
        rp = incremental_semantic_dedup(batch, pq, threshold=0.9, n_cells=4)
        rf = incremental_semantic_dedup(batch, f64, threshold=0.9, n_cells=4)
        assert _vids(rp.accepted) == _vids(rf.accepted)
    # batch 2 re-sent stored prototypes only: nothing new was accepted
    assert pq.read_cells(list(range(4))).count() == 100

    meta = pq._meta()
    assert meta["dtype"] == "pq"
    cb = meta["codebook"]
    assert cb["m"] == 8 and cb["dim"] == 32
    # on-disk schema is codes + the exact-vector hash; reads decode
    # to (cv, cn) with vh riding along
    raw = spark.read.parquet(str(tmp_path / "pq" / "assigned"))
    assert dict(raw.dtypes) == {
        "neighbor_id": "bigint", "codes": "array<smallint>",
        "vh": "bigint", "cell": "int",
    }
    dec = pq.index().assigned
    assert dict(dec.dtypes)["cv"] == "array<double>"
    assert dict(dec.dtypes)["cn"] == "double"
    # codes are dramatically smaller than raw vectors
    sp, sf = pq.stats(), f64.stats()
    assert sp["rows"] == sf["rows"] == 100
    assert sp["bytes"] < 0.6 * sf["bytes"]

    # meta wins over a later ctor dtype; appends stay codes
    reopened = VectorStore(spark, str(tmp_path / "pq"))  # default ctor
    b3, _ = _clustered_vectors(spark, n_protos=2, per=3, start_id=2000,
                               seed=99)
    incremental_semantic_dedup(b3, reopened, threshold=0.9, n_cells=4)
    raw = spark.read.parquet(str(tmp_path / "pq" / "assigned"))
    assert dict(raw.dtypes)["codes"] == "array<smallint>"


def test_vector_store_pq_retrain_code_lossless(spark, tmp_path):
    """The frozen codebook makes retrain a pure re-bucket: every
    vector's CODES survive the decode → refit → encode cycle
    bit-identically (a reconstruction's nearest codeword is itself), so
    repeated retrains never compound quantization error."""
    from xdump_spark.operators.incremental import (
        VectorStore,
        incremental_semantic_dedup,
    )

    b1, protos = _clustered_vectors(spark, n_protos=6, per=8, start_id=0)
    pq = VectorStore(spark, str(tmp_path / "pq"), dtype="pq", pq_m=4)
    incremental_semantic_dedup(b1, pq, threshold=0.9, n_cells=3)

    apath = pq._assigned_path()
    before = {r["neighbor_id"]: list(r["codes"])
              for r in spark.read.parquet(apath).collect()}
    rpt = pq.retrain(n_cells=5)
    assert rpt["generation"] == 1 and rpt["n_cells"] == 5
    after = {r["neighbor_id"]: list(r["codes"])
             for r in spark.read.parquet(pq._assigned_path()).collect()}
    assert before == after
    assert pq._meta()["codebook"]["m"] == 4  # codebook untouched

    # the retrained store still rejects a re-sent prototype member
    probe = spark.createDataFrame(
        [(9000, [float(x) for x in protos[0]])],
        "vec_id long, embedding array<double>",
    )
    r = incremental_semantic_dedup(probe, pq, threshold=0.9, n_cells=3)
    assert r.accepted.count() == 0


def test_vector_store_pq_exact_resend_always_rejects(spark, tmp_path):
    """The sf10 soak finding (SCALE.md r10): on unstructured vectors a
    coarse codebook reconstructs at ~0.8 cosine, so a BYTE-IDENTICAL
    re-send scored against its own stored reconstruction slipped a 0.9
    threshold. The vh exact-hash channel must catch it at est 1.0
    regardless of codebook quality — a HARD guarantee while the
    generation's centroids stand (same exact vector, same argmin cell
    as its stored twin). After a RETRAIN the stored side is re-bucketed
    by reconstruction, so re-sends whose quantization crossed a cell
    boundary escape scoping — the documented scope-churn caveat
    (float32's 0.5% class at quantization-sized epsilon); this test
    pins the worst-case number on adversarial data so it cannot grow
    silently."""
    import numpy as np

    from xdump_spark.operators.incremental import (
        VectorStore,
        incremental_semantic_dedup,
    )

    # adversarial data: random gaussians (full-rank, worst case for PQ)
    # and a deliberately tiny codebook
    rng = np.random.default_rng(3)
    V = rng.standard_normal((30, 64))
    b1 = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    pq = VectorStore(spark, str(tmp_path / "pq"), dtype="pq", pq_m=8, pq_k=4)
    r1 = incremental_semantic_dedup(b1, pq, threshold=0.95, n_cells=2)
    n_stored = r1.accepted.count()
    assert n_stored == 30  # gaussians: nothing near anything

    # byte-exact re-send under fresh ids: every row must reject with
    # est 1.0 even though recon cosine is far below the threshold
    resend = spark.createDataFrame(
        [(1000 + i, [float(x) for x in V[i]]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    r2 = incremental_semantic_dedup(resend, pq, threshold=0.95, n_cells=2)
    assert r2.accepted.count() == 0
    rej = r2.rejects.collect()
    assert len(rej) == 30 and all(r.est == 1.0 for r in rej)
    assert {r.kept_id for r in rej} == set(range(30))

    # post-retrain: hashes pass through re-bucketing verbatim, so the
    # channel still fires for every re-send scoped with its twin; the
    # few whose reconstruction crossed a cell boundary on this
    # worst-case data escape — the documented churn. The exact count
    # is 3 on a quiet run but KMeans|| init is sensitive to
    # file-listing/scheduling order (observed 3-4 under a loaded
    # suite), so the pin is an UPPER BOUND: the churn class must stay
    # small and every non-escaped re-send must carry est 1.0. The
    # exact_guard test below pins the guarded count at a HARD 0,
    # which IS order-independent (the global hash probe doesn't
    # depend on cell geometry).
    pq.retrain(n_cells=3)
    r3 = incremental_semantic_dedup(resend, pq, threshold=0.95, n_cells=2)
    escapes = r3.accepted.count()
    assert escapes <= 5, escapes
    rej3 = r3.rejects.collect()
    assert len(rej3) == 30 - escapes and all(r.est == 1.0 for r in rej3)


def test_vector_store_search_float_and_pq(spark, tmp_path):
    """The dedup store doubles as the retrieval index: store.search on
    a float64 store (full probes) and on a pq store with a memorizing
    codebook both reproduce brute-force cosine_topk exactly over the
    STORED vectors."""
    from xdump_spark.operators.incremental import (
        VectorStore,
        incremental_semantic_dedup,
    )
    from xdump_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(EMB).limit(120)
    queries = emb.filter("vec_id % 40 = 0")
    f64 = VectorStore(spark, str(tmp_path / "f64"))
    pq = VectorStore(spark, str(tmp_path / "pq"), dtype="pq",
                     pq_m=8, pq_k=100_000)
    ra = incremental_semantic_dedup(emb, f64, threshold=0.999, n_cells=4)
    rb = incremental_semantic_dedup(emb, pq, threshold=0.999, n_cells=4)
    stored_ids = {r["id"] for r in ra.accepted.collect()}
    assert stored_ids == {r["id"] for r in rb.accepted.collect()}

    corpus = emb.filter(F.col("vec_id").isin([int(i) for i in stored_ids]))
    want = {
        (r.query_id, r.rn): (r.neighbor_id, r.cosine_sim)
        for r in cosine_topk(corpus, queries, k=3).collect()
    }
    got_f = {
        (r.query_id, r.rn): (r.neighbor_id, r.cosine_sim)
        for r in f64.search(queries, k=3, n_probe=4).collect()
    }
    assert got_f == want
    got_p = {
        (r.query_id, r.rn): (r.neighbor_id, r.pq_sim)
        for r in pq.search(queries, k=3, n_probe=4).collect()
    }
    assert got_p == want


def test_vector_store_pq_m_clamps_to_dim_divisor(spark, tmp_path):
    """pq_m must tile the vector dim exactly; a dim-30 store with the
    default m=8 clamps to 6 (the largest divisor <= 8)."""
    from xdump_spark.operators.incremental import (
        VectorStore,
        incremental_semantic_dedup,
    )

    b, _ = _clustered_vectors(spark, n_protos=3, per=4, dim=30)
    pq = VectorStore(spark, str(tmp_path / "pq"), dtype="pq", pq_m=8)
    incremental_semantic_dedup(b, pq, threshold=0.9, n_cells=2)
    assert pq._meta()["codebook"]["m"] == 6


def test_vector_store_pq_search_rerank_exact_scores(spark, tmp_path):
    """search(rerank=, corpus=) on a pq store — the IVFADC+R accuracy
    recovery when the caller still holds the raw embeddings: ADC
    shortlist, exact cosine rescoring, results equal brute-force
    cosine_topk even under a deliberately COARSE codebook."""
    from xdump_spark.operators.incremental import (
        VectorStore,
        incremental_semantic_dedup,
    )
    from xdump_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(EMB).limit(120)
    queries = emb.filter("vec_id % 40 = 0")
    pq = VectorStore(spark, str(tmp_path / "pq"), dtype="pq",
                     pq_m=8, pq_k=8)  # coarse: plain ADC ranks drift
    r = incremental_semantic_dedup(emb, pq, threshold=0.999, n_cells=4)
    stored_ids = {x["id"] for x in r.accepted.collect()}
    corpus = emb.filter(F.col("vec_id").isin([int(i) for i in stored_ids]))

    want = {
        (x.query_id, x.rn): (x.neighbor_id, x.cosine_sim)
        for x in cosine_topk(corpus, queries, k=3).collect()
    }
    got = {
        (x.query_id, x.rn): (x.neighbor_id, x.cosine_sim)
        for x in pq.search(
            queries, k=3, n_probe=4, rerank=50, corpus=corpus
        ).collect()
    }
    assert got == want


def test_vector_store_search_empty_shell_no_ops(spark, tmp_path):
    """A meta-shell store (first increment crashed before its commit)
    must answer search with a TYPED empty frame, not a scan error —
    the scheduled-job posture stats()/compact() already follow."""
    from xdump_spark.operators.incremental import VectorStore

    store = VectorStore(spark, str(tmp_path / "vs"), dtype="pq")
    store._write_meta({"centers": [[1.0, 0.0]], "n_cells": 1,
                       "dtype": "pq",
                       "codebook": {"dim": 2, "m": 1, "k": 1,
                                    "centroids": [[[1.0, 0.0]]]}})
    q = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    out = store.search(q, k=3)
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "pq_sim", "rn"]

    f64 = VectorStore(spark, str(tmp_path / "f64"))
    f64._write_meta({"centers": [[1.0, 0.0]], "n_cells": 1,
                     "dtype": "float64"})
    out2 = f64.search(q, k=3)
    assert out2.count() == 0
    assert out2.columns == ["query_id", "neighbor_id", "cosine_sim", "rn"]


def test_vector_store_exact_guard_closes_retrain_slips(spark, tmp_path):
    """r10 verdict #2: ``exact_guard=True`` folds the "chain an
    ExactHashStore on the vector bytes upstream" recipe into the store.
    Same adversarial setup as test_vector_store_pq_exact_resend_always_
    rejects — where the UNGUARDED store lets ~3/30 re-sends slip after
    a retrain (bounded there, exact count KMeans||-order-sensitive) —
    but with the guard on: ZERO slips, a HARD order-independent bound,
    every re-send rejected at est 1.0 against its true stored twin,
    and non-resend decisions identical to the unguarded twin."""
    import numpy as np

    from xdump_spark.operators.incremental import (
        VectorStore,
        incremental_semantic_dedup,
    )

    rng = np.random.default_rng(3)
    V = rng.standard_normal((30, 64))
    b1 = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    pq = VectorStore(spark, str(tmp_path / "pq"), dtype="pq", pq_m=8,
                     pq_k=4, exact_guard=True)
    r1 = incremental_semantic_dedup(b1, pq, threshold=0.95, n_cells=2)
    assert r1.accepted.count() == 30
    assert pq.stats()["exact_guard"] is True

    resend = spark.createDataFrame(
        [(1000 + i, [float(x) for x in V[i]]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    # pre-retrain: guard and in-cell vh channel agree — all 30 reject
    r2 = incremental_semantic_dedup(resend, pq, threshold=0.95, n_cells=2)
    assert r2.accepted.count() == 0

    # post-retrain: the unguarded twin lets ~3 slip on this fixture
    # (bounded in the _always_rejects test); the guard closes it
    pq.retrain(n_cells=3)
    r3 = incremental_semantic_dedup(resend, pq, threshold=0.95, n_cells=2)
    assert r3.accepted.count() == 0
    rej3 = r3.rejects.collect()
    assert len(rej3) == 30 and all(r.est == 1.0 for r in rej3)
    assert {(r.dup_id, r.kept_id) for r in rej3} == {
        (1000 + i, i) for i in range(30)
    }

    # guard setting survives reopen without the flag (meta wins)
    reopened = VectorStore(spark, str(tmp_path / "pq"))
    assert reopened.guard_enabled() is True
    r4 = incremental_semantic_dedup(
        spark.createDataFrame(
            [(2000 + i, [float(x) for x in V[i]]) for i in range(5)],
            "vec_id long, embedding array<double>",
        ),
        reopened, threshold=0.95, n_cells=2,
    )
    assert r4.accepted.count() == 0


def test_vector_store_vectors_serves_floats(spark, tmp_path):
    """r12: a float store serves its own (id, vector) table —
    ``vectors()`` returns exactly the stored floats (float32 upcast at
    read like every exit point), raises on pq stores (codes only) and
    on a store with no committed data (the id type is unknowable),
    and ``mmr_rerank`` collapses crash-window duplicate rows."""
    import numpy as np

    from xdump_spark.operators.incremental import (
        VectorStore,
        incremental_semantic_dedup,
    )
    from xdump_spark.operators.retrieval import mmr_rerank

    rng = np.random.default_rng(13)
    V = rng.standard_normal((8, 4))
    frame = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    st = VectorStore(spark, str(tmp_path / "f32"), dtype="float32")
    incremental_semantic_dedup(frame, st, threshold=0.9999, n_cells=2)
    got = {r["vec_id"]: r["embedding"] for r in st.vectors().collect()}
    assert set(got) == set(range(8))
    assert dict(st.vectors().dtypes)["embedding"] == "array<double>"
    for i in range(8):
        assert np.allclose(got[i], V[i], atol=1e-6)  # float32 precision

    pq = VectorStore(spark, str(tmp_path / "pq"), dtype="pq",
                     pq_m=2, pq_k=4)
    incremental_semantic_dedup(frame, pq, threshold=0.9999, n_cells=2)
    with pytest.raises(ValueError, match="CODES"):
        pq.vectors()
    with pytest.raises(ValueError, match="no vectors"):
        VectorStore(spark, str(tmp_path / "none")).vectors()

    # duplicate candidate rows (the crash-window family contract)
    # collapse inside the MMR kernel: result identical to clean input
    hits = spark.createDataFrame(
        [(0, i, 1.0 - 0.1 * i) for i in range(4)],
        "query_id int, doc_id long, score double",
    )
    vecs = st.vectors()  # (vec_id, embedding) — mmr_rerank's defaults
    clean = mmr_rerank(hits, vecs, k=3, lam=0.6, score_col="score").collect()
    dup = mmr_rerank(hits, vecs.unionByName(vecs), k=3, lam=0.6,
                     score_col="score").collect()
    assert sorted(map(tuple, dup)) == sorted(map(tuple, clean))


def test_vector_store_vectors_pq_reconstruction_opt_in(spark, tmp_path):
    """r12 verdict "What's missing #2": a pq store serves PQ
    reconstructions as DIVERSITY vectors via
    ``vectors(reconstructed=True)`` — closing the last side-table
    dependency (``search --mmr`` on a pq layout needed ``--corpus``).
    The default still raises (quantized "vectors" must be an opt-in);
    the served rows equal an independent numpy replay of
    ``pq_reconstruct`` over the stored codes; reconstruction cosine to
    the originals is ≥0.9 on manifold-shaped data; and store-served pq
    MMR selects the same ids as the corpus-fed run on a
    well-separated fixture."""
    import numpy as np

    from xdump_spark.operators.incremental import (
        VectorStore,
        incremental_semantic_dedup,
    )
    from xdump_spark.operators.pq import PQCodebook, pq_reconstruct
    from xdump_spark.operators.retrieval import mmr_rerank

    frame, protos = _clustered_vectors(spark, n_protos=4, per=6, dim=32)
    st = VectorStore(spark, str(tmp_path / "pq"), dtype="pq",
                     pq_m=8, pq_k=16)
    incremental_semantic_dedup(frame, st, threshold=0.9999, n_cells=2)
    n_stored = st.read_cells([0, 1]).select("neighbor_id").distinct().count()

    with pytest.raises(ValueError, match="allow-recon"):
        st.vectors()  # default unchanged: explicit opt-in required

    got = {
        r["vec_id"]: np.asarray(r["embedding"])
        for r in st.vectors(reconstructed=True).collect()
    }
    assert len(got) == n_stored

    # independent replay: gather the stored codes and reconstruct with
    # the codebook frozen in the meta — must match bit-for-bit
    cb = PQCodebook.from_dict(st._meta()["codebook"])
    codes = {
        r["neighbor_id"]: r["codes"]
        for r in spark.read.parquet(st._assigned_path())
        .select("neighbor_id", "codes").collect()
    }
    originals = {
        r["vec_id"]: np.asarray(r["embedding"]) for r in frame.collect()
    }
    cents = cb.matrices()
    for vid, rec in got.items():
        want = pq_reconstruct(
            np.asarray([codes[vid]]), cb, cents
        )[0]
        assert np.allclose(rec, want)
        v = originals[vid]
        cos = float(rec @ v / (np.linalg.norm(rec) * np.linalg.norm(v)))
        assert cos >= 0.9, (vid, cos)

    # store-served pq MMR == corpus-fed MMR selection on this fixture:
    # candidates span the 4 well-separated prototypes, so the greedy
    # diversity choice is robust to reconstruction error
    stored_ids = sorted(got)
    cands = [i for i in stored_ids[:8]]
    hits = spark.createDataFrame(
        [(0, int(i), 1.0 - 0.01 * j) for j, i in enumerate(cands)],
        "query_id int, doc_id long, score double",
    )
    corpus_vecs = frame.filter(F.col("vec_id").isin(cands))
    from_corpus = [
        (r.doc_id, r.rnk)
        for r in mmr_rerank(
            hits, corpus_vecs, k=4, lam=0.5, score_col="score"
        ).collect()
    ]
    from_store = [
        (r.doc_id, r.rnk)
        for r in mmr_rerank(
            hits, st.vectors(reconstructed=True), k=4, lam=0.5,
            score_col="score",
        ).collect()
    ]
    assert sorted(from_store) == sorted(from_corpus)


def test_retention_delete_broadcast_guard(spark, tmp_path):
    """r11 verdict "What's missing #2": every retention delete used to
    broadcast the doomed frame UNCONDITIONALLY — a mass-retention
    request (1e8 ids) would blow the broadcast or the driver. The
    ``_delete_side`` guard broadcasts only while the request fits the
    driver budget and degrades to a shuffle join past it; results are
    identical either way."""
    import numpy as np

    from xdump_spark import cutover
    from xdump_spark.operators import incremental as I
    from xdump_spark.operators.incremental import (
        VectorStore,
        incremental_semantic_dedup,
    )

    # plan pin, small path: broadcast hint present (unchanged behavior)
    # — the HINT is the pin (the tiny test frames would auto-broadcast
    # by statistics either way; at 1e8 ids statistics exceed the
    # auto-broadcast threshold and only the hint could force it)
    big = spark.range(1000).withColumnRenamed("id", "neighbor_id")
    doomed = spark.range(10).withColumnRenamed("id", "neighbor_id")
    plan_small = (
        big.join(I._delete_side(doomed), "neighbor_id", "left_anti")
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "strategy=broadcast" in plan_small

    # plan pin, mass-retention path: no broadcast hint on the doomed side
    with cutover.budget(5 * I._DELETE_ID_BYTES):
        plan_large = (
            big.join(I._delete_side(doomed), "neighbor_id", "left_anti")
            ._jdf.queryExecution().optimizedPlan().toString()
        )
    assert "strategy=broadcast" not in plan_large

    # end-to-end over the shuffle path: a VectorStore delete past the
    # threshold still deletes exactly the requested ids
    rng = np.random.default_rng(5)
    V = rng.standard_normal((12, 8))
    st = VectorStore(spark, str(tmp_path / "v"))
    incremental_semantic_dedup(
        spark.createDataFrame(
            [(i, [float(x) for x in V[i]]) for i in range(12)],
            "vec_id long, embedding array<double>",
        ),
        st, threshold=0.99, n_cells=2,
    )
    with cutover.budget(5 * I._DELETE_ID_BYTES):
        rpt = st.delete_ids(list(range(8)))  # 8 > a budget of 5 ids
    assert rpt["deleted_rows"] == 8
    left = {
        r["neighbor_id"]
        for r in spark.read.parquet(st._assigned_path())
        .select("neighbor_id").collect()
    }
    assert left == {8, 9, 10, 11}


def test_exact_guard_probe_skipped_for_empty_increment(spark, tmp_path):
    """r11 verdict Next #7: the guard probe's whole-store scan costs
    ~1 s of scheduling even for a no-op batch — an increment that is
    EMPTY (post-upstream-dedup) must never launch it. The decision
    output is unchanged: empty accepted/rejects."""
    from unittest.mock import patch

    import numpy as np

    from xdump_spark.operators.incremental import (
        VectorStore,
        incremental_semantic_dedup,
    )

    rng = np.random.default_rng(7)
    V = rng.standard_normal((10, 16))
    b1 = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    st = VectorStore(spark, str(tmp_path / "g"), exact_guard=True)
    incremental_semantic_dedup(b1, st, threshold=0.9, n_cells=2)

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with patch.object(
        VectorStore, "probe_hashes", autospec=True,
        side_effect=AssertionError("probe must not run on an empty batch"),
    ):
        r = incremental_semantic_dedup(empty, st, threshold=0.9, n_cells=2)
        assert r.accepted.count() == 0 and r.rejects.count() == 0

    # sanity: a NON-empty batch still routes through the probe
    called = []
    real = VectorStore.probe_hashes

    def spy(self, batch):
        called.append(1)
        return real(self, batch)

    with patch.object(VectorStore, "probe_hashes", spy):
        r2 = incremental_semantic_dedup(
            spark.createDataFrame(
                [(100, [float(x) for x in V[0]])],
                "vec_id long, embedding array<double>",
            ),
            st, threshold=0.9, n_cells=2,
        )
        assert r2.accepted.count() == 0  # exact re-send rejected
    assert called


def test_vector_store_exact_guard_decisions_otherwise_identical(
    spark, tmp_path
):
    """With no byte-identical re-sends in play, a guarded store makes
    EXACTLY the decisions an unguarded one does (the guard only adds
    the global hash channel; cosine semantics are untouched). Also
    pins the float-store guard: vh is stored, survives a retrain
    verbatim, and delete_ids makes a deleted vector's re-send novel
    again (retention composes with the guard for free)."""
    import numpy as np

    from xdump_spark.operators.incremental import (
        VectorStore,
        incremental_semantic_dedup,
    )

    rng = np.random.default_rng(11)
    base = rng.standard_normal((20, 16))
    # batch 2: 6 near-dups of stored rows (small perturbation — NOT
    # byte-identical) + 4 novel far-away rows
    near = base[:6] + rng.standard_normal((6, 16)) * 0.01
    novel = rng.standard_normal((4, 16)) * 2 + 8

    def frame(ids, rows):
        return spark.createDataFrame(
            [(int(i), [float(x) for x in r]) for i, r in zip(ids, rows)],
            "vec_id long, embedding array<double>",
        )

    def run(store):
        incremental_semantic_dedup(
            frame(range(20), base), store, threshold=0.9, n_cells=3
        )
        r = incremental_semantic_dedup(
            frame(range(100, 110), list(near) + list(novel)),
            store, threshold=0.9, n_cells=3,
        )
        return (
            sorted(x["id"] for x in r.accepted.collect()),
            sorted(
                (x.dup_id, x.kept_id, x.est) for x in r.rejects.collect()
            ),
        )

    guarded = run(
        VectorStore(spark, str(tmp_path / "g"), exact_guard=True)
    )
    plain = run(VectorStore(spark, str(tmp_path / "p")))
    assert guarded == plain

    # float-store guard across retrain + retention
    st = VectorStore(spark, str(tmp_path / "g"))
    assert st.guard_enabled() and st.stats()["dtype"] == "float64"
    st.retrain(n_cells=5, seed=9)
    resend = frame([500], [base[0]])
    r = incremental_semantic_dedup(resend, st, threshold=0.9, n_cells=3)
    assert r.accepted.count() == 0  # vh survived the retrain
    rej = r.rejects.collect()
    assert rej[0].kept_id == 0 and rej[0].est == 1.0

    st.delete_ids([0])
    r2 = incremental_semantic_dedup(
        frame([501], [base[0]]), st, threshold=0.9, n_cells=3
    )
    # 0 is forgotten: its exact re-send is novel again unless a live
    # near-dup still covers it (base rows are gaussian-independent)
    assert sorted(x["id"] for x in r2.accepted.collect()) == [501]
