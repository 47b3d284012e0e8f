"""BM25 retrieval: exact scores vs a pure-Python reference, invariants,
and the plan shape that makes it scale."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from xdump_spark.operators.retrieval import (
    bm25_search,
    bm25_topk,
    build_text_index,
    terms_of,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick quick fox"),
    (3, "lazy dogs sleep all day, lazy and slow"),
    (4, "brown bears eat honey; the bears are brown"),
    (5, "   "),  # zero-term doc: counts toward N and avgdl only
    (6, "Fox! fox? FOX... fox"),
]


def _py_tokens(s):
    import re

    return [t for t in re.split(r"[^a-z0-9]+", s.lower()) if t]


def _py_bm25(docs, query, k1=1.2, b=0.75):
    """Independent pure-Python BM25 (same formula family, written from
    the Robertson definition, not from the operator)."""
    toks = {i: _py_tokens(t) for i, t in docs}
    n = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / n
    df = {}
    for ts in toks.values():
        for t in set(ts):
            df[t] = df.get(t, 0) + 1
    scores = {}
    qts = _py_tokens(query)
    for term in set(qts):
        qtf = qts.count(term)
        if term not in df:
            continue
        idf = math.log(1 + (n - df[term] + 0.5) / (df[term] + 0.5))
        for i, ts in toks.items():
            tf = ts.count(term)
            if not tf:
                continue
            dl = len(ts)
            part = qtf * idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
            # the operator quantizes each per-term part to 1e-6
            scores[i] = scores.get(i, 0.0) + round(part, 6)
    return scores


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id int, text string")


def test_index_stats_count_zero_term_docs(spark, docs_df):
    idx = build_text_index(docs_df)
    assert idx.n_docs == 6
    total_terms = sum(len(_py_tokens(t)) for _, t in DOCS)
    assert idx.avgdl == pytest.approx(total_terms / 6)
    # zero-term doc produces no postings
    assert idx.postings.filter("id = 5").count() == 0


def test_postings_tf_and_df(spark, docs_df):
    idx = build_text_index(docs_df)
    rows = {(r["term"], r["id"]): (r["tf"], r["dl"]) for r in idx.postings.collect()}
    assert rows[("fox", 6)] == (4, 4)
    assert rows[("quick", 2)] == (2, 4)
    assert rows[("the", 1)][0] == 2
    df = {r["term"]: r["df"] for r in idx.term_stats.collect()}
    assert df["fox"] == 3 and df["brown"] == 2 and df["honey"] == 1


def test_scores_match_pure_python(spark, docs_df):
    got = {
        (r["query_id"], r["doc_id"]): r["score"]
        for r in bm25_search(spark, docs_df, ["quick fox", "lazy brown dog"], k=10).collect()
    }
    for qid, q in enumerate(["quick fox", "lazy brown dog"]):
        expect = _py_bm25(DOCS, q)
        mine = {d: s for (g, d), s in got.items() if g == qid}
        assert set(mine) == set(expect)
        for d, s in expect.items():
            assert mine[d] == pytest.approx(s, abs=2e-6), (qid, d)


def test_repeated_query_terms_weight_qtf(spark, docs_df):
    one = bm25_search(spark, docs_df, ["honey"], k=10).collect()
    twice = bm25_search(spark, docs_df, ["honey honey"], k=10).collect()
    assert len(one) == len(twice) == 1
    assert twice[0]["score"] == pytest.approx(2 * one[0]["score"], abs=2e-6)


def test_topk_rank_and_tiebreak(spark, docs_df):
    res = bm25_search(spark, docs_df, ["fox"], k=2).orderBy("rnk").collect()
    assert [r["rnk"] for r in res] == [1, 2]
    assert res[0]["score"] >= res[1]["score"]
    # identical docs tie on score -> lower doc_id wins
    dup = spark.createDataFrame(
        [(10, "alpha beta"), (11, "alpha beta"), (12, "gamma")],
        "doc_id int, text string",
    )
    r = bm25_search(spark, dup, ["alpha"], k=1).collect()
    assert r[0]["doc_id"] == 10


def test_unknown_terms_and_empty_query(spark, docs_df):
    assert bm25_search(spark, docs_df, ["zzz qqq"], k=5).count() == 0
    assert bm25_search(spark, docs_df, ["!!!"], k=5).count() == 0


def test_partition_invariance(spark, docs_df):
    a = bm25_search(spark, docs_df, ["quick fox", "lazy dog"], k=10)
    b_docs = docs_df.repartition(7, "text")
    b = bm25_search(spark, b_docs, ["quick fox", "lazy dog"], k=10)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_plan_shape(spark, docs_df):
    """Scale pins: both query-side joins broadcast, no cartesian product,
    no Python eval anywhere (tokenizer is codegen)."""
    idx = build_text_index(docs_df)
    queries = spark.createDataFrame([(0, "quick fox")], "query_id int, query string")
    plan = bm25_topk(idx, queries, k=3)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_terms_of_matches_python(spark):
    df = spark.createDataFrame(
        [("Hello, World-42!  foo_bar",)], "t string"
    ).select(terms_of(F.col("t")).alias("a"))
    assert df.collect()[0]["a"] == ["hello", "world", "42", "foo", "bar"]


# ------------------------------------------- r7 persist/load round-trip ----


def test_index_save_load_hash_identical(spark, docs_df, tmp_path):
    """A loaded index answers bm25_topk HASH-identically to the freshly
    built one, with no re-tokenize of the corpus in the query plan, and
    the postings scan pruned to the queried terms' hash buckets."""
    from xdump_spark.operators.retrieval import TextIndex, save_text_index

    queries = spark.createDataFrame(
        [(0, "quick fox"), (1, "lazy brown dog")], "query_id int, query string"
    )
    built = build_text_index(docs_df)
    fresh = sorted(
        (r.query_id, r.doc_id, r.score, r.rnk)
        for r in bm25_topk(built, queries, k=3).collect()
    )

    save_text_index(built, str(tmp_path / "idx"), n_tbuckets=8)
    loaded = TextIndex.load(spark, str(tmp_path / "idx"))
    assert (loaded.n_docs, loaded.avgdl, loaded.id_col, loaded.n_tbuckets) == (
        built.n_docs, built.avgdl, built.id_col, 8,
    )
    out = bm25_topk(loaded, queries, k=3)
    again = sorted(
        (r.query_id, r.doc_id, r.score, r.rnk) for r in out.collect()
    )
    assert again == fresh

    plan = out._jdf.queryExecution().executedPlan().toString()
    # no re-tokenize: the loaded query path must not re-split corpus text
    # (the only splits allowed are the tiny query-side tokenizer ones,
    # which read the in-memory queries frame, never a parquet text scan)
    scans = [l for l in plan.splitlines() if "Scan parquet" in l or "FileScan" in l]
    # every file scan reads index frames (term/df/tf/dl...), never text
    assert scans and all("text:string" not in s for s in scans), scans
    import re as _re

    pf = _re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("_tbucket" in f for f in pf), pf


def test_index_save_load_unknown_version_and_missing_manifest(spark, tmp_path):
    from xdump_spark.operators.retrieval import (
        load_text_index,
        save_text_index,
    )

    docs = spark.createDataFrame([(1, "a b c")], "doc_id int, text string")
    idx = build_text_index(docs)
    save_text_index(idx, str(tmp_path / "i2"), n_tbuckets=2)
    # corrupt the version
    from xdump_spark import fsutil

    fsutil.write_text_atomic(
        spark, str(tmp_path / "i2" / "index.json"), '{"version": 99}'
    )
    with pytest.raises(ValueError, match="version"):
        load_text_index(spark, str(tmp_path / "i2"))
    # a v2 manifest (the pre-string-key format) is refused with rebuild
    # guidance, not read
    import json

    p3 = str(tmp_path / "i3")
    save_text_index(idx, p3, n_tbuckets=2)
    mf = fsutil.join(p3, "index.json")
    man = json.loads(fsutil.read_text_atomic(spark, mf))
    fsutil.write_text_atomic(spark, mf, json.dumps({**man, "version": 2}))
    with pytest.raises(ValueError, match="rebuild with save_text_index"):
        load_text_index(spark, p3)
    # a half-written index (no manifest yet) is not loadable
    with pytest.raises(Exception):
        load_text_index(spark, str(tmp_path / "never_written"))


def test_index_append_exact_and_compact(spark, docs_df, tmp_path):
    """r7 segments: build(A)+append(B) answers bm25_topk HASH-identically
    to a fresh build over A∪B; compact() merges segments to one with
    identical answers and fewer seg dirs; orphan (uncommitted) segment
    dirs are invisible to load."""
    from xdump_spark import fsutil
    from xdump_spark.operators.retrieval import (
        append_text_index,
        compact_text_index,
        load_text_index,
        save_text_index,
    )

    a = docs_df.filter("doc_id <= 3")
    b = docs_df.filter("doc_id > 3")
    queries = spark.createDataFrame(
        [(0, "quick fox"), (1, "lazy brown dog")], "query_id int, query string"
    )
    want = sorted(
        (r.query_id, r.doc_id, r.score, r.rnk)
        for r in bm25_topk(build_text_index(docs_df), queries, k=4).collect()
    )

    path = str(tmp_path / "idx")
    save_text_index(build_text_index(a), path, n_tbuckets=4)
    entry = append_text_index(spark, path, b)
    assert entry["seg"] == 1 and entry["n_docs"] == b.count()
    loaded = load_text_index(spark, path)
    assert loaded.n_docs == docs_df.count()
    got = sorted(
        (r.query_id, r.doc_id, r.score, r.rnk)
        for r in bm25_topk(loaded, queries, k=4).collect()
    )
    assert got == want

    # orphan segment (crash before manifest): invisible
    fsutil.mkdirs(spark, f"{path}/postings/seg=9")
    assert load_text_index(spark, path).n_docs == docs_df.count()

    rpt = compact_text_index(spark, path)
    assert rpt["segments_before"] == 2
    segs = [n for n in fsutil.list_names(spark, f"{path}/postings") if n.startswith("seg=")]
    assert segs == [f"seg={rpt['seg']}"]  # old + orphan dirs swept
    again = sorted(
        (r.query_id, r.doc_id, r.score, r.rnk)
        for r in bm25_topk(load_text_index(spark, path), queries, k=4).collect()
    )
    assert again == want


def test_index_delete_docs_equals_fresh_build_over_retained(
    spark, docs_df, tmp_path
):
    """r11 retention: delete_text_index_docs makes the reloaded index
    answer bm25_topk HASH-identically to a fresh build over the
    retained corpus — postings gone, df decremented, n_docs/total_dl/
    avgdl corrected (df/idf shifts included, not just row removal).
    Also: no-match no-op; old segment dirs swept; the deleted doc never
    surfaces again."""
    from xdump_spark import fsutil
    from xdump_spark.operators.retrieval import (
        append_text_index,
        delete_text_index_docs,
        load_text_index,
        save_text_index,
    )

    queries = spark.createDataFrame(
        [(0, "quick fox"), (1, "lazy brown dog")], "query_id int, query string"
    )
    path = str(tmp_path / "idx")
    # two segments so the delete exercises the multi-segment merge
    save_text_index(build_text_index(docs_df.filter("doc_id <= 3")), path,
                    n_tbuckets=4)
    append_text_index(spark, path, docs_df.filter("doc_id > 3"))

    # forget docs 2 and 6 (both match 'fox'/'quick' queries, so scores
    # AND ranks of the survivors must shift through df/avgdl)
    rpt = delete_text_index_docs(spark, path, [2, 6])
    assert rpt["deleted_docs"] == 2 and rpt["deleted_postings"] > 0

    want = sorted(
        (r.query_id, r.doc_id, round(r.score, 9), r.rnk)
        for r in bm25_topk(
            build_text_index(docs_df.filter("doc_id NOT IN (2, 6)")),
            queries, k=4,
        ).collect()
    )
    got = sorted(
        (r.query_id, r.doc_id, round(r.score, 9), r.rnk)
        for r in bm25_topk(load_text_index(spark, path), queries, k=4).collect()
    )
    assert got == want
    assert not any(d == 2 or d == 6 for _, d, _, _ in got)

    # single committed segment, old dirs swept
    segs = [n for n in fsutil.list_names(spark, f"{path}/postings")
            if n.startswith("seg=")]
    assert segs == [f"seg={rpt['seg']}"]

    # no-match request rewrites nothing (re-run-to-complete semantics)
    rpt2 = delete_text_index_docs(spark, path, [2, 999])
    assert rpt2["deleted_docs"] == 0 and rpt2["seg"] == rpt["seg"]

    # zero-term doc caveat: deleting doc 5 (whitespace text) is a
    # documented no-op — it has no postings to find
    rpt3 = delete_text_index_docs(spark, path, [5])
    assert rpt3["deleted_docs"] == 0


def test_index_delete_crash_window_keeps_old_index(spark, docs_df, tmp_path):
    """A crash BEFORE the manifest commit leaves the OLD index fully
    live (doomed docs still answer; the orphan merged segment is
    invisible), and re-running the delete completes it."""
    from unittest.mock import patch

    from xdump_spark import fsutil
    from xdump_spark.operators.retrieval import (
        delete_text_index_docs,
        load_text_index,
        save_text_index,
    )
    import xdump_spark.operators.retrieval as R

    path = str(tmp_path / "idx")
    save_text_index(build_text_index(docs_df), path, n_tbuckets=4)
    queries = spark.createDataFrame([(0, "quick fox")],
                                    "query_id int, query string")
    before = sorted(
        (r.query_id, r.doc_id, r.score, r.rnk)
        for r in bm25_topk(load_text_index(spark, path), queries, k=4).collect()
    )

    with patch.object(R, "_write_manifest",
                      side_effect=RuntimeError("crash before commit")):
        with pytest.raises(RuntimeError, match="crash"):
            delete_text_index_docs(spark, path, [2])
    # old index fully live, orphan segment invisible
    assert sorted(
        (r.query_id, r.doc_id, r.score, r.rnk)
        for r in bm25_topk(load_text_index(spark, path), queries, k=4).collect()
    ) == before

    # re-run completes: doc 2 gone, orphan + old dirs swept — AND the
    # result is hash-identical to a fresh build over the retained corpus
    # (ADVICE r11 high: the retry picks the SAME seg id as the crashed
    # attempt's complete orphan; an append into that dir would commit
    # BOTH copies and double every df, which doc-absence alone misses)
    rpt = delete_text_index_docs(spark, path, [2])
    assert rpt["deleted_docs"] == 1
    got = sorted(
        (r.query_id, r.doc_id, round(r.score, 9), r.rnk)
        for r in bm25_topk(load_text_index(spark, path), queries, k=4).collect()
    )
    want = sorted(
        (r.query_id, r.doc_id, round(r.score, 9), r.rnk)
        for r in bm25_topk(
            build_text_index(docs_df.filter("doc_id <> 2")), queries, k=4
        ).collect()
    )
    assert got == want
    segs = [n for n in fsutil.list_names(spark, f"{path}/postings")
            if n.startswith("seg=")]
    assert segs == [f"seg={rpt['seg']}"]
    # postings rows not duplicated either (belt and braces: the scores
    # above would already catch a doubled segment through df)
    n_postings = load_text_index(spark, path).postings.count()
    assert n_postings == build_text_index(
        docs_df.filter("doc_id <> 2")
    ).postings.count()


def test_index_delete_everything_stays_loadable(spark, docs_df, tmp_path):
    """Deleting every postings-bearing doc writes an EMPTY segment —
    partitionBy on an empty frame emits no part files, so without the
    manifest's empty flag + postings_schema the index would become
    unloadable (ADVICE r11 low). The index must stay loadable and
    queryable (zero hits), keep counting the zero-term doc in n_docs,
    and a later append must revive it."""
    from xdump_spark.operators.retrieval import (
        append_text_index,
        delete_text_index_docs,
        load_text_index,
        save_text_index,
    )

    path = str(tmp_path / "idx")
    save_text_index(build_text_index(docs_df), path, n_tbuckets=4)
    rpt = delete_text_index_docs(spark, path, [1, 2, 3, 4, 6])
    assert rpt["deleted_docs"] == 5

    loaded = load_text_index(spark, path)
    assert loaded.n_docs == 1  # the zero-term doc 5 keeps its count
    assert loaded.total_dl == 0 and loaded.avgdl == 0.0
    assert loaded.postings.count() == 0
    queries = spark.createDataFrame([(0, "quick fox")],
                                    "query_id int, query string")
    assert bm25_topk(loaded, queries, k=4).count() == 0

    # revive: append a fresh corpus; answers as a build over (zero-term
    # doc 5) + the new docs — df/idf must reflect n_docs = 1 + appended
    new_docs = docs_df.filter("doc_id IN (1, 2)")
    append_text_index(spark, path, new_docs)
    want = sorted(
        (r.query_id, r.doc_id, round(r.score, 9), r.rnk)
        for r in bm25_topk(
            build_text_index(docs_df.filter("doc_id IN (1, 2, 5)")),
            queries, k=4,
        ).collect()
    )
    got = sorted(
        (r.query_id, r.doc_id, round(r.score, 9), r.rnk)
        for r in bm25_topk(load_text_index(spark, path), queries, k=4).collect()
    )
    assert got == want


def test_save_refuses_in_place_rebuild(spark, docs_df, tmp_path):
    """save_text_index over an already-committed index would delete the
    committed seg=0 BEFORE the new manifest commits (_write_segment's
    orphan replacement) — a crash in that window breaks 'a half-written
    index is never loadable'. It must refuse with fresh-directory
    guidance instead."""
    from xdump_spark.operators.retrieval import save_text_index

    path = str(tmp_path / "idx")
    idx = build_text_index(docs_df)
    save_text_index(idx, path, n_tbuckets=4)
    with pytest.raises(ValueError, match="fresh directory"):
        save_text_index(idx, path, n_tbuckets=4)


def test_mmr_duplicate_ids_with_different_vectors_deterministic(spark):
    """Same-id candidate rows with DIFFERENT vectors (a chunk re-sent
    with changed content under its original id) must select the same
    keeper regardless of input row order — the kernel tie-breaks on
    the vector bytes, not arrival order."""
    from xdump_spark.operators.retrieval import mmr_rerank

    hits = spark.createDataFrame(
        [(0, 1, 1.0), (0, 2, 0.9), (0, 3, 0.8)],
        "query_id int, doc_id long, score double",
    )
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),  # same id, different vector
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
    ]
    a = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    b = spark.createDataFrame(rows[::-1],
                              "vec_id long, embedding array<double>")
    ra = sorted(map(tuple, mmr_rerank(
        hits, a, k=3, lam=0.5, score_col="score").collect()))
    rb = sorted(map(tuple, mmr_rerank(
        hits, b.repartition(7), k=3, lam=0.5, score_col="score"
    ).collect()))
    assert ra == rb


def test_index_all_zero_term_corpus_round_trips(spark, tmp_path):
    """A saved index over docs that produce NO postings at all (the
    empty-segment case at creation time, not retention) is loadable:
    n_docs/avgdl correct, queries answer empty."""
    from xdump_spark.operators.retrieval import (
        load_text_index,
        save_text_index,
    )

    docs = spark.createDataFrame(
        [(1, "   "), (2, "!!!")], "doc_id int, text string"
    )
    path = str(tmp_path / "idx")
    save_text_index(build_text_index(docs), path, n_tbuckets=4)
    loaded = load_text_index(spark, path)
    assert loaded.n_docs == 2 and loaded.total_dl == 0
    queries = spark.createDataFrame([(0, "anything")],
                                    "query_id int, query string")
    assert bm25_topk(loaded, queries, k=4).count() == 0


def test_index_append_crash_retry_does_not_duplicate_segment(
    spark, docs_df, tmp_path
):
    """ADVICE r11 high, append flavor: a crash between the segment
    write and the manifest commit leaves a complete orphan seg=N; the
    retry picks the SAME N — _write_segment must REPLACE the orphan,
    not append beside it (which would double every df/tf once the
    manifest commits)."""
    from unittest.mock import patch

    from xdump_spark.operators.retrieval import (
        append_text_index,
        load_text_index,
        save_text_index,
    )
    import xdump_spark.operators.retrieval as R

    path = str(tmp_path / "idx")
    save_text_index(build_text_index(docs_df.filter("doc_id <= 3")), path,
                    n_tbuckets=4)
    day2 = docs_df.filter("doc_id > 3")
    with patch.object(R, "_write_manifest",
                      side_effect=RuntimeError("crash before commit")):
        with pytest.raises(RuntimeError, match="crash"):
            append_text_index(spark, path, day2)
    # retry (the streaming checkpoint's redelivery path)
    append_text_index(spark, path, day2)

    queries = spark.createDataFrame(
        [(0, "quick fox"), (1, "lazy brown dog")], "query_id int, query string"
    )
    want = sorted(
        (r.query_id, r.doc_id, round(r.score, 9), r.rnk)
        for r in bm25_topk(build_text_index(docs_df), queries, k=4).collect()
    )
    got = sorted(
        (r.query_id, r.doc_id, round(r.score, 9), r.rnk)
        for r in bm25_topk(load_text_index(spark, path), queries, k=4).collect()
    )
    assert got == want
    assert load_text_index(spark, path).postings.count() == build_text_index(
        docs_df
    ).postings.count()


def test_streaming_index_ingest_two_drops(spark, docs_df, tmp_path):
    """r11 continuous indexing: two drops stream into the saved index
    and the loaded result answers bm25_topk HASH-identically to a
    fresh build over the union; a third empty run changes nothing; a
    re-delivered batch id no-ops (exactly-once via the manifest)."""
    from xdump_spark.operators.retrieval import (
        append_text_index,
        load_text_index,
        streaming_index_ingest,
    )

    inp = tmp_path / "drops"
    inp.mkdir()
    idx_path = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    queries = spark.createDataFrame(
        [(0, "quick fox"), (1, "lazy brown dog")], "query_id int, query string"
    )

    docs_df.filter("doc_id <= 3").write.parquet(str(inp / "day1"))
    q = streaming_index_ingest(spark, str(inp) + "/*", idx_path, ckpt)
    q.awaitTermination()
    assert load_text_index(spark, idx_path).n_docs == 3

    docs_df.filter("doc_id > 3").write.parquet(str(inp / "day2"))
    q = streaming_index_ingest(spark, str(inp) + "/*", idx_path, ckpt)
    q.awaitTermination()

    want = sorted(
        (r.query_id, r.doc_id, r.score, r.rnk)
        for r in bm25_topk(build_text_index(docs_df), queries, k=4).collect()
    )
    loaded = load_text_index(spark, idx_path)
    assert loaded.n_docs == docs_df.count()
    got = sorted(
        (r.query_id, r.doc_id, r.score, r.rnk)
        for r in bm25_topk(loaded, queries, k=4).collect()
    )
    assert got == want

    # drain with nothing new: index untouched
    q = streaming_index_ingest(spark, str(inp) + "/*", idx_path, ckpt)
    q.awaitTermination()
    assert load_text_index(spark, idx_path).n_docs == docs_df.count()

    # batch keys are SALTED with the streaming query id (ADVICE r11
    # medium: a bare epoch restarts at 0 under a recreated checkpoint
    # and would collide with committed ids, silently dropping data)
    import xdump_spark.operators.retrieval as R

    keys = [e["batch_id"] for e in
            R._read_manifest(spark, idx_path)["segments"]]
    assert all(
        isinstance(k, str) and k.rsplit(":", 1)[1].isdigit() for k in keys
    )
    # same checkpoint lineage → same writer id, consecutive epochs
    assert len({k.rsplit(":", 1)[0] for k in keys}) == 1
    assert sorted(int(k.rsplit(":", 1)[1]) for k in keys) == [0, 1]

    # redelivery of an already-committed batch key must NO-OP — a
    # double-applied index append is NOT harmless (df/n_docs double)
    man_batch = append_text_index(
        spark, idx_path, docs_df.filter("doc_id <= 3"), batch_id=keys[0]
    )
    assert load_text_index(spark, idx_path).n_docs == docs_df.count()
    assert man_batch.get("batch_id") == keys[0] or keys[0] in man_batch.get(
        "batch_ids", ()
    )


def test_streaming_index_recreated_checkpoint_appends_new_data(
    spark, docs_df, tmp_path
):
    """The ADVICE r11 medium scenario: an ingest restarted with a NEW
    checkpoint dir against an existing index restarts its epoch counter
    at 0 — with a bare-epoch key the new batch would collide with the
    committed epoch-0 segment and silently no-op (data loss). The
    (writer id, epoch) key makes it a new key: genuinely new docs must
    land."""
    from xdump_spark.operators.retrieval import (
        load_text_index,
        streaming_index_ingest,
    )

    inp1 = tmp_path / "drops1"
    inp1.mkdir()
    inp2 = tmp_path / "drops2"
    inp2.mkdir()
    idx_path = str(tmp_path / "idx")

    docs_df.filter("doc_id <= 3").write.parquet(str(inp1 / "day1"))
    q = streaming_index_ingest(
        spark, str(inp1) + "/*", idx_path, str(tmp_path / "ckptA")
    )
    q.awaitTermination()
    assert load_text_index(spark, idx_path).n_docs == 3

    # second query, fresh checkpoint (epoch restarts at 0), NEW docs
    docs_df.filter("doc_id > 3").write.parquet(str(inp2 / "day1"))
    q = streaming_index_ingest(
        spark, str(inp2) + "/*", idx_path, str(tmp_path / "ckptB")
    )
    q.awaitTermination()
    loaded = load_text_index(spark, idx_path)
    assert loaded.n_docs == docs_df.count()  # nothing silently dropped

    queries = spark.createDataFrame(
        [(0, "quick fox"), (1, "lazy brown dog")], "query_id int, query string"
    )
    want = sorted(
        (r.query_id, r.doc_id, r.score, r.rnk)
        for r in bm25_topk(build_text_index(docs_df), queries, k=4).collect()
    )
    got = sorted(
        (r.query_id, r.doc_id, r.score, r.rnk)
        for r in bm25_topk(loaded, queries, k=4).collect()
    )
    assert got == want


def test_streaming_index_ingest_idempotence_survives_compact(
    spark, docs_df, tmp_path
):
    """Committed batch ids are carried into compaction's merged
    segment, so a very late redelivery still no-ops after maintenance;
    an empty inbox with no schema fails with deploy guidance."""
    from xdump_spark.operators.retrieval import (
        append_text_index,
        compact_text_index,
        load_text_index,
        streaming_index_ingest,
    )

    inp = tmp_path / "drops"
    inp.mkdir()
    idx_path = str(tmp_path / "idx")

    with pytest.raises(ValueError, match="schema"):
        streaming_index_ingest(
            spark, str(inp) + "/*", idx_path, str(tmp_path / "c0")
        )

    docs_df.filter("doc_id <= 3").write.parquet(str(inp / "day1"))
    q = streaming_index_ingest(
        spark, str(inp) + "/*", idx_path, str(tmp_path / "ckpt"),
        schema="doc_id int, text string",
    )
    q.awaitTermination()
    docs_df.filter("doc_id > 3").write.parquet(str(inp / "day2"))
    q = streaming_index_ingest(
        spark, str(inp) + "/*", idx_path, str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    import xdump_spark.operators.retrieval as R

    keys = [e["batch_id"] for e in
            R._read_manifest(spark, idx_path)["segments"]]
    compact_text_index(spark, idx_path)
    n = load_text_index(spark, idx_path).n_docs
    # redeliver both original batch keys post-compact: no-ops
    for bid in keys:
        append_text_index(
            spark, idx_path, docs_df.filter("doc_id <= 3"), batch_id=bid
        )
    assert load_text_index(spark, idx_path).n_docs == n
