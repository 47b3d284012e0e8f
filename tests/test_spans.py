"""Span-level exact substring dedup (operators/spans.py).

Semantics pinned on crafted fixtures (known shared phrases, owner policy,
overlap merging) and cross-checked wholesale against an independent
DuckDB recomputation over the real driver testdata (pytest-level oracle —
the registry's 50-entry correctness window is full)."""

import duckdb
import pytest

from xdump_spark.operators.spans import duplicated_spans, strip_duplicated_spans

SF = "/root/testdata/sf0.001"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# crafted-fixture semantics
# ---------------------------------------------------------------------------
def test_shared_phrase_found_in_both_docs(spark):
    shared = "one two three four five six seven eight nine ten"
    df = _docs(
        spark,
        [
            (1, f"alpha beta {shared} gamma delta"),
            (2, f"zeta {shared} eta theta iota kappa"),
            (3, "completely different words with no overlap here at all"),
        ],
    )
    spans = {r.doc_id: r for r in duplicated_spans(df, k=8).collect()}
    # doc 1: shared tokens at positions [2, 12); doc 2: [1, 11)
    assert set(spans) == {1, 2}
    assert (spans[1].span_start, spans[1].span_end) == (2, 12)
    assert (spans[2].span_start, spans[2].span_end) == (1, 11)
    # a 10-token shared run has 10-8+1 = 3 duplicated 8-windows
    assert spans[1].n_windows == spans[2].n_windows == 3
    assert spans[1].span_tokens == 10


def test_within_doc_repeat_not_flagged(spark):
    phrase = "p1 p2 p3 p4 p5 p6 p7 p8"
    df = _docs(spark, [(1, f"{phrase} filler {phrase}"), (2, "unrelated text entirely")])
    assert duplicated_spans(df, k=8).count() == 0


def test_min_docs_threshold(spark):
    shared = "s1 s2 s3 s4 s5 s6 s7 s8"
    df = _docs(
        spark,
        [(1, f"a {shared}"), (2, f"b {shared}"), (3, f"c {shared}"), (4, "no overlap at all here")],
    )
    assert duplicated_spans(df, k=8, min_docs=3).count() == 3
    assert duplicated_spans(df, k=8, min_docs=4).count() == 0


def test_strip_keeps_owner_copy_only(spark):
    shared = "one two three four five six seven eight"
    df = _docs(
        spark,
        [
            (5, f"alpha {shared} omega"),
            (2, f"start {shared} finish"),  # smaller doc_id => owner
            (9, f"{shared} tail1 tail2"),
        ],
    )
    out = {r.doc_id: r for r in strip_duplicated_spans(df, k=8).collect()}
    assert out[2].text == f"start {shared} finish"  # owner untouched
    assert out[2].n_removed_tokens == 0
    assert out[5].text == "alpha omega"
    assert out[5].n_removed_tokens == 8
    assert out[9].text == "tail1 tail2"
    assert out[9].n_removed_tokens == 8


def test_strip_untouched_doc_text_is_byte_identical(spark):
    weird = "  spaced\tout   text with no  duplicates anywhere at all  "
    df = _docs(spark, [(1, weird), (2, "other words that do not repeat the first document")])
    out = {r.doc_id: r.text for r in strip_duplicated_spans(df, k=8).collect()}
    assert out[1] == weird  # no-cut docs keep original bytes (incl. whitespace)


def test_overlapping_spans_merge(spark):
    # doc 1 shares one phrase with doc 2 and an overlapping phrase with
    # doc 3; coverage in doc 1 must merge into a single maximal interval.
    df = _docs(
        spark,
        [
            (1, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"),
            (2, "x w1 w2 w3 w4 w5 w6 w7 w8 y"),
            (3, "z w5 w6 w7 w8 w9 w10 w11 w12 q"),
        ],
    )
    spans = [r for r in duplicated_spans(df, k=8).collect() if r.doc_id == 1]
    assert len(spans) == 1
    assert (spans[0].span_start, spans[0].span_end) == (0, 12)


# ---------------------------------------------------------------------------
# independent DuckDB recomputation on real testdata
# ---------------------------------------------------------------------------
def test_duplicated_spans_match_duckdb_on_testdata(spark):
    k = 8
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = {
        (r.doc_id, r.span_start, r.span_end, r.n_windows)
        for r in duplicated_spans(docs, k=k).collect()
    }
    con = duckdb.connect()
    want = set(
        map(
            tuple,
            con.execute(
                f"""
        WITH toks AS (
          SELECT doc_id, string_split(trim(text), ' ') AS t
          FROM read_parquet('{SF}/documents.parquet')
          WHERE len(string_split(trim(text), ' ')) >= {k}
        ),
        wins AS (
          SELECT doc_id, p AS pos, array_to_string(t[p+1:p+{k}], ' ') AS gram
          FROM toks, LATERAL (SELECT unnest(generate_series(0, len(t)-{k})) AS p)
        ),
        dup AS (SELECT gram FROM wins GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        cov AS (SELECT doc_id, pos, pos + {k} AS e FROM wins JOIN dup USING (gram)),
        m AS (
          SELECT doc_id, pos, e,
                 max(e) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
          FROM cov
        ),
        i AS (
          SELECT *, sum(CASE WHEN pm IS NULL OR pos > pm THEN 1 ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY pos) AS isl
          FROM m
        )
        SELECT doc_id, min(pos), max(e), CAST(count(*) AS BIGINT)
        FROM i GROUP BY doc_id, isl
        """
            ).fetchall(),
        )
    )
    assert got == want
    assert len(got) > 20  # the synthetic corpus genuinely shares 8-gram spans


def test_strip_removes_exactly_the_nonowner_coverage(spark):
    # Conservation on real data: removed token counts must equal each
    # doc's non-owner coverage, and re-running span detection on the
    # stripped corpus at the same k finds strictly less duplication.
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(120)
    orig_tokens = {r.doc_id: len(r.text.split()) for r in docs.collect()}
    before = duplicated_spans(docs, k=8).agg({"span_tokens": "sum"}).collect()[0][0]
    stripped = strip_duplicated_spans(docs, k=8)
    rows = stripped.collect()
    assert sum(r.n_removed_tokens for r in rows) > 0
    for r in rows:  # token conservation: kept + removed == original
        kept = len(r.text.split()) if r.text.strip() else 0
        assert kept + r.n_removed_tokens == orig_tokens[r.doc_id], r.doc_id
    after = duplicated_spans(stripped, k=8).agg({"span_tokens": "sum"}).collect()[0][0] or 0
    assert after < before


# ---------------------------------------------------------------------------
# span-level contamination screening
# ---------------------------------------------------------------------------
def test_contamination_spans_localizes_benchmark_quote(spark):
    from xdump_spark.operators.spans import contamination_spans

    bench_q = "what is the capital of the mountain kingdom answer below"
    corpus = _docs(
        spark,
        [
            (1, f"intro words here {bench_q} trailing explanation text"),
            (2, "totally clean document with nothing quoted from any benchmark"),
        ],
    )
    bench = spark.createDataFrame([(100, bench_q)], "qid long, q string")
    got = contamination_spans(
        corpus, bench, k=8, bench_text_col="q", bench_id_col="qid"
    ).collect()
    assert len(got) == 1
    r = got[0]
    # the 10-token quote sits at positions [3, 13) of doc 1
    assert (r.doc_id, r.span_start, r.span_end, r.span_tokens) == (1, 3, 13, 10)


def test_contamination_spans_matches_duplicated_spans_on_self(spark):
    """Screening a corpus against ITSELF with min_docs=2 semantics:
    every cross-doc duplicated span is a contamination span and spans
    flagged only by within-doc repetition do not appear (the benchmark
    side distincts hashes, but a doc matching its own windows covers
    everything, so self-screen is a superset; check the crafted case)."""
    from xdump_spark.operators.spans import contamination_spans

    shared = "c1 c2 c3 c4 c5 c6 c7 c8"
    corpus = _docs(spark, [(1, f"x {shared} y"), (2, "clean words only here")])
    bench = spark.createDataFrame([(9, shared)], "doc_id long, text string")
    got = contamination_spans(corpus, bench, k=8).collect()
    assert {(r.doc_id, r.span_start, r.span_end) for r in got} == {(1, 1, 9)}


def test_contamination_spans_duckdb_crosscheck(spark):
    """Real-testdata cross-check: benchmark = 20 real documents; the
    flagged spans must match a DuckDB recomputation exactly."""
    import duckdb

    from xdump_spark.operators.spans import contamination_spans

    k = 8
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.filter("doc_id < 20").selectExpr("doc_id AS qid", "text AS q")
    got = {
        (r.doc_id, r.span_start, r.span_end, r.n_windows)
        for r in contamination_spans(
            docs, bench, k=k, bench_text_col="q", bench_id_col="qid"
        ).collect()
    }
    con = duckdb.connect()
    want = set(
        map(
            tuple,
            con.execute(
                f"""
        WITH toks AS (
          SELECT doc_id, string_split(trim(text), ' ') AS t
          FROM read_parquet('{SF}/documents.parquet')
          WHERE len(string_split(trim(text), ' ')) >= {k}
        ),
        wins AS (
          SELECT doc_id, p AS pos, array_to_string(t[p+1:p+{k}], ' ') AS gram
          FROM toks, LATERAL (SELECT unnest(generate_series(0, len(t)-{k})) AS p)
        ),
        bgrams AS (SELECT DISTINCT gram FROM wins WHERE doc_id < 20),
        cov AS (SELECT doc_id, pos, pos + {k} AS e FROM wins WHERE gram IN (SELECT gram FROM bgrams)),
        m AS (
          SELECT doc_id, pos, e,
                 max(e) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
          FROM cov
        ),
        i AS (
          SELECT *, sum(CASE WHEN pm IS NULL OR pos > pm THEN 1 ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY pos) AS isl
          FROM m
        )
        SELECT doc_id, min(pos), max(e), CAST(count(*) AS BIGINT)
        FROM i GROUP BY doc_id, isl
        """
            ).fetchall(),
        )
    )
    assert got == want and len(got) >= 20


# ---------------------------------------------------------------------------
# incremental + streaming span dedup
# ---------------------------------------------------------------------------
def test_incremental_span_flags_two_batches(spark, tmp_path):
    from xdump_spark.operators.spans import (
        WindowHashStore,
        duplicated_spans,
        incremental_span_flags,
    )

    phrase = "i1 i2 i3 i4 i5 i6 i7 i8 i9 i10"
    b1 = _docs(
        spark,
        [
            (1, f"aa bb {phrase} cc dd"),
            (2, "unrelated first batch text with enough words here"),
        ],
    )
    b2 = _docs(
        spark,
        [
            (10, f"xx {phrase} yy zz"),       # duplicates batch-1 doc 1 via store
            (11, "q1 q2 q3 q4 q5 q6 q7 q8"),   # \
            (12, "q1 q2 q3 q4 q5 q6 q7 q8"),   # / within-batch pair
            (13, "fresh words nothing shared with anything else at all"),
        ],
    )
    store = WindowHashStore(spark, str(tmp_path / "winstore"))

    f1 = incremental_span_flags(b1, store, k=8)
    # batch 1 against an empty store: only intra-batch dups => none
    assert f1.count() == 0
    assert store.exists()

    f2 = {(r.doc_id, r.span_start, r.span_end) for r in incremental_span_flags(b2, store, k=8).collect()}
    # doc 10's quote of the stored phrase at [1, 11); the 11/12 pair in full
    assert f2 == {(10, 1, 11), (11, 0, 8), (12, 0, 8)}

    # precise equivalence: batch-2 increments == one-shot spans over the
    # union corpus RESTRICTED to batch-2 docs (incremental never
    # retro-flags the stored copy — documented semantics)
    union_spans = {
        (r.doc_id, r.span_start, r.span_end)
        for r in duplicated_spans(b1.unionByName(b2), k=8).collect()
        if r.doc_id >= 10
    }
    assert f2 == union_spans


def test_incremental_span_flags_no_store_update_flag(spark, tmp_path):
    from xdump_spark.operators.spans import WindowHashStore, incremental_span_flags

    store = WindowHashStore(spark, str(tmp_path / "ws2"))
    b = _docs(spark, [(1, "z1 z2 z3 z4 z5 z6 z7 z8 z9")])
    incremental_span_flags(b, store, k=8, update_store=False)
    assert not store.exists()


def test_streaming_span_dedup(spark, tmp_path):
    from xdump_spark.operators.spans import WindowHashStore, streaming_span_dedup

    phrase = "s1 s2 s3 s4 s5 s6 s7 s8 s9"
    src = str(tmp_path / "src")
    _docs(spark, [(1, f"lead {phrase} tail"), (2, "other unrelated words entirely here")]).coalesce(1).write.parquet(src)
    _docs(spark, [(20, f"{phrase} suffix words")]).coalesce(1).write.mode("append").parquet(src)

    store = WindowHashStore(spark, str(tmp_path / "ws3"))
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/part-*.parquet")
    )
    q = streaming_span_dedup(
        stream, store, str(tmp_path / "ckpt"), str(tmp_path / "flags"), k=8
    )
    q.awaitTermination(120)
    flags = spark.read.parquet(str(tmp_path / "flags"))
    got = {(r.doc_id, r.span_start, r.span_end) for r in flags.collect()}
    # whichever micro-batch arrived second gets flagged against the first;
    # the two files are separate batches (maxFilesPerTrigger=1), so exactly
    # one of the two phrase copies is flagged
    assert got == {(20, 0, 9)} or got == {(1, 1, 10)}
    assert store.exists()


def test_hot_gram_many_identical_docs(spark):
    """Skew path: one 8-gram shared by 300 documents. The dup side stays
    ONE row per hash (min!=max aggregation), the coverage join fans back
    out to 300 rows — no pair blowup, full-coverage spans, and strip
    keeps exactly the min-id copy."""
    phrase = "h1 h2 h3 h4 h5 h6 h7 h8"
    df = _docs(spark, [(i, phrase) for i in range(300)])
    spans = duplicated_spans(df, k=8).collect()
    assert len(spans) == 300
    assert all((r.span_start, r.span_end, r.n_windows) == (0, 8, 1) for r in spans)
    stripped = {r.doc_id: r for r in strip_duplicated_spans(df, k=8).collect()}
    assert stripped[0].text == phrase and stripped[0].n_removed_tokens == 0
    assert sum(1 for r in stripped.values() if r.n_removed_tokens == 8) == 299


def test_window_store_compaction(spark, tmp_path):
    import glob

    from xdump_spark.operators.spans import WindowHashStore, incremental_span_flags

    def text(i, j):  # ~23 windows per doc, so appends share bands
        body = " ".join(f"u{i}_{j}_{n}" for n in range(20))
        return f"w{i} x{j} {body} c d e f g h i j"

    store = WindowHashStore(spark, str(tmp_path / "wsc"))
    for i in range(3):  # three appends -> three file sets
        b = _docs(spark, [(i * 10 + j, text(i, j)) for j in range(3)])
        incremental_span_flags(b, store, k=8)
    files_before = len(glob.glob(f"{store.path}/band=*/*.parquet"))
    rows_before = store.read().count()
    distinct_before = store.read().distinct().count()
    # the shared tail window was appended once, not once per batch
    assert rows_before == distinct_before

    store.compact()
    files_after = len(glob.glob(f"{store.path}/band=*/*.parquet"))
    assert files_after < files_before
    assert store.read().distinct().count() == distinct_before
    assert store.read().count() == rows_before

    # the compacted store still works as dedup state
    flags = incremental_span_flags(_docs(spark, [(99, text(0, 0))]), store, k=8)
    assert flags.count() == 1


def test_strip_contaminated_spans_surgical(spark):
    """Only the benchmark-overlapping >= k-token span is cut; the rest of
    the doc and clean docs survive byte-for-byte."""
    from xdump_spark.operators.spans import strip_contaminated_spans

    quote = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    doc1 = f"intro words here then the quote {quote} and a long informative tail continues onward"
    doc2 = "a completely clean document with plenty of its own original words inside"
    docs = spark.createDataFrame(
        [(1, doc1), (2, doc2)], "doc_id long, text string"
    )
    bench = spark.createDataFrame(
        [(100, f"eval item says {quote} exactly")], "doc_id long, text string"
    )
    out = {r.doc_id: (r.text, r.n_removed_tokens)
           for r in strip_contaminated_spans(docs, bench, k=8).collect()}
    assert out[2] == (doc2, 0)                       # untouched, byte-for-byte
    text1, removed1 = out[1]
    assert removed1 >= 8
    for w in quote.split():
        assert w not in text1.split()
    assert text1.startswith("intro words here")      # head survives
    assert "onward" in text1                          # tail survives


def test_window_store_format_marker(spark, tmp_path):
    """The hash formula and the window length ``k`` are the store's
    scheme, kept in one JSON marker: reads, probes and appends fail
    loudly on another ``k``, a tampered marker, the older plain-text
    ``_window_hash_format`` marker or no marker, instead of silently
    matching nothing. Compaction keeps the marker."""
    import json

    from xdump_spark import fsutil
    from xdump_spark.operators.spans import WindowHashStore, incremental_span_flags

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    store = WindowHashStore(spark, str(tmp_path / "wsfmt"))
    store.append(*store.rows(_docs(spark, [(1, text)]), 8))
    store.append(*store.rows(_docs(spark, [(2, text + " lambda")]), 8))
    marker = fsutil.join(store.path, "_scheme.json")
    scheme = json.loads(fsutil.read_text(spark, marker))
    assert scheme == {
        "kind": "window", "formula": "xxhash64-token-slice-v2", "k": 8,
    }
    assert store.read(scheme).distinct().count() == 4

    # compaction preserves the marker
    assert store.compact()["bands_compacted"] >= 1
    assert store.read(scheme).distinct().count() == 4

    # a re-send at the store's k is flagged; at another k it raises
    # (before the scheme marker it flagged nothing, with no error)
    resent = _docs(spark, [(3, text)])
    assert incremental_span_flags(resent, store, k=8, update_store=False).count() == 1
    with pytest.raises(ValueError, match="rebuild the store"):
        incremental_span_flags(resent, store, k=10)
    with pytest.raises(ValueError, match="'k': 8"):
        store.append(*store.rows(resent, 10))

    def refused(want):
        with pytest.raises(ValueError, match=want):
            store.read()
        with pytest.raises(ValueError, match="rebuild the store"):
            incremental_span_flags(resent, store, k=8)
        with pytest.raises(ValueError, match="rebuild the store"):
            store.append(*store.rows(resent, 8))

    # tampered / older-formula marker
    fsutil.write_text_atomic(
        spark, marker, json.dumps({**scheme, "formula": "gram-string-v1"})
    )
    refused("gram-string-v1")
    # the plain-text marker of the previous format, without the JSON one
    plain = fsutil.join(store.path, "_window_hash_format")
    fsutil.delete(spark, marker)
    fsutil.write_text_atomic(spark, plain, "xxhash64-token-slice-v2")
    refused("no scheme marker")
    # no marker at all
    fsutil.delete(spark, plain)
    refused("no scheme marker")
