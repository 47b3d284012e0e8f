"""Span-level exact substring deduplication (Lee et al. 2022,
"Deduplicating Training Data Makes Language Models Better" — the
suffix-array "remove repeated substrings >= N tokens" step, re-expressed
for Spark).

A suffix array is inherently a single-machine structure; the
shuffle-friendly equivalent used here is ANCHOR WINDOWS: every k-token
window of every document is hashed, windows whose hash occurs in >=
``min_docs`` distinct documents are "duplicated", and the union of
duplicated window positions — merged into maximal intervals per document
— is exactly the set of token positions covered by some >= k-token
substring shared across documents. This recovers the suffix-array
semantics at k-token granularity: every shared substring of length >= k
is found in full (all its k-windows are duplicated); substrings shorter
than k are deliberately below the threshold, which is the same knob as
Lee et al.'s length cutoff.

Relation to the rest of the dedup toolkit: dedup.py finds WHOLE
near-duplicate documents (MinHash/SimHash/Jaccard); this module finds
PARTIAL overlap — boilerplate, quotations, licence blocks — inside
otherwise-distinct documents, and can strip it.

Scale story (100 TB):
- window rows are narrow (doc_id, pos, two 64-bit hashes) — the token
  text never leaves the projection that hashes it;
- duplicated-hash detection is a map-side-combinable groupBy on the hash
  (count_distinct/min both combine); no skew trap — a stopword-ish gram
  contributes ONE row to the dup side however often it occurs;
- the windows ⋈ dup-hashes equi-join shuffles on the hash key; AQE's
  skew-join split handles pathological grams;
- interval merging is two window passes PARTITIONED BY doc_id (pure
  codegen, no cross-doc traffic);
- the window frame is deliberately COMPUTED TWICE (once under the dup
  groupBy, once for the coverage join) rather than persisted: at 10^13
  windows, re-tokenizing from the column-pruned scan is cheaper than
  materializing the window table to storage;
- text rebuild in :func:`strip_duplicated_spans` is per-document array
  work, O(tokens x removed-intervals) worst case.

Hashing: two independent xxhash64 seeds (128 bits effective). A single
64-bit hash would see ~millions of birthday collisions at 10^13 windows;
at 128 bits the expected count is ~0, so "same hash pair" is "same gram"
for dedup purposes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from xdump_spark.operators.incremental import _BandStore

_WS = r"\s+"


def _window_hashes(df: DataFrame, k: int, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, pos, h1, h2) — one row per k-token window.

    Grams are built inside an array ``transform`` and exploded AFTER
    hashing, so exploded rows never carry gram text or the token array.
    Tokens are raw whitespace tokens (no lowercasing): span dedup is an
    exact-substring notion, and case-folding before comparison would
    merge substrings the corpus actually distinguishes.
    """
    toks = F.split(F.trim(F.col(text_col)), _WS)
    base = (
        df.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
        .filter(F.size("toks") >= k)
    )
    # Hash the k-token slice DIRECTLY (xxhash64 over array<string>):
    # equal slices hash equal and distinct slices cannot alias — the
    # string form's " "-join could not alias either (tokens are \s+
    # splits), but it materialized an O(k·|tokens|)-byte gram string per
    # window first; hashing the slice skips that allocation (r14,
    # measured ~6% off the window-hash pass, grouping verified
    # identical owner/count-set for the whole corpus). The slice is
    # built ONCE per window and both seeds hash it after the explode
    # (r15, ~15% off the pass): slices live only inside the one
    # whole-stage-codegen span — no exchange ever carries gram text.
    slices = F.transform(
        F.sequence(F.lit(0), F.size("toks") - F.lit(k)),
        lambda p: F.slice(F.col("toks"), p + F.lit(1), F.lit(k)),
    )
    return base.select("doc_id", F.posexplode(slices).alias("pos", "sl")).select(
        "doc_id",
        "pos",
        F.xxhash64(F.lit(1), F.col("sl")).alias("h1"),
        F.xxhash64(F.lit(2), F.col("sl")).alias("h2"),
    )


def _duplicated_hashes(wins: DataFrame, min_docs: int) -> DataFrame:
    """(h1, h2, n_occurrences, owner{doc_id,pos}) for every window hash
    seen in >= min_docs distinct documents. The owner — the globally
    smallest (doc_id, pos) occurrence — is the deterministic "copy to
    keep" used by :func:`strip_duplicated_spans` (Lee et al. keep one
    occurrence of each duplicated substring; min-id is the reproducible
    choice, same spirit as dedup.exact_dedup's min-id survivor).

    For the default min_docs=2, ">= 2 distinct docs" is exactly
    "min(doc_id) != max(doc_id)" — min/max stay single-phase
    map-side-combinable, where count_distinct pays a distinct expansion
    (two extra aggregate phases over the full window table; measured
    ~40% of the dup-detection stage at the sf1 soak)."""
    base_aggs = [
        F.count("*").alias("n_occurrences"),
        F.min(F.struct("doc_id", "pos")).alias("owner"),
    ]
    if min_docs <= 2:
        agg = wins.groupBy("h1", "h2").agg(
            *base_aggs,
            F.min("doc_id").alias("_min_doc"),
            F.max("doc_id").alias("_max_doc"),
        )
        return agg.filter(F.col("_min_doc") != F.col("_max_doc")).drop(
            "_min_doc", "_max_doc"
        )
    # general threshold: exact distinct-doc counting (distinct expansion —
    # pricier, but min_docs > 2 is the rare configuration)
    agg = wins.groupBy("h1", "h2").agg(
        *base_aggs, F.count_distinct("doc_id").alias("_n_docs")
    )
    return agg.filter(F.col("_n_docs") >= min_docs).drop("_n_docs")


def _merge_islands(cov: DataFrame, k: int) -> DataFrame:
    """Merge window positions into maximal [span_start, span_end) token
    intervals per doc (gaps-and-islands: an island breaks where a window
    starts past the running max end of everything before it)."""
    w = W.partitionBy("doc_id").orderBy("pos")
    prev_max_end = F.max("end").over(w.rowsBetween(W.unboundedPreceding, -1))
    new_island = (prev_max_end.isNull() | (F.col("pos") > prev_max_end)).cast("int")
    return (
        cov.withColumn("island", F.sum(new_island).over(w))
        .groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            F.max("end").alias("span_end"),
            F.count("*").alias("n_windows"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_tokens"),
            "n_windows",
        )
    )


def duplicated_spans(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Maximal token intervals covered by some >= k-token substring that
    also occurs in >= min_docs-1 OTHER documents.

    Returns (doc_id, span_start, span_end, span_tokens, n_windows):
    token positions [span_start, span_end) of each merged span plus the
    number of duplicated k-windows inside it. Within-document repeats are
    NOT flagged (distinct-doc counting) — that is repetition_frame's
    territory (curation.py); this operator is cross-document contagion.
    """
    wins = _window_hashes(df, k, text_col, id_col)
    dup = _duplicated_hashes(wins, min_docs)
    cov = wins.join(dup.select("h1", "h2"), ["h1", "h2"]).select(
        "doc_id", "pos", (F.col("pos") + F.lit(k)).alias("end")
    )
    return _merge_islands(cov, k)


class WindowHashStore(_BandStore):
    """Parquet-backed (band, h1, h2) store of the accepted corpus's window
    hashes — the persistent state for INCREMENTAL span dedup (new shards
    checked against everything already ingested without re-reading text).

    Honest sizing note: unlike the MinHash SignatureStore (~0.5 KB/doc),
    exact substring dedup needs per-WINDOW state — ~16 bytes/token, i.e.
    the same order as the tokenized text itself. That is inherent to the
    problem (a suffix array is no smaller); what the store buys is no
    re-tokenization, columnar compression, and an equi-joinable layout.
    ``band = pmod(h1, n_bands)`` bounds file count and spreads writes;
    increments probe it with one broadcast-hash join (store never
    shuffles). Its scheme: the window length ``k``, under the
    token-array-slice hashing of :func:`_window_hashes`.
    """

    N_BANDS = 64
    KIND = "window"
    FORMULA = "xxhash64-token-slice-v2"
    COLUMNS = ("band", "h1", "h2")

    def rows(
        self, docs: DataFrame, k: int, text_col: str = "text",
        id_col: str = "doc_id",
    ) -> tuple:
        """(wins, scheme): the docs' (doc_id, pos, h1, h2, band) window
        hashes and the scheme they were built under; ``append`` stores
        their (band, h1, h2) projection."""
        wins = _window_hashes(docs, k, text_col, id_col).withColumn(
            "band", F.pmod("h1", F.lit(self.N_BANDS))
        )
        return wins, self._scheme(k=k)


def incremental_span_flags(
    new_docs: DataFrame,
    store: WindowHashStore,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    update_store: bool = True,
) -> DataFrame:
    """One increment of span-level dedup: spans of the NEW batch that
    duplicate the persistent store (everything previously ingested) or
    another document of the same batch.

    Returns (doc_id, span_start, span_end, span_tokens, n_windows) over
    the new batch only — flag semantics; acceptance/stripping policy is
    the caller's (pair with :func:`strip_duplicated_spans`-style rebuild
    or drop-the-doc). With ``update_store`` the batch's distinct window
    hashes that the store does not hold yet are appended afterwards, so
    the next increment sees this one and the store holds each hash once.
    ``k`` is the store's scheme: a mismatch raises ``ValueError``.

    Scale: the batch side is window-hashed once and localCheckpoint'd
    (narrow, batch-sized); the store-probe join BROADCASTS the batch's
    distinct hashes and streams store partitions through a broadcast-hash
    join — the store is scanned, never shuffled, exactly the
    incremental.py probe discipline. Within-batch duplication reuses the
    min!=max detection of :func:`duplicated_spans`.
    """
    wins, scheme = store.rows(new_docs, k, text_col, id_col)
    stored = store.read(scheme)
    wins = wins.localCheckpoint(eager=True)
    fresh = wins.select("band", "h1", "h2").distinct()

    covs = []
    if stored is not None:
        hit_hashes = (
            stored.join(F.broadcast(fresh), ["band", "h1", "h2"])
            .select("band", "h1", "h2")
            .distinct()
            .localCheckpoint(eager=True)
        )
        covs.append(
            wins.join(F.broadcast(hit_hashes), ["band", "h1", "h2"])
            .select("doc_id", "pos")
        )
        # the store keeps each hash once: append only the batch's
        # distinct hashes it does not already hold
        fresh = fresh.join(F.broadcast(hit_hashes), ["band", "h1", "h2"], "left_anti")
    intra = _duplicated_hashes(wins, 2).select("h1", "h2")
    covs.append(wins.join(intra, ["h1", "h2"]).select("doc_id", "pos"))

    cov = covs[0] if len(covs) == 1 else covs[0].unionByName(covs[1]).distinct()
    spans = _merge_islands(
        cov.select("doc_id", "pos", (F.col("pos") + F.lit(k)).alias("end")), k
    ).localCheckpoint(eager=True)
    if update_store:
        store.append(fresh, scheme)
    return spans


def streaming_span_dedup(
    doc_stream: DataFrame,
    store: WindowHashStore,
    checkpoint_dir: str,
    flags_out_dir: str,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Streaming ingest span dedup: each micro-batch runs one
    :func:`incremental_span_flags` increment via ``foreachBatch``; flagged
    spans land in ``flags_out_dir`` (parquet, appended per batch). State =
    the window store + the stream checkpoint — restart-safe, same
    deployment shape as incremental.streaming_neardup_dedup."""

    def _do_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        flags = incremental_span_flags(
            batch_df, store, k=k, text_col=text_col, id_col=id_col
        )
        flags.write.mode("append").parquet(flags_out_dir)

    return (
        doc_stream.writeStream.foreachBatch(_do_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def contamination_spans(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    bench_id_col: str | None = None,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """WHERE a corpus document verbatim-contains a >= k-token benchmark
    substring: (doc_id, span_start, span_end, span_tokens, n_windows).

    The span-level companion to curation.contamination_screen: the
    set-overlap screen says WHICH docs overlap the eval set; this one
    localizes the overlap to exact token intervals, which is what you
    need to decide strip-the-span vs drop-the-doc (GPT-3 App. C removes
    overlapped WINDOWS, not whole documents).

    Scale: the benchmark side is windows of an EVAL SET — small by
    nature — hashed, distinct'd, and broadcast; the corpus side is the
    same narrow window projection as :func:`duplicated_spans` consumed by
    a broadcast LEFT SEMI join, so the 100 TB corpus never shuffles on
    the hash. Set ``broadcast_benchmark=False`` for an abnormally large
    benchmark (falls back to a sort-merge semi-join, still linear).
    """
    cw = _window_hashes(docs, k, text_col, id_col)
    bw = (
        _window_hashes(
            benchmark, k, bench_text_col or text_col, bench_id_col or id_col
        )
        .select("h1", "h2")
        .distinct()
    )
    if broadcast_benchmark:
        bw = F.broadcast(bw)
    cov = cw.join(bw, ["h1", "h2"], "left_semi").select(
        "doc_id", "pos", (F.col("pos") + F.lit(k)).alias("end")
    )
    return _merge_islands(cov, k)


def strip_duplicated_spans(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Remove cross-document duplicated spans, keeping ONE copy corpus-wide.

    Policy: for each duplicated window hash the globally-smallest
    (doc_id, pos) occurrence is the owner; every other occurrence is
    removable. A token goes iff it is covered by at least one removable
    window — so the owner document keeps its copy verbatim, and every
    other document loses the whole shared span. Greedy edge case (shared
    with Lee et al.'s implementation): when a kept and a removed span
    overlap inside one document, removal wins for the overlapping tokens.

    Returns the input frame with ``text_col`` rewritten (tokens outside
    removed intervals re-joined with single spaces; untouched documents
    keep their original text byte-for-byte) plus ``n_removed_tokens``.
    Rebuild cost is per-document: O(tokens x removed-intervals).
    """
    wins = _window_hashes(df, k, text_col, id_col)
    dup = _duplicated_hashes(wins, min_docs)
    removable = (
        wins.join(dup.select("h1", "h2", "owner"), ["h1", "h2"])
        .filter(
            ~((F.col("doc_id") == F.col("owner.doc_id")) & (F.col("pos") == F.col("owner.pos")))
        )
        .select("doc_id", "pos", (F.col("pos") + F.lit(k)).alias("end"))
    )
    return _strip_intervals(df, _merge_islands(removable, k), text_col, id_col)


def _strip_intervals(
    df: DataFrame, spans: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Rewrite ``text_col`` removing each doc's (span_start, span_end)
    token intervals (from a _merge_islands-shaped frame): tokens outside
    removed intervals re-join with single spaces; documents with no
    intervals keep their original text byte-for-byte. Shared rebuild of
    strip_duplicated_spans and strip_contaminated_spans."""
    cuts = (
        spans
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("span_start", "span_end"))
            ).alias("cut")
        )
        .withColumnRenamed("doc_id", "_cut_doc_id")
    )
    toks = F.split(F.trim(F.col(text_col)), _WS)
    n = F.size(toks)
    keep_idx = F.filter(
        F.sequence(F.lit(0), n - F.lit(1)),
        lambda i: ~F.exists(
            F.col("cut"),
            lambda iv: (i >= iv.span_start) & (i < iv.span_end),
        ),
    )
    rebuilt = F.concat_ws(" ", F.transform(keep_idx, lambda i: F.element_at(toks, i + F.lit(1))))
    out_cols = [
        F.when(F.col("cut").isNull(), F.col(text_col)).otherwise(rebuilt).alias(c)
        if c == text_col
        else F.col(c)
        for c in df.columns
    ]
    removed = F.when(F.col("cut").isNull(), F.lit(0)).otherwise(
        F.aggregate(
            F.col("cut"),
            F.lit(0),
            lambda acc, iv: acc + (iv.span_end - iv.span_start),
        )
    )
    return (
        df.join(cuts, df[id_col] == cuts["_cut_doc_id"], "left")
        .select(*out_cols, removed.alias("n_removed_tokens"))
    )


def strip_contaminated_spans(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    bench_id_col: str | None = None,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Strip-the-overlap decontamination (GPT-3 App. C semantics: remove
    the overlapped WINDOWS, keep the document): every >= k-token span a
    corpus doc shares verbatim with the benchmark is cut out and the
    text rebuilt; untouched docs keep their text byte-for-byte. Returns
    the input frame with ``text_col`` rewritten + ``n_removed_tokens``.

    The surgical alternative to the pipeline's default drop-the-doc
    policy — keeps the rest of a long document that merely quotes an
    eval item. Composition of the two existing primitives:
    contamination_spans (broadcast semi-join localization — the corpus
    never shuffles on the window hash) and the per-doc interval rebuild
    shared with strip_duplicated_spans.
    """
    spans = contamination_spans(
        docs, benchmark, k=k, text_col=text_col, id_col=id_col,
        bench_text_col=bench_text_col, bench_id_col=bench_id_col,
        broadcast_benchmark=broadcast_benchmark,
    ).select("doc_id", "span_start", "span_end")
    return _strip_intervals(docs, spans, text_col, id_col)
