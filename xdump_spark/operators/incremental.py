"""Incremental near-dup dedup: new documents vs a persistent signature
store.

A production corpus is not deduped once — it grows (daily crawls, new
shards) and each increment must be checked against everything already
accepted WITHOUT re-scanning the historical text. The store keeps only
MinHash signatures and their LSH band keys (num_perm longs + bands ints
per accepted doc — ~0.5 KB/doc: storable, joinable, orders of magnitude
smaller than the text).

Per increment:

1. sign the new batch (Arrow-batched numpy, narrow);
2. LSH-band the new signatures; candidates = bucket collisions
   new-vs-store and new-vs-new (two equi-joins on small band keys —
   the store side is band-partitioned parquet, never re-signed);
3. verify candidates on signature agreement (the estimate verification
   of ``minhash_lsh_pairs``);
4. survivors are APPENDED to the store.

Acceptance follows GREEDY-SEQUENTIAL semantics — the contract of any
streaming dedup: a doc is kept iff it is not estimated-similar to any
STORED doc nor to any smaller-id KEPT member of its own batch (a doc
whose only near-dup partner was itself rejected is still kept, exactly
as if the batch had arrived one doc at a time). Only docs that appear
in a collision pair need driver-side resolution, so the driver work is
O(|near-dup pairs|), not O(|batch|).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xdump_spark import cutover
from xdump_spark.operators.dedup import (
    _norm_text,
    _spread,
    minhash_signatures,
)


def _estimate_jaccard(sig_a, sig_b, num_perm: int):
    matches = F.size(F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda v: v))
    return F.round(matches / F.lit(float(num_perm)), 6)


@dataclass
class IncrementResult:
    """One increment's outcome."""

    pairs: list[tuple]      # greedy mode: (dup_id, kept_id, est), sorted
    accepted: DataFrame     # (id) — appended to the store
    store_rows: int         # distinct stored ids after the increment
    #   (-1 unless count_store=True — the count grows with STORE size,
    #   not batch size, so it is opt-in as of r10)
    rejects: DataFrame | None = None  # components mode: (dup_id, kept_id,
    #   est) as a DataFrame — never collected (may be cluster-quadratic)
    commit: object = None   # defer_commit=True: call to append the
    #   accepted signatures to the store (same contract as
    #   incremental_exact_dedup — re-committing after a crash is
    #   harmless, duplicate signature rows cannot change a decision)


def _compact_partition_dirs(
    spark: SparkSession, path: str, marker: str,
    target_file_bytes: int = 128 << 20,
) -> dict:
    """Shared store-compaction kernel: per ``key=value`` partition dir
    under ``path`` (matched on ``marker``, e.g. ``"/band="``), list the
    data files as of now, read EXACTLY those files, append the coalesced
    rewrite into the same dir, then delete the listed originals. A crash
    can only DUPLICATE rows — and duplicate store rows cannot change a
    dedup decision in any of this module's stores. Concurrent appends
    land new files that are never touched."""
    from xdump_spark import fsutil

    before = fsutil.list_data_files(spark, path)
    by_dir: dict[str, list[tuple]] = {}
    for f, b in before:
        head, _, _ = f.rpartition("/")
        if marker in f:
            by_dir.setdefault(head, []).append((f, b))
    compacted = 0
    for part_dir, files in sorted(by_dir.items()):
        total = sum(b for _, b in files)
        n_out = max(1, -(-total // target_file_bytes))
        if len(files) <= n_out:
            continue
        (
            spark.read.parquet(*[f for f, _ in files])
            .coalesce(n_out)
            .write.mode("append")
            .parquet(part_dir)
        )
        for f, _ in files:
            fsutil.delete(spark, f, recursive=False)
        compacted += 1
    after = fsutil.list_data_files(spark, path)
    return {
        "files_before": len(before),
        "files_after": len(after),
        "partitions_compacted": compacted,
    }


def _delete_from_partitions(
    spark: SparkSession, path: str, part_col: str,
    doomed: DataFrame, join_cols: list,
    only_values: "list | None" = None,
) -> int:
    """Shared store-retention kernel, ONE job regardless of how many
    partitions a delete batch touches: list the affected partition
    dirs' data files as of now, read the store partition-FILTERED to
    the touched values (pruned scan), anti-join the (broadcast)
    ``doomed`` keys out, append the survivors back through the store's
    own ``partitionBy`` layout (~one file per touched partition, the
    append_assigned discipline), then delete the listed originals.

    The first cut of this kernel rewrote dir-by-dir — one Spark job per
    touched partition — and measured 78.6 s for a 1,000-id delete
    touching 107 of 128 cells at a 100k-row store (~0.7 s of job
    dispatch per dir; a 4096-cell store would take hours). This shape
    is 2 jobs total (SCALE.md r10).

    Crash discipline (the compaction kernel's): survivors are durably
    appended BEFORE any original is deleted, so a crash leaves doomed
    rows beside duplicated survivors — the deletion is incomplete
    (re-run it), and duplicate store rows cannot change a dedup
    decision in any of this module's stores. A file appended
    concurrently between the listing and the rewrite may be read and
    re-appended (duplicates, harmless) but is never deleted. Deletion
    is guaranteed complete only when the call returns. Returns the
    number of partition dirs rewritten."""
    from xdump_spark import fsutil

    marker = f"/{part_col}="
    wanted = (
        None if only_values is None
        else {f"{part_col}={v}" for v in only_values}
    )
    files = []
    dirs = set()
    for f, _ in fsutil.list_data_files(spark, path):
        head, _, _ = f.rpartition("/")
        leaf = head.rsplit("/", 1)[-1]
        if marker in f and (wanted is None or leaf in wanted):
            files.append(f)
            dirs.add(head)
    if not files:
        return 0
    survivors = spark.read.parquet(path)
    if only_values is not None:
        survivors = survivors.filter(
            F.col(part_col).isin(list(only_values))
        )
    # callers pass the doomed frame pre-hinted via _delete_side — small
    # requests broadcast, mass-retention requests shuffle-join
    survivors = survivors.join(doomed, join_cols, "left_anti")
    (
        survivors.repartition(F.col(part_col))
        .write.mode("append").partitionBy(part_col).parquet(path)
    )
    for f in files:
        fsutil.delete(spark, f, recursive=False)
    return len(dirs)


# A doomed id in the broadcast relation the driver builds: the key plus
# its row and hash-table slot.
_DELETE_ID_BYTES = 64


def _delete_side(doomed: DataFrame) -> DataFrame:
    """Hint the doomed frame for a retention anti/semi join: broadcast
    while it fits the driver budget (the overwhelmingly common case —
    plan-pinned in tests), plain (shuffle-join) past it. A mass-retention
    request (drop an entire source domain: 1e8 ids) unconditionally
    broadcast would blow the broadcast memory or the driver (r11 verdict
    "What's missing #2"); at that size both sides are big and the
    shuffle join is the plan you want anyway. The size probe is a
    limit+count (one cheap job per delete call — retention is
    maintenance, not a hot path; no collect follows it). Unlike the
    query batch, retention degrades to the scalable plan rather than
    raising: a right-to-be-forgotten request must not be refused for
    being too thorough."""
    spark = doomed.sparkSession
    n = doomed.limit(cutover.budget_bytes(spark) // _DELETE_ID_BYTES + 1).count()
    small = cutover.fits(spark, "incremental.delete", _DELETE_ID_BYTES * n)
    return F.broadcast(doomed) if small else doomed


def _as_id_frame(spark: SparkSession, ids, col: str) -> DataFrame:
    """Normalize a delete request (DataFrame or iterable of ids) to a
    one-column distinct frame named ``col``."""
    if isinstance(ids, DataFrame):
        if len(ids.columns) != 1 and col not in ids.columns:
            raise ValueError(
                f"ids frame needs a single column or a {col!r} column "
                f"(got {ids.columns})"
            )
        src = ids[[col]] if col in ids.columns else ids
        return src.toDF(col).distinct()
    rows = [(i,) for i in ids]
    if not rows:
        raise ValueError("empty delete request")
    return spark.createDataFrame(rows, [col]).distinct()


class _BandStore:
    """The files-on-disk half shared by the band-partitioned hash stores
    (:class:`SignatureStore`, ``spans.WindowHashStore``): parquet rows
    partitioned by ``band``, plus one scheme marker. Each subclass keeps
    only its row formula (``rows``) and the parameters that define it.

    The marker is one atomic JSON file recording the store kind, the
    formula version and the row-defining parameters. Rows written under
    another scheme silently match nothing (every historical duplicate
    missed, no error), so ``append`` writes the marker before the first
    data file and otherwise checks it, and ``read`` checks it. ``stats``,
    ``compact`` and retention need no scheme: the shared kernels touch
    only files under ``band=`` dirs, so the marker survives them."""

    KIND = ""
    FORMULA = ""
    COLUMNS: tuple = ()  # the stored row layout
    _SCHEME_FILE = "_scheme.json"

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _scheme(self, **params) -> dict:
        return {"kind": self.KIND, "formula": self.FORMULA, **params}

    def _scheme_path(self) -> str:
        from xdump_spark import fsutil

        return fsutil.join(self.path, self._SCHEME_FILE)

    def exists(self) -> bool:
        # Hadoop FS, not os.path: on hdfs:///object-store paths a local
        # isdir() is always False, which would silently treat the store
        # as EMPTY and skip dedup against all history (ADVICE r6)
        from xdump_spark import fsutil

        return fsutil.is_dir(self.spark, self.path) and any(
            not n.startswith((".", "_"))
            for n in fsutil.list_names(self.spark, self.path)
        )

    def _check_scheme(self, scheme: dict | None) -> None:
        """Raise unless the marker equals ``scheme``; ``None`` accepts
        any parameters of this store's kind and formula."""
        import json

        from xdump_spark import fsutil

        found = None
        if fsutil.exists_atomic(self.spark, self._scheme_path()):
            text = fsutil.read_text_atomic(self.spark, self._scheme_path())
            try:
                found = json.loads(text)
            except ValueError:
                found = text.strip()
        if scheme is None:
            ok = isinstance(found, dict) and {**found, **self._scheme()} == found
        else:
            ok = found == scheme
        if ok:
            return
        have = "no scheme marker" if found is None else f"scheme {found!r}"
        raise ValueError(
            f"{type(self).__name__} at {self.path!r} holds rows written "
            f"under {have}; this call uses {scheme or self._scheme()!r}. "
            "Rows of another scheme silently match nothing. Call with the "
            "store's own parameters, or rebuild the store: re-append the "
            "accepted corpus into a fresh directory."
        )

    def read(self, scheme: dict | None = None) -> DataFrame | None:
        if not self.exists():
            return None
        self._check_scheme(scheme)
        return self.spark.read.parquet(self.path)

    def append(self, rows: DataFrame, scheme: dict) -> None:
        import json

        from xdump_spark import fsutil

        # Marker first: exists() ignores underscore files, so a crash
        # between the marker and the data write leaves an "empty" store.
        # An EXISTING store must match before rows are mixed in.
        if self.exists():
            self._check_scheme(scheme)
        else:
            fsutil.write_text_atomic(
                self.spark, self._scheme_path(),
                json.dumps(scheme, sort_keys=True),
            )
        # one narrow shuffle of the (small) increment so each band gains
        # ~one file per append instead of one per upstream task — without
        # it a daily store accrues tasks×bands files and every probe pays
        # the listing (measured: SCALE.md r8's VectorStore twin of this
        # fix cut 10-increment file count 14,349 → 622 and flattened the
        # rising per-increment cost)
        rows.select(*self.COLUMNS).repartition(F.col("band")).write.mode(
            "append"
        ).partitionBy("band").parquet(self.path)

    def stats(self) -> dict:
        """{files, bytes, rows, bands} — the compaction trigger inputs.
        ``rows`` is a parquet metadata count (footers only, no data
        scan); [0-stats] when the store does not exist yet."""
        from xdump_spark import fsutil

        files = fsutil.list_data_files(self.spark, self.path)
        return {
            "files": len(files),
            "bytes": sum(b for _, b in files),
            "rows": self.spark.read.parquet(self.path).count() if files else 0,
            "bands": len({f.rsplit("/", 2)[-2] for f, _ in files if "/band=" in f}),
        }

    def compact(self, target_file_bytes: int = 128 << 20) -> dict:
        """Rewrite each band partition's accumulated small append files
        into ~``target_file_bytes`` files (365 appends/band/year on a
        daily crawl; on an object store every probe join pays that
        listing + open cost). Crash discipline and concurrency notes in
        :func:`_compact_partition_dirs`; duplicate rows it may leave
        cannot change a decision of either store. Returns
        {files_before, files_after, bands_compacted}."""
        rpt = _compact_partition_dirs(
            self.spark, self.path, "/band=", target_file_bytes
        )
        return {
            "files_before": rpt["files_before"],
            "files_after": rpt["files_after"],
            "bands_compacted": rpt["partitions_compacted"],
        }


class SignatureStore(_BandStore):
    """Parquet-backed (id, sig, band, bucket) store, partitioned by band
    so candidate probes read only the band layout they join on. At corpus
    scale this is the only persistent dedup state — text never re-reads.
    Its scheme: ``num_perm``, ``bands`` and ``shingle_k``."""

    KIND = "signature"
    FORMULA = "minhash-byte-shingle-xxhash64-band-v1"
    COLUMNS = ("id", "sig", "band", "bucket")

    def rows(
        self,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        num_perm: int = 128,
        bands: int = 32,
        shingle_k: int = 5,
    ) -> tuple:
        """(banded, scheme): the docs' (id, sig, band, bucket) store
        rows — normalized text, MinHash signatures, LSH band keys — and
        the scheme they were built under. The one place a caller gets
        rows it may append or probe with."""
        normed = _spread(docs.select(F.col(id_col), F.col(text_col))).select(
            F.col(id_col).alias("id"), _norm_text(F.col(text_col)).alias("_norm")
        )
        sigs = minhash_signatures(normed, num_perm, shingle_k)
        r = num_perm // bands
        band_structs = [
            F.struct(
                F.lit(j).alias("band"),
                F.xxhash64(F.slice("sig", j * r + 1, r)).alias("bucket"),
            )
            for j in range(bands)
        ]
        banded = sigs.select(
            "id", "sig", F.explode(F.array(*band_structs)).alias("bb")
        ).select("id", "sig", "bb.band", "bb.bucket")
        scheme = self._scheme(
            num_perm=num_perm, bands=bands, shingle_k=shingle_k
        )
        return banded, scheme

    def probe(
        self,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        num_perm: int = 128,
        bands: int = 32,
        shingle_k: int = 5,
        threshold: float = 0.5,
        max_bucket: int | None = 1000,
    ) -> DataFrame:
        """Read-only near-dup lookup: which STORED docs does each query
        doc near-duplicate? Returns (query_id, stored_id, est) for every
        stored candidate at estimated Jaccard ≥ ``threshold`` — the
        forensic twin of :func:`incremental_neardup`'s new-vs-store
        tier ("why was this rejected?", "what does this crawl shard
        duplicate against?") without mutating anything.

        Same plan shape as the increment's probe: signatures + banding
        on the (small) query side only, broadcast into the store's
        band-partitioned scan, estimate on signature agreement.
        ``num_perm``/``bands``/``shingle_k`` must match the store's
        scheme (a mismatch raises, like the increment).
        ``max_bucket`` drops degenerate template buckets by STORED
        membership, the increment's guard. Empty store → typed empty
        frame."""
        spark = self.spark
        id_t = dict(docs.dtypes).get(id_col, "long")
        out_schema = (
            f"query_id {id_t}, stored_id {id_t}, est double"
        )
        banded, scheme = self.rows(
            docs, text_col, id_col, num_perm, bands, shingle_k
        )
        stored = self.read(scheme)
        if stored is None:
            return spark.createDataFrame([], out_schema)
        if max_bucket is not None:
            hot = (
                stored.groupBy("band", "bucket")
                .agg(F.count("*").alias("n"))
                .filter(F.col("n") > max_bucket)
                .select("band", "bucket")
            )
            banded = banded.join(
                F.broadcast(hot), ["band", "bucket"], "left_anti"
            )
        est = _estimate_jaccard(F.col("sig_a"), F.col("sig_b"), num_perm)
        return (
            stored.join(
                F.broadcast(
                    banded.select(
                        "band", "bucket",
                        F.col("id").alias("query_id"),
                        F.col("sig").alias("sig_a"),
                    )
                ),
                ["band", "bucket"],
            )
            .select(
                "query_id", F.col("id").alias("stored_id"),
                "sig_a", F.col("sig").alias("sig_b"),
            )
            .dropDuplicates(["query_id", "stored_id"])
            .withColumn("est", est)
            .filter(F.col("est") >= threshold)
            .select("query_id", "stored_id", "est")
        )

    def delete_ids(self, ids) -> dict:
        """Retention / right-to-be-forgotten: remove the given doc ids'
        signature rows from the store, so future increments treat
        re-sends of (or near-dups of ONLY) those docs as novel again.

        ``ids``: a one-column DataFrame (or a frame with an ``id``
        column, or a plain iterable). A doc's LSH rows span EVERY band
        partition (one row per band by construction), so deletion is
        one filtered rewrite of each band — cost O(store); batch
        retention requests rather than deleting one id at a time. A
        no-match request touches nothing. Crash discipline: see
        :func:`_delete_from_partitions` (incomplete deletion +
        harmless duplicates; re-run to complete). Returns
        {deleted_rows, bands_rewritten}."""
        doomed = _as_id_frame(self.spark, ids, "id")
        if not self.exists():
            return {"deleted_rows": 0, "bands_rewritten": 0}
        doomed = _delete_side(doomed)
        matched = (
            self.spark.read.parquet(self.path)
            .join(doomed, "id", "left_semi")
            .count()
        )
        if not matched:
            return {"deleted_rows": 0, "bands_rewritten": 0}
        n = _delete_from_partitions(
            self.spark, self.path, "band", doomed, ["id"]
        )
        return {"deleted_rows": matched, "bands_rewritten": n}


def incremental_neardup(
    new_docs: DataFrame,
    store: SignatureStore,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 128,
    bands: int = 32,
    shingle_k: int = 5,
    threshold: float = 0.5,
    max_bucket: int | None = 1000,
    max_pairs: int = 1_000_000,
    resolve: str = "greedy",
    defer_commit: bool = False,
    count_store: bool = False,
) -> IncrementResult:
    """Run one dedup increment (see module docstring for semantics).

    ``defer_commit=True`` skips the store append and the post-append
    store count (``store_rows`` is -1); ``IncrementResult.commit()``
    performs the append when the caller's downstream work is durable —
    the same poison-avoidance contract as ``incremental_exact_dedup``.
    ``count_store`` (default False as of r10 — a BREAKING default
    flip) opts back INTO the post-commit distinct-id store count: the
    count is reporting, not a decision input, it is the only increment
    term that grows with STORE size rather than batch size (measured
    r9: ~1/3 of total increment cost at 152k stored rows), and a
    scheduled per-drop caller on a 1e9-row store should never pay a
    full-store scan for a log line. Read ``store.stats()`` on a
    maintenance cadence instead; ``store_rows`` is -1 when skipped.

    ``resolve`` picks how colliding docs are adjudicated:

    * ``"greedy"`` (default) — exact greedy-sequential semantics (the
      batch behaves as if it arrived one doc at a time), resolved on
      the driver over the near-dup PAIRS only. Correct and cheap when
      pairs are sparse; bounded by ``max_pairs`` (it raises past it —
      a template-heavy batch has cluster-QUADRATIC true pairs that no
      banding guard can thin, because they are real near-dups).
    * ``"components"`` — fully distributed: near-dup clusters via
      pointer-jumping connected components, min-id survivor per
      cluster, clusters touching the store rejected wholesale (the Lee
      et al. 2022 cluster semantics, like ``fuzzy_dedup``). Nothing is
      ever collected; ``IncrementResult.rejects`` carries
      (dup_id, kept_id, est) as a DataFrame and ``pairs`` is empty.
      Differs from greedy on chains: in a path a-b-c greedy keeps
      {a, c}, components keeps {a}. The scale path — measured on the
      r6 skew soak's 25 k-doc template cluster (SCALE.md r7).

    Skew/size guards (the r6 soak measured an UNGUARDED banded self-join
    emitting 4.2 B candidate pairs from one 25 k-doc template cluster —
    here those pairs would also land in driver memory):

    * ``max_bucket`` — (band, bucket) groups whose COMBINED new+stored
      membership exceeds it are excluded from candidate generation, the
      same guard (and default) as ``dedup.minhash_lsh_pairs``: docs
      whose only collisions are inside a degenerate template bucket are
      kept rather than quadratically compared. ``None`` disables.
    * ``max_pairs`` — hard bound on the near-dup pairs collected for
      driver-side greedy resolution; past it the increment raises with
      guidance (shrink the batch, pre-dedup exact, or lower
      ``max_bucket``) instead of silently OOMing the driver.

    ``num_perm`` defaults to 128: the r6 soak calibration (SCALE.md)
    measured estimate-verification precision 0.64 at 64 perms vs 0.97
    at 128 (threshold 0.6, recall ~1.0 at both) — at corpus scale,
    where near-threshold pair mass is guaranteed, 64 over-rejects.
    ``num_perm``, ``bands`` and ``shingle_k`` are the store's scheme: an
    increment whose scheme differs from the one recorded in a non-empty
    store raises ``ValueError`` before touching it (its rows would match
    nothing), so resume an older store with its own settings.
    """
    if resolve not in ("greedy", "components"):
        raise ValueError(f"resolve must be 'greedy' or 'components', got {resolve!r}")
    spark = new_docs.sparkSession
    banded, scheme = store.rows(
        new_docs, text_col, id_col, num_perm, bands, shingle_k
    )
    stored = store.read(scheme)
    banded = banded.localCheckpoint(eager=True)
    # one row per band by construction: band 0 is each doc's signature
    sigs = banded.filter(F.col("band") == 0).select("id", "sig")

    est = _estimate_jaccard(F.col("sig_a"), F.col("sig_b"), num_perm)

    if max_bucket is not None:
        # Hot (band, bucket) groups by COMBINED membership: a template
        # cluster may live entirely in the store (new docs keep matching
        # it), entirely in the batch, or straddle both. Counts shuffle
        # map-side-combined (band, bucket, n) rows only; the store scan
        # is 2 small columns of an already-probed table. The hot set is
        # tiny (it takes >max_bucket members to enter) → broadcast
        # anti-join, same shape as dedup.minhash_lsh_pairs.
        new_counts = banded.groupBy("band", "bucket").agg(
            F.count("*").alias("n")
        )
        if stored is not None:
            both = new_counts.unionByName(
                stored.groupBy("band", "bucket").agg(F.count("*").alias("n"))
            )
            combined = both.groupBy("band", "bucket").agg(F.sum("n").alias("n"))
        else:
            combined = new_counts
        hot = (
            combined.filter(F.col("n") > max_bucket)
            .select("band", "bucket")
            .localCheckpoint(eager=True)
        )
        banded_cand = banded.join(F.broadcast(hot), ["band", "bucket"], "left_anti")
    else:
        banded_cand = banded

    def _bounded_collect(df: DataFrame, what: str) -> list:
        tbl = cutover.bounded_collect(
            df, max_pairs, f"incremental_neardup.{what.split()[0]}", "refused"
        )
        if tbl is None:
            raise ValueError(
                f"incremental_neardup: more {what} than max_pairs="
                f"{max_pairs}; greedy resolution would collect them all "
                "to the driver. Shrink the increment batch, run "
                "incremental_exact_dedup first (template re-crawls are "
                "mostly byte-identical), or lower max_bucket to drop "
                "degenerate template buckets."
            )
        return tbl.to_pylist()

    # new vs STORE: equi-join on the band key; the (small) new side
    # broadcasts, the store side prunes to matching band partitions.
    # kept_id and est are taken from the SAME best candidate row (max
    # est, tie-break min kept_id — the intra-batch greedy's ordering),
    # not independent min/max aggregates that could pair an id with
    # another doc's score.
    best = F.min(
        F.struct((-F.col("est")).alias("neg_est"), F.col("kept_id"))
    ).alias("best")
    if stored is not None:
        store_hits_df = (
            stored.join(
                F.broadcast(
                    banded_cand.select(
                        "band", "bucket",
                        F.col("id").alias("new_id"), F.col("sig").alias("sig_a"),
                    )
                ),
                ["band", "bucket"],
            )
            .select("new_id", F.col("id").alias("kept_id"), "sig_a", F.col("sig").alias("sig_b"))
            .dropDuplicates(["new_id", "kept_id"])
            .withColumn("est", est)
            .filter(F.col("est") >= threshold)
            .groupBy("new_id")
            .agg(best)
            .select(
                "new_id",
                F.col("best.kept_id").alias("kept_id"),
                (-F.col("best.neg_est")).alias("est"),
            )
        )
    else:
        store_hits_df = None

    # new vs NEW bucket-collision pairs (id_a < id_b), verified on
    # signature agreement — still a DataFrame at this point; whether it
    # ever reaches the driver depends on ``resolve``.
    l = banded_cand.select("band", "bucket", F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    r = banded_cand.select("band", "bucket", F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    intra_df = (
        l.join(r, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("est", est)
        .filter(F.col("est") >= threshold)
        .select("id_a", "id_b", "est")
    )

    if resolve == "components":
        rejects_df = _resolve_components(
            spark, sigs, intra_df, store_hits_df
        ).localCheckpoint(eager=True)
        pairs = []
        rejected_ids = rejects_df.select(F.col("dup_id").alias("id"))
        accepted_banded = banded.join(rejected_ids, "id", "left_anti")
    else:
        store_hits = (
            _bounded_collect(store_hits_df, "store-hit docs")
            if store_hits_df is not None
            else []
        )
        rejected: dict = {r["new_id"]: (r["kept_id"], r["est"]) for r in store_hits}
        intra = _bounded_collect(intra_df, "intra-batch near-dup pairs")
        partners: dict = {}
        for row in intra:
            partners.setdefault(row["id_b"], []).append((row["id_a"], row["est"]))
        for d in sorted(partners):
            if d in rejected:
                continue
            hits = [(a, e) for a, e in partners[d] if a not in rejected]
            if hits:
                # max est, tie-break min kept id — expressed as a min so
                # it never negates the id (string ids are legal here)
                kept, e = min(hits, key=lambda h: (-h[1], h[0]))
                rejected[d] = (kept, e)

        pairs = sorted((d, k, e) for d, (k, e) in rejected.items())
        if rejected:
            # the id column's REAL type: greedy resolution works for any
            # orderable id (string doc ids are common); a hard "id long"
            # schema here crashed every string-id batch that found a dup
            idt = new_docs.schema[id_col].dataType.simpleString()
            rej_df = spark.createDataFrame(
                [(d,) for d in rejected], f"id {idt}"
            )
            rejects_df = None
            accepted_banded = banded.join(F.broadcast(rej_df), "id", "left_anti")
        else:
            rejects_df = None
            accepted_banded = banded
    accepted_banded = accepted_banded.localCheckpoint(eager=True)

    def commit() -> None:
        store.append(accepted_banded, scheme)

    accepted = accepted_banded.select("id").distinct()
    if defer_commit:
        return IncrementResult(
            pairs=pairs, accepted=accepted, store_rows=-1,
            rejects=rejects_df, commit=commit,
        )
    commit()
    n = (
        store.read(scheme).select("id").distinct().count()
        if count_store else -1
    )
    return IncrementResult(
        pairs=pairs, accepted=accepted, store_rows=n, rejects=rejects_df
    )


def _resolve_components(
    spark: SparkSession,
    sigs: DataFrame,
    intra_df: DataFrame,
    store_hits_df: DataFrame | None,
) -> DataFrame:
    """Fully-distributed resolution: near-dup CLUSTERS, one survivor per
    untainted cluster (min id), everything in a store-tainted cluster
    rejected. No pair list ever reaches the driver — the path for
    template-heavy batches where even correct near-dup pairs are
    quadratic in the cluster size.

    Returns (dup_id, kept_id, est): ``kept_id`` is the stored doc (best
    store hit of the cluster) or the cluster's surviving min id;
    ``est`` is the doc's own best direct-edge estimate where it has one
    (store hit or intra pair), NULL for purely transitive members."""
    from xdump_spark.operators.components import connected_components

    comp = connected_components(
        intra_df.select("id_a", "id_b"), vertices=sigs, vertex_col="id"
    ).select("vertex", "component")

    if store_hits_df is not None:
        hit = store_hits_df
        tainted = (
            comp.join(hit, comp["vertex"] == hit["new_id"])
            .groupBy("component")
            .agg(
                F.min(
                    F.struct((-F.col("est")).alias("neg_est"), F.col("kept_id"))
                ).alias("b")
            )
            .select(
                F.col("component").alias("t_comp"),
                F.col("b.kept_id").alias("store_kept"),
            )
        )
        labeled = comp.join(tainted, comp["component"] == tainted["t_comp"], "left")
    else:
        labeled = comp.withColumn("store_kept", F.lit(None).cast("long"))

    rejects = labeled.filter(
        F.col("store_kept").isNotNull() | (F.col("vertex") != F.col("component"))
    ).select(
        F.col("vertex").alias("dup_id"),
        F.coalesce("store_kept", "component").alias("kept_id"),
    )

    # evidence column: the doc's best DIRECT near-dup estimate (its own
    # store hit, or its strongest intra edge) — not necessarily vs the
    # survivor, which a transitive member never directly compared to
    intra_best = (
        intra_df.select(F.col("id_a").alias("e_id"), "est")
        .unionByName(intra_df.select(F.col("id_b").alias("e_id"), "est"))
        .groupBy("e_id")
        .agg(F.max("est").alias("edge_est"))
    )
    ev = intra_best
    if store_hits_df is not None:
        ev = (
            ev.unionByName(
                store_hits_df.select(
                    F.col("new_id").alias("e_id"), F.col("est").alias("edge_est")
                )
            )
            .groupBy("e_id")
            .agg(F.max("edge_est").alias("edge_est"))
        )
    return rejects.join(ev, rejects["dup_id"] == ev["e_id"], "left").select(
        "dup_id", "kept_id", F.col("edge_est").alias("est")
    )


class ExactHashStore:
    """Hash-BUCKETED store of accepted documents' normalized content
    hashes, for EXACT dedup of each new increment against the entire
    history without ever shuffling the history.

    State per accepted doc: a 128-bit content hash as two xxhash64
    longs (h1, h2) of the normalized text — 16 bytes/doc, so 10 B docs
    ≈ 160 GB of longs: scannable, and ~4 orders of magnitude smaller
    than the text. Two independent 64-bit hashes put a corpus-wide
    collision (a NEW doc silently dropped as a "dup" of a different
    doc) at ~(n²/2)/2¹²⁸ ≈ 10⁻¹⁹ even at n = 10¹⁰ docs, where a single
    64-bit hash would already be at ~10⁻³.

    The store is written ``bucketBy(n_buckets, "h1", "h2")`` through
    sources/bucketed.py's catalog-table discipline, which is the whole
    point: the increment anti-join reads the store pre-partitioned
    straight off storage, so Catalyst exchanges ONLY the (small) new
    batch to the store's bucketing — plan-asserted in
    tests/test_plans.py. Appends add files per bucket without
    rewriting history. Contrast SignatureStore (near-dup, band-
    partitioned): this store answers "byte-identical after
    normalization", the signature store "similar"."""

    def __init__(self, spark: SparkSession, table_name: str,
                 n_buckets: int = 64, path: str | None = None):
        self.spark = spark
        self.table_name = table_name
        self.n_buckets = n_buckets
        self.path = path

    def exists(self) -> bool:
        return self.spark.catalog.tableExists(self.table_name)

    def read(self) -> DataFrame | None:
        if not self.exists():
            return None
        from xdump_spark.sources.bucketed import read_bucketed

        return read_bucketed(self.spark, self.table_name)

    def append(self, hashes: DataFrame) -> None:
        """``hashes``: (h1 long, h2 long), pre-deduplicated by caller."""
        from xdump_spark.sources.bucketed import write_bucketed

        write_bucketed(
            hashes.select("h1", "h2"), self.table_name, ["h1", "h2"],
            n_buckets=self.n_buckets, mode="append", path=self.path,
        )
        # the catalog caches the table's file listing per session; an
        # append from another thread (foreachBatch) is invisible to
        # readers until refreshed
        self.spark.catalog.refreshTable(self.table_name)

    def _replace_files(self, old_files: list, rows: DataFrame) -> None:
        """The rewrite step of compaction and retention: APPEND ``rows``
        through the bucketed write, then delete the listed originals. A
        crash in between can only duplicate hashes, and duplicate
        (h1, h2) rows cannot change a left-anti join's answer."""
        from xdump_spark import fsutil

        self.append(rows)
        for f in old_files:
            fsutil.delete(self.spark, f, recursive=False)
        self.spark.catalog.refreshTable(self.table_name)

    def stats(self) -> dict:
        """{files, bytes, rows, buckets} ([0-stats] when absent).
        ``files`` counts data files across all buckets — each append
        adds up to ``n_buckets`` files, so a daily store accrues
        365 × n_buckets files/year without compaction."""
        if not self.exists():
            return {"files": 0, "bytes": 0, "rows": 0, "buckets": self.n_buckets}
        from xdump_spark import fsutil

        t = self.spark.table(self.table_name)
        files = list(t.inputFiles())
        sizes = fsutil.file_statuses(self.spark, files)
        return {
            "files": len(files),
            "bytes": sum(b for _, b, _ in sizes),
            "rows": t.count(),
            "buckets": self.n_buckets,
        }

    def compact(self, target_file_bytes: int = 128 << 20) -> dict:
        """Rewrite the accumulated per-append file pile into
        ``ceil(bucket_bytes / target_file_bytes)`` files per bucket
        (the store family's standard knob, r13 verdict Next #6 —
        previously unconditionally one file per bucket, which at a
        fixed bucket count grows per-file size without bound),
        preserving the bucket layout (the rewrite goes back through
        ``write_bucketed``, so the history-never-shuffles plan
        property is untouched — re-asserted in tests).

        Same crash discipline as ``SignatureStore.compact``: the file
        set is listed first, the rewrite is APPENDED, and only then are
        the listed originals deleted — a crash can only duplicate
        hashes, and duplicate (h1, h2) rows cannot change a left-anti
        join's answer (the module's documented recovery invariant).
        Concurrent appends land new files that are never touched.
        Returns {files_before, files_after}."""
        from xdump_spark import fsutil

        if not self.exists():
            return {"files_before": 0, "files_after": 0}
        old_files = list(self.spark.table(self.table_name).inputFiles())
        total = sum(
            b for _, b, _ in fsutil.file_statuses(self.spark, old_files)
        )
        # output partition count: a MULTIPLE of n_buckets, sized to the
        # target. Spark's repartition and its native bucketing share
        # the Murmur3 hash, so with n_out = k·n_buckets every task
        # holds exactly one bucket's rows (pmod(H, k·N) fixes
        # pmod(H, N)) and the bucketed write emits one file per task —
        # k files per bucket, never a sliver file per (task, bucket).
        per_bucket = max(
            1, -(-total // (target_file_bytes * self.n_buckets))
        )
        n_out = self.n_buckets * per_bucket
        if len(old_files) > n_out:
            # one coalesced pass over the listed files only (a raw-path
            # read: fine — the write re-buckets, one exchange of 16 B/row
            # hashes, the expected O(store) compaction cost)
            self._replace_files(
                old_files,
                self.spark.read.parquet(*old_files).repartition(
                    n_out, "h1", "h2"
                ),
            )
        return {
            "files_before": len(old_files),
            "files_after": len(self.spark.table(self.table_name).inputFiles()),
        }

    def contains(
        self,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> DataFrame:
        """Read-only membership check: has each doc's normalized
        content been accepted before? Returns (``id_col``,
        ``is_stored`` boolean) — the forensic twin of
        :func:`incremental_exact_dedup`'s store tier ("would this batch
        dedup against history?") without mutating anything.

        Plan: the (small) query hashes broadcast into the bucketed
        store scan — the history never shuffles, same as the
        increment. An absent store answers all-False (a membership
        question against nothing stored is 'no', not a crash)."""
        hashes = content_hashes(docs, text_col=text_col, id_col=id_col)
        stored = self.read()
        if stored is None:
            return hashes.select(
                F.col("id").alias(id_col), F.lit(False).alias("is_stored")
            )
        hits = (
            stored.join(F.broadcast(hashes), ["h1", "h2"], "left_semi")
            .select(F.col("h1"), F.col("h2"))
        )
        return (
            hashes.join(
                hits.withColumn("_hit", F.lit(True)).dropDuplicates(
                    ["h1", "h2"]
                ),
                ["h1", "h2"],
                "left_outer",
            )
            .select(
                F.col("id").alias(id_col),
                F.coalesce(F.col("_hit"), F.lit(False)).alias("is_stored"),
            )
        )

    def delete_hashes(self, hashes: DataFrame) -> dict:
        """Retention / right-to-be-forgotten: remove the given content
        hashes so future increments accept re-sends of those documents
        again. The store keeps no doc ids — only (h1, h2) content
        hashes — so deletion is BY CONTENT: pass the documents to
        :meth:`delete_docs`, or (h1, h2) rows produced by
        :func:`content_hashes` here (any other producer must use the
        same :func:`hash128`-over-normalized-text convention or it will
        match nothing).

        Cost: one filtered rewrite of the 16 B/row hash table through
        the bucketed-write discipline (the history-never-shuffles plan
        property is untouched); a no-match request rewrites nothing.
        Crash between the survivor append and the original deletes
        leaves doomed hashes present beside duplicated survivors —
        deletion incomplete (re-run), duplicates harmless (the module
        invariant). Returns {deleted_rows, files_rewritten}."""
        if not self.exists():
            return {"deleted_rows": 0, "files_rewritten": 0}
        doomed = _delete_side(hashes.select("h1", "h2").distinct())
        t = self.spark.table(self.table_name)
        matched = t.join(
            doomed, ["h1", "h2"], "left_semi"
        ).count()
        if not matched:
            return {"deleted_rows": 0, "files_rewritten": 0}
        old_files = list(t.inputFiles())
        self._replace_files(
            old_files,
            self.spark.read.parquet(*old_files)
            .join(doomed, ["h1", "h2"], "left_anti")
            .repartition(self.n_buckets, "h1", "h2"),
        )
        return {"deleted_rows": matched, "files_rewritten": len(old_files)}

    def delete_docs(self, docs: DataFrame, text_col: str = "text") -> dict:
        """Convenience: :meth:`delete_hashes` of the docs' normalized
        content hashes (the exact bytes the dedup path stores)."""
        h1, h2 = hash128(_norm_text(F.col(text_col)))
        return self.delete_hashes(
            docs.select(h1.alias("h1"), h2.alias("h2"))
        )


def hash128(col) -> tuple:
    """THE engine-wide 128-bit content-hash convention: (h1, h2) = two
    independently-seeded xxhash64 of one canonical string column.

    Seed ordering matters: Spark chains multi-arg xxhash64 with the
    running hash as the NEXT seed, so ``xxhash64(col, lit)`` would be
    a pure function of ``xxhash64(col)`` — an h1 collision would force
    an h2 collision and the pair would be 64 bits dressed as 128. With
    the salt FIRST, h2 = XXH64(col, seed=XXH64(salt, 42)): the same
    string hashed under a different fixed seed, independent of h1.
    Every (h1, h2) producer (doc dedup, conversation dedup, the
    ExactHashStore) MUST use this helper so their hashes interoperate."""
    return F.xxhash64(col), F.xxhash64(F.lit(0x9E3779B9), col)


def content_hashes(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """(id, h1, h2) per doc: :func:`hash128` of the normalized text (the
    same normalization exact_dedup groups on). Pure codegen."""
    h1, h2 = hash128(_norm_text(F.col(text_col)))
    return df.select(
        F.col(id_col).alias("id"), h1.alias("h1"), h2.alias("h2")
    )


def incremental_exact_dedup(
    new_docs: DataFrame,
    store: ExactHashStore,
    text_col: str = "text",
    id_col: str = "doc_id",
    defer_commit: bool = False,
):
    """One EXACT-dedup increment: returns the accepted ids frame
    (``id`` long) and appends their hashes to the store.

    Semantics match ``exact_dedup`` run over the concatenated history in
    arrival order: a doc is accepted iff its normalized text was never
    accepted before — neither in any prior increment (store hit) nor
    under a smaller id within its own batch (keep-first). DuckDB
    cross-checked in tests.

    ``defer_commit=True`` returns ``(accepted, commit)`` WITHOUT
    touching the store; the caller invokes ``commit()`` once the run's
    output is durably written. A multi-stage run that appended hashes
    eagerly and then failed downstream would poison the store — the
    retry would find every hash "previously accepted" and emit an empty
    corpus. The survivor frame is checkpointed, so the deferred commit
    appends exactly what was returned. (Re-committing the same hashes
    after a crash is harmless: duplicate store rows cannot change a
    left-anti join's answer.)

    Scale shape: ONE map-side-combinable groupBy over the new batch
    (within-batch keep-first) + one left-anti join whose store side is
    bucket-co-located — the only exchange moves the new batch's
    ≤|batch| distinct hashes. History size never appears in any shuffle.
    """
    batch = content_hashes(new_docs, text_col, id_col)
    return incremental_hash_dedup(batch, store, defer_commit=defer_commit)


def incremental_hash_dedup(
    batch_hashes: DataFrame,
    store: ExactHashStore,
    defer_commit: bool = False,
):
    """The store-increment core behind :func:`incremental_exact_dedup`,
    taking a prepared (id, h1, h2) frame so ANY :func:`hash128` producer
    dedups against a persistent store with the same plan shape — doc
    text (content_hashes), conversation transcripts
    (sft.dedup_conversations_incremental), preference pairs
    (preference.dedup_pairs_incremental). Contract, keep-first
    semantics, deferred-commit discipline, and the one-exchange plan are
    exactly incremental_exact_dedup's — see its docstring."""
    # one exchange, straight to the store's bucketing: the groupBy's
    # required distribution AND the anti-join's are both satisfied by
    # hashpartitioning(h1, h2, n_buckets), so neither adds a shuffle
    batch = batch_hashes.repartition(store.n_buckets, "h1", "h2")
    first = batch.groupBy("h1", "h2").agg(F.min("id").alias("id"))
    stored = store.read()
    if stored is not None:
        survivors = first.join(stored, ["h1", "h2"], "left_anti")
    else:
        survivors = first
    survivors = survivors.localCheckpoint(eager=True)

    def commit() -> None:
        store.append(survivors.select("h1", "h2"))

    accepted = survivors.select("id")
    if defer_commit:
        return accepted, commit
    commit()
    return accepted


def streaming_exact_dedup(
    doc_stream: DataFrame,
    store: ExactHashStore,
    checkpoint_dir: str,
    accepted_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Streaming twin: each micro-batch runs one
    ``incremental_exact_dedup`` increment via ``foreachBatch``; accepted
    ids append to ``accepted_dir`` parquet. The bucketed hash table IS
    the operator state — restart-safe the same way
    ``streaming_neardup_dedup`` is.

    Delivery is at-least-once in the usual foreachBatch way, ordered so
    a crash can only DUPLICATE, never lose: accepted ids are written
    BEFORE the store commit. A redelivered batch recomputes the same
    accepted set (the store gained nothing for it yet) and may append
    the same ids twice — dedupable downstream by id — while committing
    the same hashes twice cannot change any later anti-join."""

    def _do_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        accepted, commit = incremental_exact_dedup(
            batch_df, store, text_col=text_col, id_col=id_col,
            defer_commit=True,
        )
        accepted.write.mode("append").parquet(accepted_dir)
        commit()

    return (
        doc_stream.writeStream.foreachBatch(_do_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_neardup_dedup(
    doc_stream: DataFrame,
    store: SignatureStore,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    **kwargs,
):
    """Streaming ingest dedup: every micro-batch runs one
    ``incremental_neardup`` increment against the shared signature store
    via ``foreachBatch`` — batch semantics, streaming arrival. The store
    IS the operator state (restart-safe: signatures live in parquet, the
    stream's progress in the checkpoint), which is how a continuous
    crawl-ingest pipeline keeps dedup state without unbounded executor
    memory."""

    def _do_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # per-batch store_rows reporting would pay a full-store distinct
        # count EVERY micro-batch; stats belong on a maintenance cadence
        kwargs.setdefault("count_store", False)
        incremental_neardup(
            batch_df, store, text_col=text_col, id_col=id_col, **kwargs
        )

    return (
        doc_stream.writeStream.foreachBatch(_do_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_doc_ingest(
    spark: SparkSession,
    input_dir: str,
    store,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    rejects_dir: str | None = None,
    schema=None,
    trigger: dict | None = None,
    neardup_kwargs: dict | None = None,
):
    """Continuous PLAIN-DOCUMENT ingestion: parquet document drops
    LANDING in ``input_dir`` stream through one dedup increment per
    micro-batch against the persistent ``store`` → survivors (full
    rows) append to ``out_dir``. The fifth drop-directory twin — the
    commonest pattern of all (a scheduler lands parquet docs daily; no
    WARC parse, no JSONL validation, no embedding): ``store`` picks the
    semantics — an :class:`ExactHashStore` runs
    :func:`incremental_exact_dedup` (byte-identical after
    normalization), a :class:`SignatureStore` runs
    :func:`incremental_neardup` (MinHash near-dup; tune via
    ``neardup_kwargs``, e.g. ``{"threshold": 0.7, "resolve":
    "components"}``). Differs from :func:`streaming_exact_dedup`,
    which emits accepted IDS only — here the survivor ROWS land ready
    to consume, matching the other ingest twins.

    Restart discipline (the family contract): the file-stream
    checkpoint remembers consumed files; survivors are written BEFORE
    the store commit, so a crash between them re-delivers the batch —
    duplicate output rows are dedupable by ``id_col`` and re-committed
    store rows cannot change a later decision. With a SignatureStore
    and ``rejects_dir``, each drop's components-mode rejects
    (dup_id, kept_id, est) append there (greedy mode resolves pairs on
    the driver and writes them as the same three columns).

    ``schema`` (StructType or DDL) is required by Spark for parquet
    file streams; when None it is inferred from files already in
    ``input_dir``. ``trigger`` defaults to drain-and-stop."""
    if schema is None:
        schema = spark.read.parquet(input_dir).schema
    raw = spark.readStream.schema(schema).parquet(input_dir)
    is_sig = isinstance(store, SignatureStore)
    nd_kwargs = dict(neardup_kwargs or {})

    def _do_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if is_sig:
            res = incremental_neardup(
                batch_df, store, text_col=text_col, id_col=id_col,
                defer_commit=True, **nd_kwargs,
            )
            accepted, commit = res.accepted, res.commit
            if rejects_dir is not None:
                rej = res.rejects
                if rej is None:  # greedy mode: pairs resolved driver-side
                    idt = batch_df.schema[id_col].dataType.simpleString()
                    rej = spark.createDataFrame(
                        list(res.pairs),
                        f"dup_id {idt}, kept_id {idt}, est double",
                    )
                rej.write.mode("append").parquet(rejects_dir)
        else:
            accepted, commit = incremental_exact_dedup(
                batch_df, store, text_col=text_col, id_col=id_col,
                defer_commit=True,
            )
        survivors = batch_df.join(
            accepted.withColumnRenamed("id", id_col), id_col, "left_semi"
        )
        survivors.write.mode("append").parquet(out_dir)
        commit()

    writer = raw.writeStream.foreachBatch(_do_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    trig = trigger or {"availableNow": True}
    return writer.trigger(**trig).start()


class VectorStore:
    """Persistent embedding-dedup state: the ``ivf_write`` on-disk
    layout (per-cell parquet partitions + a centroid meta file) worn as
    a store. The FIRST increment fits the centroids (they are frozen
    thereafter — ``ivf_balance`` on ``index()`` is the retrain
    trigger); every later increment assigns against them, reads ONLY
    its touched cells (partition pruning), and appends its accepted
    vectors into those cells. Completes the store trio: ExactHashStore
    (byte-identical), SignatureStore (MinHash near-dup), VectorStore
    (semantic near-dup, SemDeDup-style).

    ``dtype`` picks the ON-DISK vector representation at store CREATION
    ("float64" default, "float32", "pq") and is recorded in the meta —
    an existing store's meta always wins, so every later open (CLI
    maintenance, a differently-configured ingest) reads and appends in
    the store's own representation. float32 halves store bytes,
    strip-kernel input, and Arrow transfer — the measured cost drivers
    of the r8 soak (dim=1024 was 1.4x slower purely on vector
    serialization). COMPUTE stays float64 either way: stored vectors
    are upcast on read, so steady-state decision drift is float32
    rounding of the stored vector itself (~1e-7 relative on a cosine).
    Measured (SCALE.md r9, 200k x 64d): all 10 increments
    decision-identical to a float64 twin. The one amplifier is
    :meth:`retrain`: KMeans refits on the rounded vectors, and a 1e-7
    perturbation can flip KMeans|| init samples into a slightly
    different cell GEOMETRY — per-cell scoping differs near cell
    boundaries even though every computed score is right (measured:
    0.5% of post-retrain verdicts). Keep float64 if bit-identical
    cross-precision retrains matter.

    ``dtype="pq"`` stores PRODUCT-QUANTIZED codes instead of vectors
    (operators/pq.py: ``pq_m`` one-byte-ish codes per vector plus one
    8-byte exact-vector hash — the store is the 100 TB cost center and
    every retrain rescans it, so bytes ARE the scaling term). The
    codebook is trained ONCE on the first increment's batch
    (``pq_train``'s deterministic capped sample), recorded in the
    atomic meta beside the centers, and FROZEN for the store's life —
    so the decode → encode round trip is code-lossless and
    :meth:`retrain` re-buckets the verbatim codes/hashes without
    compounding quantization error. Decisions: the NEW batch is always
    exact; the stored side is its reconstruction, so a new-vs-stored
    cosine carries the reconstruction error of the STORED vector — a
    pair whose true cosine sits within ~(1 - recon_cos) of
    ``threshold`` may flip: the float32 caveat at a larger epsilon,
    bought with ~an order of magnitude fewer bytes. Byte-identical
    re-sends are EXEMPT: the ``vh`` hash channel force-rejects them at
    est 1.0 — a hard guarantee within a centroid generation (same
    exact vector → same cell); after a retrain, stored rows sit in
    reconstruction-assigned cells, so re-sends whose quantization
    crossed a cell boundary escape scoping until the next exact pass.
    Measured (sf10 soak, 200k × 64d WORST-CASE unstructured vectors
    where recon_cos ≈ 0.8; real embeddings are manifold-structured and
    reconstruct far better): m=8 → 11.4× smaller than float64, all 10
    steady-state increments decision-IDENTICAL, post-retrain scope
    churn 6.7%; m=16 → 9.0× / 4.4% — ``pq_m`` is the resolution dial.
    ``exact_guard=True`` closes that cross-retrain hole as one knob
    (the r10 verdict's "chain an ExactHashStore upstream" recipe folded
    into the store): every stored row keeps its exact-vector hash
    ``vh``, and each increment probes the batch's hashes against the
    WHOLE store — a column-pruned scan that reads 8 B/row regardless
    of dtype or cell geometry — so a byte-identical re-send
    force-rejects at est 1.0 even when a retrain re-bucketed its
    stored twin into a different cell (the sf10 soak measured 14.5k
    such slips without the guard). The probe broadcast-joins the
    (small) batch into the hash scan: the history never shuffles, the
    ExactHashStore plan shape. Decisions are otherwise identical —
    within a generation the in-cell vh channel already rejects the
    same rows. Applies at CREATION only (recorded in meta; an existing
    store's meta wins, so the stored schema is uniform).
    ``pq_m``/``pq_k`` apply at creation only (``pq_m`` is clamped to
    the largest divisor of the vector dim)."""

    _DTYPES = ("float64", "float32", "pq")

    def __init__(self, spark: SparkSession, path: str, dtype: str = "float64",
                 pq_m: int = 8, pq_k: int = 256, exact_guard: bool = False):
        if dtype not in self._DTYPES:
            raise ValueError(
                f"VectorStore dtype must be one of {self._DTYPES}, got {dtype!r}"
            )
        self.spark = spark
        self.path = path
        self.dtype = dtype
        self.pq_m = int(pq_m)
        self.pq_k = int(pq_k)
        self.exact_guard = bool(exact_guard)
        self._cb_cache = None  # PQCodebook, lazily loaded from meta
        # The parsed meta, cached per instance and validated against the
        # meta FILE's (length, mtime) stamp: one increment read the meta
        # 5× through the Hadoop FS API (~0.35 s of driver latency per
        # call chain at sf0.1 — r15 profile); a stamp probe is ONE RPC
        # per read instead of the full atomic read chain. The stamp —
        # not blind trust in the instance — keeps a SECOND writer
        # instance on the same path (CLI maintenance retrain) and
        # interrupted-overwrite recovery visible: any change to the file
        # invalidates the cache, and a missing file (mid-swap crash
        # window) falls through to the recovering read path.
        self._meta_cache: tuple | None = None  # (stamp, parsed meta)

    def _store_dtype(self) -> str:
        """The precision vectors are stored at: the meta's record for
        an existing store (authoritative — a store keeps ONE precision
        for life), the ctor request before first write."""
        if self.exists():
            return self._meta().get("dtype", "float64")
        return self.dtype

    def guard_enabled(self) -> bool:
        """Whether the exact-resend guard is on: the meta's record for
        an existing store (a store keeps ONE schema for life — see
        ``exact_guard`` on the class), the ctor request before first
        write."""
        if self.exists():
            return bool(self._meta().get("exact_guard", False))
        return self.exact_guard

    def _upcast(self, df: DataFrame) -> DataFrame:
        """Stored cv → array<double> for compute (no-op on float64
        stores: the parquet schema already is double)."""
        if dict(df.dtypes).get("cv") != "array<double>":
            df = df.withColumn("cv", F.col("cv").cast("array<double>"))
        return df

    # -- pq codec ---------------------------------------------------------
    def _codebook(self):
        """The store's frozen PQCodebook (meta-recorded; cached on the
        instance — it never changes after creation)."""
        if self._cb_cache is None:
            from xdump_spark.operators.pq import PQCodebook

            self._cb_cache = PQCodebook.from_dict(self._meta()["codebook"])
        return self._cb_cache

    def _encode_codes(self, assigned: DataFrame) -> DataFrame:
        """(neighbor_id, cv, [cn,] cell[, vh]) → (neighbor_id, codes,
        vh, cell): one Arrow-batched column UDF, each batch one numpy
        distance computation per subspace (pq_encode's math on the
        already cell-assigned increment — no extra pass, no shuffle).

        ``vh`` is the EXACT-vector hash channel (xxhash64 over the raw
        double array, +8 B/row): quantization makes byte-identical
        re-sends score only ~recon_cos against their own stored codes,
        and the sf10 soak measured exactly that failure — 14.5k exact
        copies slipping a 0.9 threshold at recon_cos ≈ 0.8. The hash is
        computed from the ORIGINAL vector at first encode and preserved
        verbatim through retrains, so the exact-dup class never pays
        the quantization margin."""
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        from xdump_spark.operators.pq import _assign_codes, _normalize_rows

        codebook = self._codebook()
        cents = codebook.matrices()

        def _enc(v):  # no type hints: the no-typehint pandas_udf form
            if not len(v):
                return pd.Series([], dtype=object)
            X = _normalize_rows(np.vstack(v.to_numpy()).astype(np.float64))
            return pd.Series(list(_assign_codes(X, codebook, cents)))

        enc = pandas_udf(_enc, "array<smallint>")
        vh = (
            F.col("vh") if "vh" in assigned.columns
            else F.xxhash64(F.col("cv"))
        )
        return assigned.select(
            "neighbor_id", enc(F.col("cv")).alias("codes"),
            vh.alias("vh"), "cell",
        )

    def _decode_codes(self, df: DataFrame, keep: tuple = ()) -> DataFrame:
        """(neighbor_id, codes, [vh,] cell) → (neighbor_id, cv, cn,
        cell[, keep…]): per-subspace centroid gathers reconstruct the
        stored (unit-ish) vectors executor-side AFTER the pruned scan —
        the scan itself reads m smallints per row, which is the whole
        point. A COLUMN UDF (not mapInPandas) so Catalyst prunes the
        decode away for consumers that never touch cv/cn (ivf_balance
        reads only ``cell``). ``keep`` passes stored columns through
        (``vh`` for the exact-hash channel, ``codes`` for retrain)."""
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        from xdump_spark.operators.pq import pq_reconstruct

        codebook = self._codebook()
        cents = codebook.matrices()

        def _dec(c):  # no type hints: struct-returning pandas_udf form
            if not len(c):
                return pd.DataFrame({"cv": [], "cn": []})
            R = pq_reconstruct(np.vstack(c.to_numpy()), codebook, cents)
            return pd.DataFrame(
                {"cv": list(R), "cn": np.sqrt(np.einsum("ij,ij->i", R, R))}
            )

        dec = pandas_udf(_dec, "struct<cv: array<double>, cn: double>")
        d = dec(F.col("codes"))
        return df.select(
            "neighbor_id",
            d["cv"].alias("cv"),
            d["cn"].alias("cn"),
            "cell",
            *[F.col(k) for k in keep],
        )

    def _creation_meta(self, centers: list, vectors: DataFrame,
                       id_col: str, vec_col: str) -> dict:
        """The meta dict for a store being CREATED from its first
        batch; for pq stores this is where the codebook is trained
        (pq_train's deterministic capped sample over the batch) and
        frozen."""
        meta = {"centers": centers, "n_cells": len(centers),
                "dtype": self.dtype}
        if self.exact_guard:
            meta["exact_guard"] = True
        if self.dtype == "pq":
            from xdump_spark.operators.pq import pq_train

            row = vectors.select(vec_col).first()
            dim = len(row[vec_col])
            # largest divisor of dim that fits the requested m: the
            # subspace split must tile the vector exactly
            m = max(d for d in range(1, min(self.pq_m, dim) + 1)
                    if dim % d == 0)
            cb = pq_train(vectors, m=m, k=self.pq_k,
                          id_col=id_col, vec_col=vec_col)
            meta["codebook"] = cb.to_dict()
        return meta

    # The meta commit is the store's LIVENESS bit: exists() keys on it,
    # so a torn meta would make the next increment silently re-fit a
    # fresh store over orphaned generations. It is therefore a single
    # FILE written via fsutil.write_text_atomic (tmp+rename — the BM25
    # segment-manifest discipline, retrieval.py), never a Spark
    # mode("overwrite") dir write (delete-then-write: a crash in the
    # window leaves NO meta). The file is also the store's format
    # marker: a directory holding only a Spark-JSON ``meta/`` dir (an
    # older store format) raises instead of reading as an empty store.
    def _meta_file(self) -> str:
        from xdump_spark import fsutil

        return fsutil.join(self.path, "meta.json")

    def _cached_meta(self) -> dict | None:
        """The cached parsed meta iff the file's (length, mtime) stamp
        still matches — one RPC; None on any change, a missing file
        (interrupted-swap crash window), or a cold cache."""
        from xdump_spark import fsutil

        if self._meta_cache is None:
            return None
        stamp, meta = self._meta_cache
        if fsutil.status(self.spark, self._meta_file()) == stamp:
            return meta
        self._meta_cache = None
        return None

    def exists(self) -> bool:
        # exists_atomic: rolls an interrupted meta-swap forward, so the
        # liveness bit cannot read as dead inside the backup-swap
        # fallback's crash window (ADVICE r9)
        from xdump_spark import fsutil

        if self._cached_meta() is not None:  # a stamp-fresh meta IS liveness
            return True
        if fsutil.exists_atomic(self.spark, self._meta_file()):
            return True
        if fsutil.is_dir(self.spark, fsutil.join(self.path, "meta")):
            # reading as "no store" would let the next increment
            # silently re-fit a fresh store over the old cells
            raise ValueError(
                f"VectorStore at {self.path} holds a meta/ dir but no "
                "meta.json: that store format is no longer read — "
                "rebuild the store into a fresh directory"
            )
        return False

    def _meta(self) -> dict:
        import json

        from xdump_spark import fsutil

        cached = self._cached_meta()
        if cached is not None:
            return cached
        # stamp BEFORE the read: a writer racing between read and stamp
        # must leave a stale stamp (next probe re-reads), never a fresh
        # stamp over stale content
        stamp = fsutil.status(self.spark, self._meta_file())
        if not self.exists():
            raise ValueError(f"no VectorStore at {self.path}")
        meta = json.loads(
            fsutil.read_text_atomic(self.spark, self._meta_file())
        )
        if stamp is not None:
            self._meta_cache = (stamp, meta)
        return meta

    def _write_meta(self, meta: dict) -> None:
        """Atomically commit the meta (see the liveness note above)."""
        import json

        from xdump_spark import fsutil

        fsutil.write_text_atomic(self.spark, self._meta_file(), json.dumps(meta))
        stamp = fsutil.status(self.spark, self._meta_file())
        self._meta_cache = (stamp, dict(meta)) if stamp is not None else None

    def _assigned_path(self, meta: dict | None = None) -> str:
        """Data dir of the CURRENT generation. A store that was never
        retrained has no ``assigned_dir`` key: generation 0 lives in
        ``assigned``."""
        from xdump_spark import fsutil

        m = meta if meta is not None else self._meta()
        return fsutil.join(self.path, m.get("assigned_dir", "assigned"))

    def centers(self) -> list:
        return self._meta()["centers"]

    def index(self):
        """The full stored index (for ivf_balance / searches). On a pq
        store the assigned frame decodes lazily — ivf_balance's
        cell-count groupBy prunes the decode entirely; a search pays
        one reconstruction pass over the cells it probes."""
        from xdump_spark.operators.similarity import IVFIndex

        meta = self._meta()
        raw = self.spark.read.parquet(self._assigned_path(meta))
        assigned = (
            self._decode_codes(raw)
            if meta.get("dtype") == "pq"
            else self._upcast(raw)
        )
        return IVFIndex(
            centers=meta["centers"],
            assigned=assigned,
            n_cells=meta["n_cells"],
        )

    def search(
        self,
        queries: DataFrame,
        k: int = 5,
        n_probe: int = 4,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        round_to: int = 6,
        rerank: int | None = None,
        corpus: DataFrame | None = None,
    ) -> DataFrame:
        """ANN top-k over the STORED vectors — the dedup store doubles
        as the retrieval index (one artifact serves 'is this new?' and
        'what is this near?', the two questions a training-data
        pipeline asks of the same embeddings).

        float stores: :func:`similarity.ivf_search` over the decoded
        index — probe selection driver-side, the probed-cell isin
        filter prunes the partitioned scan, per-batch BLAS cosine with
        local top-k before the exchange. Returns (query_id,
        neighbor_id, cosine_sim, rn); ``rerank``/``corpus`` are
        ignored — float scores are already exact.

        pq stores: :func:`pq.ivfpq_search`'s ADC directly over the RAW
        code table — the probed cells are read as m smallints/row and
        scored by per-query lookup tables; no reconstruction
        materializes. Returns (query_id, neighbor_id, pq_sim, rn);
        ``pq_sim`` is exact-query × quantized-corpus cosine (exact when
        the codebook memorizes, approximate within the reconstruction
        margin otherwise — same caveat as the dedup path, measured in
        SCALE.md r10). When the caller still holds the RAW embedding
        frame (the store never does), ``rerank``/``corpus`` enable the
        IVFADC+R accuracy recovery: an n_q × rerank ADC shortlist is
        exactly rescored against the raw vectors and the result carries
        exact ``cosine_sim`` — code-table scan cost, brute-force
        scores.

        A store whose first increment never committed (meta shell, no
        data) returns a TYPED empty result rather than a scan error —
        a scheduled search job must no-op, not crash, before first
        data (the stats()/compact() posture)."""
        from xdump_spark import fsutil
        from xdump_spark.operators.similarity import _id_type

        meta = self._meta()
        if not fsutil.list_data_files(self.spark, self._assigned_path(meta)):
            score = "pq_sim" if (
                meta.get("dtype") == "pq" and rerank is None
            ) else "cosine_sim"
            return self.spark.createDataFrame(
                [],
                f"query_id {_id_type(queries, id_col)}, neighbor_id "
                f"long, {score} double, rn int",
            )
        if meta.get("dtype") == "pq":
            from xdump_spark.operators.pq import (
                IVFPQIndex,
                PQCodebook,
                ivfpq_search,
            )

            index = IVFPQIndex(
                centers=meta["centers"],
                codebook=PQCodebook.from_dict(meta["codebook"]),
                codes=self.spark.read.parquet(self._assigned_path(meta)),
                n_cells=meta["n_cells"],
            )
            return ivfpq_search(
                index, queries, k=k, n_probe=n_probe,
                id_col=id_col, vec_col=vec_col, round_to=round_to,
                rerank=rerank, corpus=corpus,
            )
        from xdump_spark.operators.similarity import ivf_search

        return ivf_search(
            self.index(), queries, k=k, n_probe=n_probe,
            id_col=id_col, vec_col=vec_col, round_to=round_to,
        )

    def read_cells(self, cells: list[int]) -> DataFrame | None:
        """Stored members of just the given cells — a partition-pruned
        scan (the store can be arbitrarily large; an increment only
        ever reads the cells its batch touches). None while the store
        holds no data yet (meta written, no committed increment)."""
        from xdump_spark import fsutil

        path = self._assigned_path()
        if not fsutil.list_data_files(self.spark, path):
            return None
        pruned = self.spark.read.parquet(path).filter(
            F.col("cell").isin([int(c) for c in cells])
        )
        if self._store_dtype() == "pq":
            # decode AFTER the partition-pruned scan: IO reads m
            # smallints per row; reconstruction is executor-side
            # gathers. vh rides along for the exact-hash channel.
            return self._decode_codes(pruned, keep=("vh",))
        return self._upcast(pruned)

    def vectors(self, id_col: str = "vec_id",
                vec_col: str = "embedding",
                reconstructed: bool = False) -> DataFrame:
        """The stored (id, vector) rows of a FLOAT store — the store
        serving as its own embedding table (r12): ``mmr_rerank`` (and
        any other consumer of candidate vectors) no longer needs a
        separate raw-embedding parquet when the store holds the floats
        anyway, which is exactly the RAG front door's layout
        (hash-embedded chunks in a float store). One column-pruned
        scan of (neighbor_id, cv) — cells/hashes never read; float32
        stores upcast at read like every other exit point.

        Raises on a pq store by default: codes are quantized, and
        silently serving reconstructions as "the vectors" would change
        MMR's diversity arithmetic without the caller opting in.
        ``reconstructed=True`` is that opt-in (r12 verdict "What's
        missing #2"): PQ reconstructions are served as DIVERSITY
        vectors — the manifold probe measures recon cosine 0.93-0.99,
        plenty for an MMR penalty term, though NOT for exact scoring
        (use ``search(rerank=..., corpus=...)`` for corrected
        distances). The codes scan stays pruned (m smallints per row);
        reconstruction is the executor-side
        :func:`~xdump_spark.operators.pq.pq_reconstruct` gather, the
        ADC serving path's own decode. For exact vectors, pass the
        raw-embedding table (CLI ``--corpus``).

        Caveat (the family contract): a crash between a survivor
        append and its re-run can leave duplicate (id, vector) rows —
        harmless here as everywhere (the vectors are identical);
        ``mmr_rerank`` drops duplicate candidate ids in its kernel."""
        from xdump_spark import fsutil

        if not self.exists():
            raise ValueError(
                "VectorStore.vectors(): the store holds no vectors yet"
            )
        is_pq = self._store_dtype() == "pq"
        if is_pq and not reconstructed:
            raise ValueError(
                "VectorStore.vectors(): this store holds pq CODES, not "
                "float vectors — supply the raw-embedding table for "
                "vector consumers (CLI --corpus), opt into PQ "
                "reconstructions with vectors(reconstructed=True) "
                "(CLI --allow-recon; diversity-grade, not "
                "exact-score-grade), or use a float store"
            )
        path = self._assigned_path()
        if not fsutil.list_data_files(self.spark, path):
            # no committed increment yet: the id TYPE is unknowable (it
            # is whatever the first batch brings), so refuse rather
            # than guess a schema the caller would join against
            raise ValueError(
                "VectorStore.vectors(): the store holds no vectors yet"
            )
        raw = self.spark.read.parquet(path)
        if is_pq:
            decoded = self._decode_codes(raw)
        else:
            decoded = self._upcast(raw.select("neighbor_id", "cv"))
        return decoded.select(
            F.col("neighbor_id").alias(id_col), F.col("cv").alias(vec_col)
        )

    def probe_hashes(self, batch: DataFrame) -> DataFrame:
        """The exact_guard probe: which of the batch's exact-vector
        hashes are ALREADY STORED anywhere in the store, regardless of
        cell? ``batch``: (neighbor_id, vh). Returns only the hit rows,
        (neighbor_id, guard_kept) where ``guard_kept`` is the min-id
        stored twin — the evidence id the increment kernel taints with.

        Plan shape: one column-pruned scan of (neighbor_id, vh) over
        the whole store — parquet reads ~16 B/row and never touches
        vectors or codes — with the (small) batch BROADCAST into it;
        the history never shuffles, and the groupBy reduces to at most
        batch-size rows before any exchange. This is the increment's
        only whole-store pass, and it is the point: the in-cell vh
        channel sees only the touched cells, which after a pq retrain
        is not where a re-send's twin necessarily lives. Empty result
        on a store with no data (or a pre-guard store without a vh
        column)."""
        from xdump_spark import fsutil
        from xdump_spark.operators.similarity import _id_type

        idt = _id_type(batch, "neighbor_id")
        empty = self.spark.createDataFrame(
            [], f"neighbor_id {idt}, guard_kept {idt}"
        )
        if not self.exists():
            return empty
        path = self._assigned_path()
        if not fsutil.list_data_files(self.spark, path):
            return empty
        stored = self.spark.read.parquet(path)
        if "vh" not in stored.columns:
            return empty
        q = batch.select(
            F.col("neighbor_id").alias("_qid"), F.col("vh")
        )
        return (
            stored.select("neighbor_id", "vh")
            .join(F.broadcast(q), "vh", "inner")
            .groupBy("_qid")
            .agg(F.min("neighbor_id").alias("guard_kept"))
            .select(F.col("_qid").alias("neighbor_id"), "guard_kept")
        )

    def append_assigned(self, assigned: DataFrame) -> None:
        # one narrow shuffle of the (small) increment so each touched
        # cell gains ~one file per append instead of one per upstream
        # task (measured at 200k×64d, SCALE.md r8: 10 increments wrote
        # 14,349 files without this and the per-increment cost ROSE
        # 16→59 s on the accumulating listing; with it the pile stays
        # ~cells-sized and compaction becomes weekly maintenance, not a
        # per-day necessity)
        dt = self._store_dtype()
        if dt == "pq":
            assigned = self._encode_codes(assigned)
        else:
            # explicit column set: a float store's schema must stay
            # uniform for the store's life — vh is stored iff the guard
            # was on at creation, never because a caller happened to
            # pass it
            cols = ["neighbor_id", "cv", "cn", "cell"]
            if self.guard_enabled():
                if "vh" not in assigned.columns:
                    assigned = assigned.withColumn(
                        "vh", F.xxhash64(F.col("cv"))
                    )
                cols.append("vh")
            assigned = assigned.select(*cols)
            if dt == "float32":
                assigned = assigned.withColumn(
                    "cv", F.col("cv").cast("array<float>")
                )
        assigned.repartition(F.col("cell")).write.mode("append").partitionBy(
            "cell"
        ).parquet(self._assigned_path())

    def stats(self) -> dict:
        """{files, bytes, rows, cells} — compaction trigger inputs
        (each increment appends files into every touched cell);
        [0-stats] when the store does not exist yet (a scheduled
        maintenance job must no-op, not crash, before first data)."""
        from xdump_spark import fsutil

        if not self.exists():
            return {"files": 0, "bytes": 0, "rows": 0, "cells": 0}
        meta = self._meta()
        path = self._assigned_path(meta)
        files = fsutil.list_data_files(self.spark, path)
        cells = {f.rsplit("/", 2)[-2] for f, _ in files if "/cell=" in f}
        rows = self.spark.read.parquet(path).count() if files else 0
        out = {
            "files": len(files),
            "bytes": sum(b for _, b in files),
            "rows": rows,
            "cells": len(cells),
            "dtype": meta.get("dtype", "float64"),
            "exact_guard": bool(meta.get("exact_guard", False)),
        }
        if "codebook" in meta:  # pq: the codec shape a maintainer needs
            out["pq_m"] = int(meta["codebook"]["m"])
            out["pq_k"] = int(meta["codebook"]["k"])
        return out

    def compact(self, target_file_bytes: int = 128 << 20) -> dict:
        """Rewrite each cell partition's append pile into sized files —
        same discipline as the other stores (duplicate vectors are
        harmless: they only add redundant ≥-threshold edges to points
        that are already stored, so decisions cannot change). Returns
        {files_before, files_after, cells_compacted}; no-op on a store
        that does not exist yet."""
        if not self.exists():
            return {"files_before": 0, "files_after": 0, "cells_compacted": 0}
        rpt = _compact_partition_dirs(
            self.spark, self._assigned_path(), "/cell=", target_file_bytes,
        )
        return {
            "files_before": rpt["files_before"],
            "files_after": rpt["files_after"],
            "cells_compacted": rpt["partitions_compacted"],
        }

    def delete_ids(self, ids) -> dict:
        """Retention / right-to-be-forgotten: remove the given vector
        ids from the store, so future increments treat re-sends of (or
        near-dups of ONLY) those vectors as novel again, and
        :meth:`search` stops returning them.

        ``ids``: a one-column DataFrame (or a frame with a
        ``neighbor_id`` column, or a plain iterable). Two phases, both
        store-size-friendly: (1) a column-pruned scan of (cell,
        neighbor_id) — parquet never reads the vector/code bytes — maps
        the doomed ids to their cells (a vector lives in exactly ONE
        cell of the current generation); (2) only those cell partitions
        are rewritten with the ids anti-joined out. On a pq store the
        rewrite moves raw codes VERBATIM (the kernel reads leaf files —
        no decode/encode round trip), so survivor quantization is
        untouched. Centroids/meta are unchanged: deletion edits
        membership, not geometry (drift from heavy deletion shows up in
        ``ivf_balance`` like any other drift). A no-match request
        rewrites nothing. Crash discipline: see
        :func:`_delete_from_partitions`. Returns {deleted_rows,
        cells_rewritten}."""
        doomed = _as_id_frame(self.spark, ids, "neighbor_id")
        from xdump_spark import fsutil

        if not self.exists():  # absent OR meta-shell: no-op, not a crash
            return {"deleted_rows": 0, "cells_rewritten": 0}
        path = self._assigned_path()
        if not fsutil.list_data_files(self.spark, path):
            return {"deleted_rows": 0, "cells_rewritten": 0}
        doomed = _delete_side(doomed)
        hits = (
            self.spark.read.parquet(path)
            .select("cell", "neighbor_id")
            .join(doomed, "neighbor_id", "left_semi")
            .groupBy("cell")
            .agg(F.count("*").alias("n"))
            .collect()
        )
        if not hits:
            return {"deleted_rows": 0, "cells_rewritten": 0}
        n = _delete_from_partitions(
            self.spark, path, "cell", doomed, ["neighbor_id"],
            only_values=[int(r["cell"]) for r in hits],
        )
        # right-to-be-forgotten is about BYTES, not just liveness: a
        # crashed retrain's orphan generation dir (unreferenced, swept
        # by the next retrain anyway) may still hold the doomed
        # vectors — purge every non-live generation now
        live_rel = self._meta().get("assigned_dir", "assigned")
        for name in fsutil.list_names(self.spark, self.path):
            if name.startswith("assigned") and name != live_rel:
                fsutil.delete(self.spark, fsutil.join(self.path, name))
        return {
            "deleted_rows": int(sum(r["n"] for r in hits)),
            "cells_rewritten": n,
        }

    def retrain(
        self,
        n_cells: int,
        seed: int = 42,
        max_iter: int = 5,
        sample_fraction: float | None = None,
    ) -> dict:
        """Re-fit the centroid set and re-bucket the stored history —
        the executable form of the ``ivf_balance`` retrain trigger (a
        drifted store previously could only raise forever; the
        ``max_cell`` guards route here).

        Semantics: accepted MEMBERSHIP is preserved exactly — the same
        (id, vector) rows, re-assigned to fresh KMeans centroids (fit
        over the stored vectors, or a ``sample_fraction`` at scale).
        Past ACCEPT/REJECT decisions are history and are not revisited;
        only future increments see the new geometry. Note the standard
        SemDeDup scoping consequence: dedup is per-cell, so a FINER
        retrained geometry narrows each increment's comparison scope —
        stored vectors still self-reject exactly (a vector and its dup
        always share a cell), but borderline cross-vector pairs that
        only met inside a coarse cell may no longer be compared.

        Commit protocol (atomic meta swap, the manifest-last posture of
        the BM25 segment store): the new generation's re-bucketed data
        is written COMPLETELY to ``assigned_g<N+1>`` first, then the
        meta file — which names the live data dir — is swapped via
        tmp+rename (``_write_meta``). A crash before the rename leaves
        the old generation fully live; after it, the old dir is
        unreferenced and is swept (a crash between meta-write and sweep
        leaves only a harmless orphan dir, removed by the next
        retrain's sweep).

        Scale shape: one full scan of the store (a deliberate
        maintenance cost, like compaction), one KMeans fit (sample at
        1e9+ rows), one partitioned re-write. Nothing collects to the
        driver except the centroid matrix."""
        from xdump_spark import fsutil
        from xdump_spark.operators.similarity import ivf_build

        meta = self._meta()
        apath = self._assigned_path(meta)
        # a meta-only shell (first increment crashed before its commit)
        # has no assigned dir at all — same "no vectors" condition as an
        # empty one, not a PATH_NOT_FOUND crash
        if not fsutil.list_data_files(self.spark, apath):
            raise ValueError("VectorStore.retrain: store holds no vectors")
        is_pq = meta.get("dtype") == "pq"
        guarded = bool(meta.get("exact_guard", False))
        raw = self.spark.read.parquet(apath)
        # pq: fit on the reconstructions, re-bucket with codes AND the
        # exact-vector hashes passed through VERBATIM — re-deriving
        # either from reconstructions would silently change them (vh
        # especially: hash(recon) != hash(original) would break the
        # exact-dup channel for everything stored before the retrain)
        stored = (
            self._decode_codes(raw, keep=("codes", "vh"))
            if is_pq
            else self._upcast(raw)
        )
        n_rows = stored.count()
        if n_rows < 2:
            raise ValueError(
                "VectorStore.retrain: needs >= 2 stored vectors, "
                f"holds {n_rows}"
            )
        k = max(2, min(int(n_cells), n_rows))
        idx = ivf_build(
            stored.select(F.col("neighbor_id"), F.col("cv")),
            id_col="neighbor_id", vec_col="cv", n_cells=k, seed=seed,
            max_iter=max_iter, sample_fraction=sample_fraction,
            persist=False,
        )
        gen = int(meta.get("generation", 0)) + 1
        new_rel = f"assigned_g{gen}"
        if is_pq:
            # re-bucket the ORIGINAL codes/hashes against the new
            # centroids (ivf_assign passthrough): the retrain touches
            # assignments only — codes and vh survive bit-identically
            from xdump_spark.operators.similarity import ivf_assign

            gen_data = ivf_assign(
                idx.centers, stored, id_col="neighbor_id", vec_col="cv",
                keep=("codes", "vh"),
            ).select("neighbor_id", "codes", "vh", "cell")
        elif guarded:
            # float store with the exact-resend guard: the stored vh
            # hashes must survive the re-bucketing VERBATIM (same
            # reason as the pq vh above — re-hashing would be a no-op
            # for float64 but a silent channel break for float32,
            # whose stored cv is the rounded vector)
            from xdump_spark.operators.similarity import ivf_assign

            gen_data = ivf_assign(
                idx.centers, stored, id_col="neighbor_id", vec_col="cv",
                keep=("vh",),
            ).select("neighbor_id", "cv", "cn", "cell", "vh")
            if meta.get("dtype", "float64") == "float32":
                gen_data = gen_data.withColumn(
                    "cv", F.col("cv").cast("array<float>")
                )
        else:
            gen_data = idx.assigned
            if meta.get("dtype", "float64") == "float32":
                gen_data = gen_data.withColumn(
                    "cv", F.col("cv").cast("array<float>")
                )
        # repartition to the new cells first — the append discipline
        # (SCALE.md r8): without it every upstream task writes a sliver
        # file into every cell it touches and the fresh generation is
        # BORN with the file pile compaction exists to fix
        gen_data.repartition(F.col("cell")).write.mode("overwrite").partitionBy(
            "cell"
        ).parquet(fsutil.join(self.path, new_rel))
        new_meta = dict(meta)
        new_meta.update(
            {
                "centers": idx.centers,
                "n_cells": k,
                "generation": gen,
                "assigned_dir": new_rel,
            }
        )
        # rename-atomic: a crash anywhere before this line leaves the
        # OLD meta (and old generation) fully live; after it the new
        # generation is live and the old dir is merely unreferenced
        self._write_meta(new_meta)
        # sweep every unreferenced generation (incl. crash orphans)
        for name in fsutil.list_names(self.spark, self.path):
            if name.startswith("assigned") and name != new_rel:
                fsutil.delete(self.spark, fsutil.join(self.path, name))
        return {"n_cells": k, "rows": n_rows, "generation": gen}


def incremental_semantic_dedup(
    new_vectors: DataFrame,
    store: VectorStore,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    max_cell: int = 50_000,
    seed: int = 42,
    defer_commit: bool = False,
    strip_bytes: int | None = None,
    count_store: bool = False,
) -> IncrementResult:
    """One SEMANTIC dedup increment: accept a new vector iff its
    duplicate cluster (cosine ≥ ``threshold``, within its centroid
    cell) touches neither the stored history nor a smaller-id survivor
    of its own batch — ``incremental_neardup``'s components semantics
    in embedding space (SemDeDup per cell, store-tainted clusters
    rejected wholesale, min-id survivor).

    Scale shape: assign the batch against the FROZEN stored centroids
    (one Arrow matmul pass, ``similarity.ivf_assign``); read only the
    touched cells of the history (partition-pruned — the store never
    rescans); one groupBy(cell) → applyInPandas kernel does the
    new-vs-stored and new-vs-new cosine + union-find per cell. The
    kernel is strip-chunked (``similarity._incremental_semantic_cell_
    kernel``): it never materializes the (new+stored)² cosine matrix —
    per-task peak is the |cell|×dim input plus one ≤ ``strip_bytes``
    float64 strip, at ANY admitted cell size. Nothing is ever
    collected; ``rejects`` is a DataFrame (dup_id, kept_id, est) where
    ``est`` is the doc's best direct cosine edge. A cell whose COMBINED
    new+stored membership exceeds ``max_cell`` (a per-task COMPUTE
    bound, not a memory bound) raises with retrain guidance
    (``ivf_balance`` + :meth:`VectorStore.retrain`).

    First increment: fits KMeans on the batch itself and writes the
    store (centroids frozen from then on). ``defer_commit`` as in the
    other increments — duplicate appended vectors cannot change a
    later increment's decisions (dup rows only add redundant ≥-threshold
    edges to already-stored points).

    ``count_store`` (default False as of r10 — a BREAKING default
    flip, aligning the direct API with the streaming twins): opts back
    INTO the post-commit full-store row count (otherwise ``store_rows``
    is -1). The count is REPORTING, not a decision input, and at 1e9
    stored vectors it is a full metadata scan paid on every increment —
    read ``store.stats()`` on a maintenance cadence instead
    (``defer_commit=True`` always skips it).
    """
    from xdump_spark.operators.similarity import (
        _as_double,
        _id_type,
        _incremental_semantic_cell_kernel,
        _matrix,
        _norm_udf,
        ivf_assign,
        ivf_build,
    )
    import numpy as np
    import pandas as pd

    if strip_bytes is None:
        from xdump_spark.operators.similarity import _STRIP_BYTES

        strip_bytes = _STRIP_BYTES
    spark = new_vectors.sparkSession
    if store.exists():
        centers = store.centers()
        assigned_new = None
    elif int(n_cells) == 1 or new_vectors.count() == 1:
        # degenerate single-cell first fit (semantic_dedup's n_cells=1
        # baseline branch): KMeans requires k >= 2 — the lone centroid
        # is just the batch's mean vector
        c = new_vectors.select(
            F.col(id_col).alias("neighbor_id"),
            _as_double(F.col(vec_col)).alias("cv"),
        ).withColumn("cn", _norm_udf(F.col("cv")))
        dim_ = len(c.select("cv").first()["cv"])
        mean = c.select(
            F.array(*[F.avg(F.col("cv")[i]) for i in range(dim_)]).alias("m")
        ).collect()[0]["m"]
        centers = [list(mean)]
        assigned_new = c.withColumn("cell", F.lit(0))
    else:
        idx = ivf_build(
            new_vectors, id_col=id_col, vec_col=vec_col,
            n_cells=min(n_cells, max(2, new_vectors.count())),
            seed=seed, persist=False,
        )
        centers = idx.centers
        assigned_new = idx.assigned
    if not store.exists():
        # create the store shell (centroids — and for pq stores the
        # codebook — frozen from now on) — the rename-atomic commit: a
        # crash mid-write leaves no meta file, so the next increment
        # correctly re-fits (nothing was stored)
        store._write_meta(
            store._creation_meta(centers, new_vectors, id_col, vec_col)
        )
    if assigned_new is None:
        assigned_new = ivf_assign(centers, new_vectors, id_col, vec_col)
    guard_on = store.guard_enabled()
    if store._store_dtype() == "pq" or guard_on:
        # the exact-vector hash channel: a byte-identical re-send lands
        # in its stored twin's cell (same exact vector, same argmin —
        # deterministic while the generation's centroids stand) and
        # must reject at est 1.0 no matter how coarse the codebook is.
        # After a RETRAIN the stored side was re-bucketed by its
        # reconstruction, so re-sends whose quantization crossed a cell
        # boundary escape until the next exact pass — the measured
        # scope-churn caveat documented on the class (same class as
        # float32's 0.5%, at quantization-sized epsilon) — UNLESS the
        # store carries the exact_guard, whose global probe below
        # closes exactly that window.
        assigned_new = assigned_new.withColumn(
            "vh", F.xxhash64(F.col("cv"))
        )
    assigned_new = assigned_new.localCheckpoint(eager=True)

    thr, mc, sb = float(threshold), int(max_cell), int(strip_bytes)
    idt = _id_type(new_vectors, id_col)

    touched = [r["cell"] for r in assigned_new.select("cell").distinct().collect()]
    stored = store.read_cells(touched) if touched else None

    new_tagged = assigned_new.withColumn("_new", F.lit(True))
    if guard_on and touched:
        # global exact-resend probe (cell-independent): hit rows carry
        # their stored twin's id into the kernel, which treats the twin
        # as present at cosine 1.0 — cluster taint semantics unchanged.
        # Skipped entirely when the increment is EMPTY post-upstream-
        # dedup (touched == []): the probe's whole-store scan costs ~1 s
        # of scheduling even for a no-op batch (SCALE.md r11 decade
        # table; r11 verdict Next #7), and an empty batch can hit
        # nothing.
        gm = store.probe_hashes(assigned_new.select("neighbor_id", "vh"))
        new_tagged = new_tagged.join(
            F.broadcast(gm), "neighbor_id", "left_outer"
        )
        if stored is not None:
            stored = stored.withColumn(
                "guard_kept", F.lit(None).cast(idt)
            )
    both = (
        new_tagged.unionByName(stored.withColumn("_new", F.lit(False)))
        if stored is not None
        else new_tagged
    )
    out_schema = (
        f"dup_id {idt}, kept_id {idt}, est double, _surv boolean"
    )

    def kernel(key, pdf):
        n = len(pdf)
        if n > mc:
            raise ValueError(
                f"incremental_semantic_dedup: cell {key[0]} holds {n} "
                f"(new+stored) vectors > max_cell={mc}; the centroid set "
                "has drifted or is too coarse — check "
                "ivf_balance(store.index()) and store.retrain(n_cells)"
            )
        new_mask = pdf["_new"].to_numpy()
        if not new_mask.any():
            return pd.DataFrame(
                {"dup_id": [], "kept_id": [], "est": [], "_surv": []}
            )
        M = _matrix(pdf["cv"])
        ids = pdf["neighbor_id"].to_numpy()
        vh = pdf["vh"].to_numpy() if "vh" in pdf.columns else None
        gk = None
        if "guard_kept" in pdf.columns:
            s = pdf["guard_kept"].astype(object).where(
                pdf["guard_kept"].notna(), None
            )
            # a nullable long column reaches pandas as float64 — cast
            # hits back to the batch's id dtype so taint ids compare
            # and emit exactly (int ids stay exact up to 2**63)
            if pd.api.types.is_integer_dtype(pdf["neighbor_id"].dtype):
                gk = np.array(
                    [None if v is None else int(v) for v in s],
                    dtype=object,
                )
            else:
                gk = s.to_numpy()
        rows = _incremental_semantic_cell_kernel(
            M, ids, new_mask, thr, sb, vh=vh, guard_kept=gk
        )
        return pd.DataFrame(rows)

    verdicts = both.groupBy("cell").applyInPandas(kernel, out_schema)
    verdicts = verdicts.localCheckpoint(eager=True)
    accepted_ids = verdicts.filter("_surv").select(
        F.col("dup_id").alias("id")
    )
    rejects = verdicts.filter("NOT _surv").select("dup_id", "kept_id", "est")

    # LAZY on purpose (r15): both inputs are already checkpointed
    # (assigned_new above, accepted_ids from the checkpointed verdicts),
    # so each consumer — commit()'s append and the returned ``accepted``
    # — re-derives only a broadcast semi-join of in-memory frames.
    # Eagerly checkpointing it was a third full materialization job per
    # increment that bought nothing (the kernel cannot re-run; its
    # checkpoint is the one that matters).
    accepted_assigned = assigned_new.join(
        accepted_ids.withColumnRenamed("id", "neighbor_id"), "neighbor_id",
        "left_semi",
    )

    def commit() -> None:
        store.append_assigned(accepted_assigned)

    accepted = accepted_assigned.select(F.col("neighbor_id").alias("id"))
    if defer_commit:
        return IncrementResult(
            pairs=[], accepted=accepted, store_rows=-1,
            rejects=rejects, commit=commit,
        )
    commit()
    if count_store:
        all_cells = store.read_cells(list(range(len(centers))))
        n = all_cells.count() if all_cells is not None else 0
    else:
        n = -1
    return IncrementResult(
        pairs=[], accepted=accepted, store_rows=n, rejects=rejects
    )


def streaming_semantic_ingest(
    spark: SparkSession,
    input_dir: str,
    store: VectorStore,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.95,
    n_cells: int = 16,
    hash_embed_dim: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    rejects_dir: str | None = None,
    schema=None,
    trigger: dict | None = None,
    semantic_kwargs: dict | None = None,
):
    """Continuous SEMANTIC ingestion: parquet document drops LANDING in
    ``input_dir`` stream through (optional) hash-trick embedding →
    :func:`incremental_semantic_dedup` against the persistent
    ``VectorStore`` → append survivors to ``out_dir``. Completes the
    streaming-twin family (WET crawl / SFT conversations / preference
    pairs / semantic documents): SAME store serves batch and streaming
    arrival, so a drop ingested here is deduped against yesterday's
    `curate --doc-dedup semantic` run and vice versa.

    ``hash_embed_dim`` embeds ``text_col`` with
    :func:`~xdump_spark.operators.text.hash_embed_col` (model-free
    lexical geometry) when the drops carry no ``vec_col``; drops that
    already carry vectors leave it None. Rejected docs (dup_id, kept_id,
    est cosine) append to ``rejects_dir`` — evidence stays auditable
    under streaming arrival.

    Restart discipline (the family contract): the file-stream checkpoint
    remembers consumed files; output parquet is written BEFORE the store
    commit, so a crash between them re-delivers the batch — duplicate
    output rows are dedupable by ``id_col``, and re-appended vectors
    cannot change a later decision (the module's recovery invariant).
    The FIRST batch fits the frozen centroids exactly like the batch
    API. ``trigger`` defaults to ``{"availableNow": True}``
    (drain-and-stop). ``schema`` (StructType) is required by Spark for
    parquet file streams; when None it is inferred from the files
    already in ``input_dir``."""
    if schema is None:
        schema = spark.read.parquet(input_dir).schema
    raw = spark.readStream.schema(schema).parquet(input_dir)

    def _do_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        cur = batch_df
        if hash_embed_dim is not None:
            from xdump_spark.operators.text import hash_embed_col

            # pin the embedded batch: the dedup AND the survivors write
            # both consume it — without this the tokenize+hash+scatter
            # pass runs twice per drop
            cur = cur.withColumn(
                vec_col, hash_embed_col(text_col, dim=hash_embed_dim)
            ).localCheckpoint(eager=True)
        res = incremental_semantic_dedup(
            cur, store, threshold=threshold, id_col=id_col,
            vec_col=vec_col, n_cells=n_cells, defer_commit=True,
            **(semantic_kwargs or {}),
        )
        if rejects_dir is not None:
            res.rejects.write.mode("append").parquet(rejects_dir)
        survivors = cur.join(
            res.accepted.withColumnRenamed("id", id_col), id_col,
            "left_semi",
        )
        survivors.write.mode("append").parquet(out_dir)
        res.commit()

    writer = raw.writeStream.foreachBatch(_do_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    trig = trigger or {"availableNow": True}
    return writer.trigger(**trig).start()
