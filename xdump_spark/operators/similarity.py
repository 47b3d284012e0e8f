"""Similarity search over embedding columns (array<float>).

* brute-force cosine top-k — the exact baseline; the (small) query batch
  ships to executors inside a mapInPandas closure, each corpus partition
  is scored with ONE numpy matmul and reduced to a local top-k BEFORE the
  shuffle (map-side-combine for top-k).
* sign-LSH (random hyperplanes) bucketing — the scale path: candidates
  share a signature prefix bucket, exact cosine re-ranks within buckets.
* IVF (inverted-file) index — KMeans cells; probe selection happens on
  the DRIVER with numpy over the centroid matrix, so centroids never
  enter the query plan (a literal-array formulation would put ~n_cells
  structs in one expression tree — plan/codegen blowup at 4096 cells).
* exact near-dup pairs — cosine ≥ τ via bucketed candidates (scale) or
  a batched matmul against the collected corpus (oracle baseline,
  guarded small-n only).

Kernels are Arrow-batched numpy throughout: the previous higher-order-
function formulation (aggregate(zip_with(...))) is interpreted
row-at-a-time in Spark 4.1 (never whole-stage-codegen'd — measured in
round 1) and was the dominant cost of every cosine path. Everything is
double-precision: float32 inputs are upcast before any arithmetic so
results are engine-portable (and oracle-checkable: DuckDB computes
round(list_dot_product(a,b)/(sqrt(..)*sqrt(..)), 6) over ::DOUBLE[]).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from xdump_spark import cutover


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


# -- JVM expression twins (kept for SQL-side composition / oracles) ---------


def dot(a, b):
    """Higher-order-function dot product. Interpreted (not codegen'd) —
    use only for tiny frames or SQL-expressible oracle twins; hot paths
    go through the numpy kernels below."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a):
    return F.sqrt(dot(a, a))


def cosine(a, b):
    """dot(a,b) / (norm(a) * norm(b)) — the same association order DuckDB's
    list_cosine_similarity uses, for bit-comparable results."""
    return dot(a, b) / (norm(a) * norm(b))


# -- numpy kernels ----------------------------------------------------------


def _matrix(series: pd.Series) -> np.ndarray:
    """Arrow array column → (batch × dim) float64 matrix."""
    return np.vstack(series.to_numpy()).astype(np.float64, copy=False)


def _norms(M: np.ndarray) -> np.ndarray:
    return np.sqrt(np.einsum("ij,ij->i", M, M))


def _norm_udf(col):
    """Vectorized L2 norm column: one einsum per Arrow batch (the HOF
    norm() is interpreted per row). Created lazily — pandas_udf needs an
    active session, so a module-level instance would break import."""

    @pandas_udf("double")
    def vec_norm(v: pd.Series) -> pd.Series:
        return pd.Series(_norms(_matrix(v)))

    return vec_norm(col)


def _pair_cosine_udf(round_to: int = 6):
    """Rounded cosine over candidate PAIRS (va, vb, na, nb) — one einsum
    per Arrow batch. Used after bucketed candidate joins, where the pair
    set is already small (near-dups / shared buckets)."""

    @pandas_udf("double")
    def cos(va: pd.Series, vb: pd.Series, na: pd.Series, nb: pd.Series) -> pd.Series:
        A, B = _matrix(va), _matrix(vb)
        d = np.einsum("ij,ij->i", A, B)
        return pd.Series(np.round(d / (na.to_numpy() * nb.to_numpy()), round_to))

    return cos


# A collected vector row lives three times on the driver (the Arrow
# table, the float64 matrix, the pickled scoring closure): 3 × 8 B at the
# 64 dims the engine's embeddings carry.
_VECTOR_ROW_BYTES = 3 * 8 * 64


def _collect_vectors(df: DataFrame, what: str, instead: str):
    """(ids, float64 matrix, row norms) of a (id, vector) frame,
    collected as one bounded Arrow job; raises, naming ``instead``, past
    the driver budget."""
    tbl = cutover.bounded_collect(
        df, cutover.budget_bytes(df.sparkSession) // _VECTOR_ROW_BYTES,
        f"similarity.{what.replace(' ', '_')}", "refused",
    )
    if tbl is None:
        raise ValueError(f"{what} exceeds the driver budget; {instead}")
    ids = tbl.column(0).to_pylist()
    M = _matrix(tbl.column(1).to_pandas()) if ids else np.zeros((0, 0))
    return ids, M, _norms(M)


def _collect_queries(queries: DataFrame, id_col: str, vec_col: str):
    """Driver-collect the query batch (it is the broadcast side by
    contract: a query batch is small; the corpus is the big side — the
    contract is ENFORCED by the driver budget)."""
    return _collect_vectors(
        queries.select(id_col, vec_col), "query batch",
        "for corpus-vs-corpus similarity use embedding_neardup_pairs "
        "(bucketed) or split the query side into batches",
    )


def _local_topk(nid, col, qid, k):
    """Top-k row indices of one query's score column, ordered exactly as
    the final window (score DESC, neighbor id ASC), self-pair excluded."""
    col = np.where(nid == qid, -np.inf, col)
    order = np.lexsort((nid, -col))[:k]
    return order[np.isfinite(col[order])]


def _id_type(df: DataFrame, col: str) -> str:
    return df.schema[col].dataType.simpleString()


# -- strip-chunked per-cell cosine kernels ----------------------------------
#
# A cell of n vectors must NEVER materialize the n x n cosine matrix: at
# the max_cell=50k default that is a 20 GB float64 allocation in ONE task
# (an executor OOM long before any guard can raise). Both SemDeDup
# kernels instead walk the matrix in row STRIPS of at most _STRIP_BYTES:
# peak per task = the |cell| x dim input matrix + one float64 strip + its
# boolean mask — identical results (same edges, same components, same
# evidence maxima), bounded memory at any admitted cell size. Components
# are merged with the C-speed flat-label row merge (_merge_row_hits, r9)
# rather than a per-edge Python loop, so an adversarial all-duplicates
# cell costs one extra O(n^2) vectorized sweep, not O(edges) Python
# (measured: 65 s -> ~1 s at n=10k all-dups; the pre-r9 loop projected
# to ~27 min at the 50k cap). max_cell therefore bounds per-task COMPUTE
# (the O(|cell|^2 * dim) BLAS flops), not memory; the raise guidance
# stays "raise n_cells".

_STRIP_BYTES = 64 * 1024 * 1024


def _strip_rows(n_cols: int, strip_bytes: int = _STRIP_BYTES) -> int:
    """Rows per cosine strip so one float64 strip stays <= strip_bytes."""
    return max(1, int(strip_bytes) // max(1, int(n_cols) * 8))


def _merge_row_hits(labels: np.ndarray, ga: int, row_hits: np.ndarray) -> None:
    """Union node ``ga`` with every node in boolean ``row_hits``, on a
    FLAT label array (labels[i] is i's component id at all times — no
    parent chains). The replacement for the per-edge Python union loop
    (r8 verdict advisory #2): an all-duplicates cell at the 50 k cap has
    ~1.25e9 true edges, and iterating them in Python is O(edges) ≈
    tens of minutes in one task. Here the per-row work is C-speed —
    gather the hit labels, np.unique them, and relabel each absorbed
    component once. Total relabel cost is O(merges × n) and there are
    at most n-1 merges in a cell's lifetime, so the worst case is one
    O(n²) C-speed sweep (~seconds at the cap) instead of O(edges)
    Python. Components are identical to edge-by-edge union-find: row
    hits connect ga to exactly those nodes, in any merge order."""
    cand = labels[row_hits]
    if not len(cand):
        return
    tgt = cand.min()
    la = labels[ga]
    if la < tgt:
        tgt = la
    for r in np.unique(cand):
        if r != tgt:
            labels[labels == r] = tgt
    if la != tgt:
        labels[labels == la] = tgt


def _semantic_cell_kernel(
    M: np.ndarray,
    ids: np.ndarray,
    thr: float,
    center: np.ndarray,
    cnorm: float,
    by_sim: bool,
    strip_bytes: int = _STRIP_BYTES,
):
    """Within-cell SemDeDup: union-find over cosine >= thr pairs (strict
    upper triangle), one survivor per component ((centroid_sim, id)
    lexsort when ``by_sim`` else min id). Returns (csim, is_survivor).

    Strip-chunked: never allocates the |cell|^2 matrix — each strip is
    <= ``strip_bytes`` of float64 plus a same-shape boolean mask."""
    n = len(ids)
    norms = _norms(M)
    csim = np.round((M @ center) / (norms * cnorm), 6)
    Mn = M / norms[:, None]
    labels = np.arange(n)
    cols = np.arange(n)
    step = _strip_rows(n, strip_bytes)
    for i0 in range(0, n, step):
        i1 = min(n, i0 + step)
        S = Mn[i0:i1] @ Mn.T
        hit = S >= thr
        hit &= cols[None, :] > np.arange(i0, i1)[:, None]
        for a in np.nonzero(hit.any(axis=1))[0]:
            _merge_row_hits(labels, i0 + int(a), hit[a])
    roots = labels
    order = np.lexsort((ids, csim)) if by_sim else np.lexsort((ids,))
    survivor = np.zeros(n, dtype=bool)
    seen: set = set()
    for i in order:
        r = roots[i]
        if r not in seen:
            seen.add(r)
            survivor[i] = True
    return csim, survivor


def _incremental_semantic_cell_kernel(
    M: np.ndarray,
    ids: np.ndarray,
    new_mask: np.ndarray,
    thr: float,
    strip_bytes: int = _STRIP_BYTES,
    vh: np.ndarray | None = None,
    guard_kept: np.ndarray | None = None,
):
    """One cell of :func:`incremental_semantic_dedup`: union-find over
    new-new cosine >= thr edges, store-taint via the best new-stored hit,
    min-id survivor per untainted cluster. Returns the verdict columns
    (dup_id, kept_id, est, _surv) as a dict of lists.

    Strip-chunked over the NEW rows: per strip one (strip x n_new) and
    one (strip x n_stored) float64 block, each <= ``strip_bytes`` — the
    full (new+stored)^2 matrix is never built. Self-similarity entries
    are set to 0.0 (not masked out), matching the reference formulation
    where the diagonal is zeroed: evidence ``est`` is therefore >= 0.

    ``vh`` (pq stores): per-row exact-vector hashes aligned with
    ``ids``. A new row whose hash equals a STORED row's is a
    byte-identical re-send and store-taints at est 1.0 regardless of
    what the stored RECONSTRUCTION scores — the exact-duplicate class
    (the overwhelmingly common one) must never slip through the
    quantization margin.

    ``guard_kept`` (exact_guard stores): per-row stored-twin ids
    aligned with ``ids`` (None where no twin), produced by the
    GLOBAL hash probe (:meth:`VectorStore.probe_hashes`). The vh
    channel above only sees stored twins that landed in THIS cell;
    after a retrain a pq store's rows sit in reconstruction-assigned
    cells, so a re-send can miss its twin entirely. A guard hit is
    treated exactly as if the twin were present in the cell at cosine
    1.0 — it store-taints the row's whole new-new cluster, so cluster
    semantics are unchanged."""
    new_i = np.nonzero(new_mask)[0]
    old_i = np.nonzero(~new_mask)[0]
    k = len(new_i)
    n = len(ids)
    norms = _norms(M)
    Mn = M / norms[:, None]
    N = Mn[new_i]
    O = Mn[old_i] if len(old_i) else None

    labels = np.arange(k)
    nn_best = np.zeros(k)
    best_old_sim = np.zeros(k)
    best_old = np.full(k, -1)
    new_cols = np.arange(k)
    step = _strip_rows(n, strip_bytes)
    for s0 in range(0, k, step):
        s1 = min(k, s0 + step)
        Ns = N[s0:s1]
        rows_g = np.arange(s0, s1)
        Snn = Ns @ N.T
        Snn[np.arange(s1 - s0), rows_g] = 0.0  # zero self, as fill_diagonal did
        if k > 1:
            nn_best[s0:s1] = Snn.max(axis=1)
        hit = Snn >= thr
        hit &= new_cols[None, :] > rows_g[:, None]
        for a in np.nonzero(hit.any(axis=1))[0]:
            _merge_row_hits(labels, s0 + int(a), hit[a])
        if O is not None:
            Sno = Ns @ O.T
            j = np.argmax(Sno, axis=1)
            sims = Sno[np.arange(s1 - s0), j]
            best_old_sim[s0:s1] = sims
            best_old[s0:s1] = np.where(sims >= thr, old_i[j], -1)

    # exact-hash channel (pq stores): a new row hash-matching a stored
    # row is a byte-identical re-send — force a 1.0 store hit against
    # the min-id matching stored row, overriding any weaker
    # reconstruction cosine
    if vh is not None and len(old_i):
        by_hash: dict = {}
        for oi in old_i:
            h = vh[oi]
            if h not in by_hash or ids[oi] < ids[by_hash[h]]:
                by_hash[h] = oi
        for li in range(k):
            oi = by_hash.get(vh[new_i[li]])
            if oi is not None and best_old_sim[li] < 1.0:
                best_old_sim[li] = 1.0
                best_old[li] = oi

    # materialize the stored-twin ID per new row (an index into ids up
    # to here); the guard channel injects twins that are NOT in the
    # cell, so taint must key on actual ids, not matrix indices
    best_old_id = [
        ids[best_old[li]] if best_old[li] >= 0 else None for li in range(k)
    ]
    if guard_kept is not None:
        for li in range(k):
            g = guard_kept[new_i[li]]
            if g is not None and best_old_sim[li] < 1.0:
                best_old_sim[li] = 1.0
                best_old_id[li] = g

    # store taint: best stored hit per cluster ((-sim, stored_id) min)
    taint: dict = {}
    for li in range(k):
        if best_old_id[li] is not None:
            r = labels[li]
            cur = taint.get(r)
            cand = (-best_old_sim[li], best_old_id[li])
            if cur is None or cand < cur:
                taint[r] = cand

    # survivor per untainted cluster: min id
    surv_of: dict = {}
    order = np.argsort(ids[new_i], kind="stable")
    for li in order:
        r = labels[li]
        if r not in taint and r not in surv_of:
            surv_of[r] = ids[new_i[li]]

    ev = np.maximum(nn_best, best_old_sim)
    rows: dict = {"dup_id": [], "kept_id": [], "est": [], "_surv": []}
    for li in range(k):
        gid = ids[new_i[li]]
        r = labels[li]
        if r in taint:
            rows["dup_id"].append(gid)
            rows["kept_id"].append(taint[r][1])
            rows["est"].append(round(float(ev[li]), 6))
            rows["_surv"].append(False)
        elif surv_of[r] == gid:
            rows["dup_id"].append(gid)
            rows["kept_id"].append(gid)
            rows["est"].append(round(float(ev[li]), 6))
            rows["_surv"].append(True)
        else:
            rows["dup_id"].append(gid)
            rows["kept_id"].append(surv_of[r])
            rows["est"].append(round(float(ev[li]), 6))
            rows["_surv"].append(False)
    return rows


def _finish_topk(scored: DataFrame, k: int) -> DataFrame:
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", F.col("rn").cast("int").alias("rn"))
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector over the corpus.

    Plan shape: ONE pass over the corpus — each partition is scored with a
    single (batch × dim) @ (dim × n_q) matmul and reduced to a per-query
    local top-k BEFORE the exchange, so the shuffle carries at most
    n_partitions × n_q × k tiny rows instead of n_q × n_corpus score
    rows; a global window finishes the top-k (safe because the local and
    global orderings are identical, including the neighbor-id tie-break).
    Scores are rounded to ``round_to`` BEFORE ranking, matching the
    oracle's rank-on-rounded semantics."""
    qids, Q, qn = _collect_queries(queries, id_col, vec_col)
    out_schema = (
        f"query_id {_id_type(queries, id_col)}, "
        f"neighbor_id {_id_type(corpus, id_col)}, cosine_sim double"
    )
    if not qids:
        scored = corpus.sparkSession.createDataFrame([], out_schema)
        return _finish_topk(scored, k)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            C = _matrix(pdf[vec_col])
            nid = pdf[id_col].to_numpy()
            S = np.round((C @ Q.T) / np.outer(_norms(C), qn), round_to)
            out_q, out_n, out_s = [], [], []
            for j, qid in enumerate(qids):
                keep = _local_topk(nid, S[:, j], qid, k)
                out_q.extend([qid] * len(keep))
                out_n.extend(nid[keep])
                out_s.extend(S[keep, j])
            if out_q:
                yield pd.DataFrame(
                    {"query_id": out_q, "neighbor_id": out_n, "cosine_sim": out_s}
                )

    scored = corpus.select(id_col, vec_col).mapInPandas(score, out_schema)
    return _finish_topk(scored, k)


def sign_lsh_tables(threshold: float, n_planes: int = 8, recall_target: float = 0.9) -> int:
    """Number of hash tables for a target recall at a given cosine
    threshold (random-hyperplane S-curve): a pair at similarity τ agrees
    on one hyperplane bit with p = 1 - arccos(τ)/π, collides in one table
    with p^planes, and in ≥1 of T tables with 1-(1-p^planes)^T.

    Sign-LSH is a HIGH-threshold tool: at τ=0.95 four 8-plane tables reach
    ~0.9 recall, while τ=0.4 would need ~90 tables — for moderate-
    similarity search use the IVF index instead (ivf_build/ivf_search)."""
    import math

    p_bit = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    p_table = p_bit**n_planes
    if p_table >= 1.0:
        return 1
    return max(1, math.ceil(math.log(1.0 - recall_target) / math.log(1.0 - p_table)))


def _bucket_array_udf(dim: int, n_planes: int, n_tables: int, seed: int):
    """Vectorized sign-LSH signatures for all hash tables in one Arrow
    batch: a (batch × dim) @ (dim × tables·planes) matmul, bits packed per
    table. A Pandas UDF is the right tool here — 32 plane-dots per row as
    nested SQL `aggregate` expressions exceeds whole-stage codegen limits
    and falls back to slow interpretation, while numpy does the batch in
    one BLAS call. Returns array<long> of length n_tables (index = table)."""
    rng = np.random.default_rng(seed)
    P = rng.standard_normal((n_tables * n_planes, dim))
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @pandas_udf("array<long>")
    def buckets(v: pd.Series) -> pd.Series:
        M = np.vstack(v.to_numpy()).astype(np.float64)          # (batch, dim)
        bits = (M @ P.T) > 0                                    # (batch, T*p)
        per_table = [
            bits[:, t * n_planes : (t + 1) * n_planes] @ weights for t in range(n_tables)
        ]
        return pd.Series(list(np.stack(per_table, axis=1)))

    return buckets


def _with_buckets(df: DataFrame, vec: str, out_prefix: str, dim, n_planes, n_tables, seed):
    """Attach (tbl, bucket) rows via posexplode of the per-table signature
    array — a pair is a candidate if it collides in ANY table, trading
    compute for recall (P = 1-(1-p^planes)^tables per-bit agreement p)."""
    udf = _bucket_array_udf(dim, n_planes, n_tables, seed)
    return df.withColumn("_buckets", udf(F.col(vec))).select(
        "*", F.posexplode("_buckets").alias(f"{out_prefix}tbl", f"{out_prefix}bucket")
    ).drop("_buckets")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates share a sign-LSH bucket in any of
    ``n_tables`` tables, exact cosine re-ranks within. Recall < 1.0 by
    construction; at corpus scale the bucket join replaces the broadcast
    product with a shuffle on small keys, and scoring touches only the
    colliding pairs (numpy pair kernel)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", _norm_udf(F.col("qv")))
    q = _with_buckets(q, "qv", "", dim, n_planes, n_tables, seed)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", _norm_udf(F.col("cv")))
    c = _with_buckets(c, "cv", "", dim, n_planes, n_tables, seed)
    cos = _pair_cosine_udf(6)
    scored = (
        c.join(F.broadcast(q), ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn(
            "cosine_sim", cos(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"))
        )
        .select("query_id", "neighbor_id", "cosine_sim")
    )
    return _finish_topk(scored, k)


@dataclass
class IVFIndex:
    """A built inverted-file index: driver-small centroids plus the
    cell-assigned corpus. Build once, search many — the reference pattern
    for repeated query batches (re-fitting KMeans per query batch would
    make the fit the dominant cost at corpus scale)."""

    centers: list[list[float]]   # n_cells × dim, driver-side numpy only
    assigned: DataFrame          # (neighbor_id, cv, cn, cell), persisted
    n_cells: int

    def unpersist(self) -> None:
        self.assigned.unpersist()


def ivf_build(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
    max_iter: int = 5,
    sample_fraction: float | None = None,
    persist: bool = True,
) -> IVFIndex:
    """Build the IVF index: fit KMeans (optionally on a sample — centroids
    only need a representative subset, so at 1e9 vectors fit on ~1e6), then
    assign every corpus vector to its cell in ONE model-transform pass.

    With ``persist`` (the build-once/search-many contract) the assigned
    frame is cached MEMORY_AND_DISK and the caller owns releasing it via
    ``IVFIndex.unpersist`` — persisted frames are NOT freed by GC, so an
    unreleased index leaks executor storage. At true scale write the index
    with ``ivf_write`` instead (partitioned by cell, so searches prune
    files); the in-session persist is the local analog."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", _norm_udf(F.col("cv")))
    fit_input = c.sample(sample_fraction, seed=seed) if sample_fraction else c
    km = KMeans(k=n_cells, seed=seed, maxIter=max_iter, featuresCol="_feat")
    model = km.fit(fit_input.withColumn("_feat", array_to_vector("cv")))
    centers = [ctr.tolist() for ctr in model.clusterCenters()]

    assigned = model.transform(c.withColumn("_feat", array_to_vector("cv"))).select(
        "neighbor_id", "cv", "cn", F.col("prediction").alias("cell")
    )
    if persist:
        assigned = assigned.persist(StorageLevel.MEMORY_AND_DISK)
        assigned.count()   # materialize eagerly: searches must not re-run the fit
    return IVFIndex(centers=centers, assigned=assigned, n_cells=n_cells)


def ivf_write(index: IVFIndex, path: str) -> None:
    """Persist the index to parquet PARTITIONED BY CELL — the true-scale
    layout: a search that probes 64 of 4096 cells reads ~1.5% of the
    files (partition pruning on the cell filter), and the centroid matrix
    is tiny JSON alongside.

    Commit order is data-first, meta-last with the meta as ONE file
    written tmp+rename (`fsutil.write_text_atomic` — the same r9
    discipline as VectorStore's liveness meta): a crash mid-write
    leaves either the OLD complete index (old meta still naming old
    centroids over the overwritten-in-place assigned dir is the one
    remaining inconsistency of the overwrite layout — use VectorStore
    generations when that window matters) or, on first write, no meta —
    never a torn meta that parses wrong."""
    import json

    from xdump_spark import fsutil

    index.assigned.write.mode("overwrite").partitionBy("cell").parquet(
        fsutil.join(path, "assigned")
    )
    spark = index.assigned.sparkSession
    meta = json.dumps({"centers": index.centers, "n_cells": index.n_cells})
    fsutil.write_text_atomic(spark, fsutil.join(path, "meta.json"), meta)


def _read_index_meta(spark, path: str, writer: str) -> dict:
    """The committed ``meta.json`` of a saved index — its one format
    marker. Raises when it is missing: the path holds no index, or one
    from before the single-file meta (a Spark-JSON ``meta/`` dir, no
    longer read)."""
    import json

    from xdump_spark import fsutil

    meta_file = fsutil.join(path, "meta.json")
    if not fsutil.exists_atomic(spark, meta_file):
        raise ValueError(
            f"no meta.json at {path}: not an index in the current format "
            "(a Spark-JSON meta/ dir is no longer read) — rebuild it "
            f"with {writer}"
        )
    return json.loads(fsutil.read_text_atomic(spark, meta_file))


def ivf_read(spark, path: str) -> IVFIndex:
    from xdump_spark import fsutil

    meta = _read_index_meta(spark, path, "ivf_write")
    assigned = spark.read.parquet(fsutil.join(path, "assigned"))
    return IVFIndex(
        centers=meta["centers"], assigned=assigned, n_cells=meta["n_cells"]
    )


def ivf_assign(
    centers: list[list[float]],
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: tuple = (),
) -> DataFrame:
    """Assign vectors to EXISTING centroids without refitting:
    (neighbor_id, cv, cn, cell) in one Arrow-batched pass — each batch is
    a single (batch × n_cells) distance matmul against the broadcast
    centroid matrix, argmin with the same squared-L2 + lowest-cell-index
    tie-break as KMeans transform / ivf_probe_cells. This is the
    maintenance half of the build-once contract: appended data reuses the
    trained centroids, so an append never rescans the existing corpus.

    ``keep`` names extra input columns passed through unchanged (e.g. a
    pq store's frozen codes/hashes during a re-bucketing retrain)."""
    Cent = np.asarray(centers, dtype=np.float64)
    c2 = np.einsum("ij,ij->i", Cent, Cent)
    spark = vectors.sparkSession
    b_cent = spark.sparkContext.broadcast((Cent, c2))

    kept_types = {
        k: dict(vectors.dtypes)[k] for k in keep
    }
    out_schema = (
        f"neighbor_id {_id_type(vectors, id_col)}, cv array<double>, "
        "cn double, cell int"
        + "".join(f", {k} {t}" for k, t in kept_types.items())
    )

    def assign(batches):
        C, cc2 = b_cent.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = _matrix(pdf["cv"])
            d2 = -2.0 * (V @ C.T) + cc2[None, :]  # ||v||² is rank-constant
            # vectorized argmin; ties break to the LOWEST cell index by
            # numpy's first-occurrence rule — identical to the lexsort
            # tie-break in ivf_probe_cells, without a per-row Python loop
            cell = np.argmin(d2, axis=1)
            out = {
                "neighbor_id": pdf["neighbor_id"],
                "cv": pdf["cv"],
                "cn": _norms(V),
                "cell": cell.astype(np.int32),
            }
            for k in keep:
                out[k] = pdf[k]
            yield pd.DataFrame(out)

    c = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("cv"),
        *[F.col(k) for k in keep],
    )
    return c.mapInPandas(assign, out_schema)


def ivf_append(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append new vectors to a STORED index (the ivf_write layout)
    without a rebuild: assign against the saved centroids and append
    parquet files INSIDE the per-cell partition directories — existing
    files are untouched, searches keep pruning by cell, and the
    append's cost is one pass over the new vectors only. Centroids are
    unchanged by design; monitor ``ivf_balance`` to decide when drift
    warrants a retrain."""
    from xdump_spark import fsutil

    centers = ivf_read(spark, path).centers
    assigned = ivf_assign(centers, new_vectors, id_col, vec_col)
    assigned.write.mode("append").partitionBy("cell").parquet(
        fsutil.join(path, "assigned")
    )


def ivf_balance(
    index: IVFIndex, hot_cell_factor: float = 4.0, max_empty_frac: float = 0.25
) -> dict:
    """Cell-occupancy health check — the retrain trigger for an
    append-maintained index. Appended data drifting off the trained
    distribution shows up as occupancy skew, which directly degrades
    probe pruning (a hot cell is scanned by most queries, an empty cell
    wastes a probe). One map-side-combined groupBy over the cell column
    (never the vectors); returns per-decision scalars:

    ``retrain_recommended`` = max cell > ``hot_cell_factor``× the mean
    or more than ``max_empty_frac`` of cells are empty."""
    counts = {
        int(r["cell"]): int(r["n"])
        for r in index.assigned.groupBy("cell").agg(F.count("*").alias("n")).collect()
    }
    n_total = sum(counts.values())
    n_cells = index.n_cells
    mean = n_total / n_cells if n_cells else 0.0
    max_n = max(counts.values(), default=0)
    empty = n_cells - len(counts)
    return {
        "n_vectors": n_total,
        "n_cells": n_cells,
        "empty_cells": empty,
        "max_cell": max_n,
        "max_over_mean": round(max_n / mean, 4) if mean else 0.0,
        "retrain_recommended": bool(
            (mean and max_n > hot_cell_factor * mean)
            or (n_cells and empty / n_cells > max_empty_frac)
        ),
    }


def cluster_balanced_sample(
    corpus: DataFrame,
    n_per_cluster: int,
    n_cells: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centers: list[list[float]] | None = None,
) -> DataFrame:
    """Diversity-preserving selection over an embedding column: k-means
    clusters (fresh ``ivf_build`` fit, or reuse ``centers`` from an
    existing index so sampling and search share one geometry), then a
    deterministic per-cluster quota — the cluster-balanced counterpart
    of ``curation.stratified_sample``'s label strata, used to keep
    boilerplate-dominated embedding modes from flooding a training
    sample while guaranteeing tail-cluster representation (the
    density-balancing step of the SemDeDup/D4 curation family).

    Returns (id, cell, cluster_rank) for the selected rows. The
    within-cluster order is md5(id, seed) — uniform, reproducible on any
    partitioning — and the rank window partitions BY CELL, so per-task
    state is one cluster's rows, never a global sort. Selected size =
    Σ min(|cell|, n_per_cluster) ≤ n_cells · n_per_cluster.

    Reproducibility scope: GIVEN centers, the selection is bit-identical
    on any input partitioning. A fresh fit inherits Spark ML KMeans'
    k-means|| init, whose seed semantics are partition-DEPENDENT — for
    cross-layout reproducibility (or to share geometry with an existing
    index), fit once and pass ``centers``."""
    if centers is None:
        idx = ivf_build(
            corpus, id_col=id_col, vec_col=vec_col, n_cells=n_cells,
            seed=seed, persist=False,
        )
        assigned = idx.assigned
    else:
        assigned = ivf_assign(centers, corpus, id_col=id_col, vec_col=vec_col)
    order = F.md5(F.concat_ws("|", F.col("neighbor_id"), F.lit(str(seed))))
    w = W.partitionBy("cell").orderBy(order, "neighbor_id")
    return (
        assigned.select("neighbor_id", "cell")
        .withColumn("cluster_rank", F.row_number().over(w))
        .filter(F.col("cluster_rank") <= n_per_cluster)
        .select(
            F.col("neighbor_id").alias(id_col),
            "cell",
            F.col("cluster_rank").cast("int").alias("cluster_rank"),
        )
    )


def ivf_probe_cells(
    index: IVFIndex, Q: np.ndarray, n_probe: int
) -> list[np.ndarray]:
    """Per-query ``n_probe`` nearest cells by squared L2 (matching KMeans
    assignment), computed on the DRIVER: an (n_q × n_cells) numpy distance
    matrix — no centroid literals in any Spark plan, bounded at any
    n_cells. Tie-break on cell index for determinism."""
    Cent = np.asarray(index.centers, dtype=np.float64)
    # ||q - c||² = ||q||² - 2 q·c + ||c||² ; the ||q||² term is rank-constant
    d2 = -2.0 * (Q @ Cent.T) + np.einsum("ij,ij->i", Cent, Cent)[None, :]
    cells = np.arange(Cent.shape[0])
    return [np.lexsort((cells, d2[j]))[:n_probe] for j in range(Q.shape[0])]


def ivf_search(
    index: IVFIndex,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
    round_to: int = 6,
) -> DataFrame:
    """Search a built IVF index: each query probes its ``n_probe`` nearest
    cells and re-ranks exactly within them — with 4096 cells / 64 probes
    that is a ~1.5% corpus scan per query batch instead of 100% (brute
    force). Probe selection is driver-side numpy (``ivf_probe_cells``);
    the probed cell set prunes the assigned corpus with a plain isin
    filter (partition pruning when the index is ``ivf_write``-stored),
    and scoring is one numpy matmul per batch with a per-query local
    top-k before the shuffle, exactly like ``cosine_topk``."""
    qids, Q, qn = _collect_queries(queries, id_col, vec_col)
    out_schema = (
        f"query_id {_id_type(queries, id_col)}, "
        f"neighbor_id {_id_type(index.assigned, 'neighbor_id')}, cosine_sim double"
    )
    if not qids:
        scored = index.assigned.sparkSession.createDataFrame([], out_schema)
        return _finish_topk(scored, k)

    probes = ivf_probe_cells(index, Q, n_probe)
    cell_to_q: dict[int, list[int]] = {}
    for j, cells in enumerate(probes):
        for cell in cells:
            cell_to_q.setdefault(int(cell), []).append(j)
    probed_cells = sorted(cell_to_q)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            # per query: gather candidate (nid, score) across this batch's
            # probed-cell groups, then one local top-k
            per_q_n: dict[int, list] = {}
            per_q_s: dict[int, list] = {}
            for cell, sub in pdf.groupby("cell"):
                qidx = cell_to_q.get(int(cell))
                if not qidx:
                    continue
                C = _matrix(sub["cv"])
                nid = sub["neighbor_id"].to_numpy()
                cn = sub["cn"].to_numpy()
                S = np.round(
                    (C @ Q[qidx].T) / np.outer(cn, qn[qidx]), round_to
                )
                for col, j in enumerate(qidx):
                    per_q_n.setdefault(j, []).append(nid)
                    per_q_s.setdefault(j, []).append(S[:, col])
            out_q, out_n, out_s = [], [], []
            for j, chunks in per_q_n.items():
                nid = np.concatenate(chunks)
                col = np.concatenate(per_q_s[j])
                keep = _local_topk(nid, col, qids[j], k)
                out_q.extend([qids[j]] * len(keep))
                out_n.extend(nid[keep])
                out_s.extend(col[keep])
            if out_q:
                yield pd.DataFrame(
                    {"query_id": out_q, "neighbor_id": out_n, "cosine_sim": out_s}
                )

    pruned = index.assigned.filter(F.col("cell").isin(probed_cells))
    scored = pruned.select("neighbor_id", "cv", "cn", "cell").mapInPandas(
        score, out_schema
    )
    return _finish_topk(scored, k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    max_iter: int = 5,
) -> DataFrame:
    """One-shot convenience: ``ivf_build`` + ``ivf_search``. Callers with
    repeated query batches should build once and search the index. Built
    WITHOUT persisting the assignment (nobody would ever release it —
    persisted frames leak storage across repeated one-shot calls); the
    single search evaluates the lazy assignment once anyway."""
    index = ivf_build(
        corpus, id_col=id_col, vec_col=vec_col, n_cells=n_cells, seed=seed,
        max_iter=max_iter, persist=False,
    )
    return ivf_search(index, queries, k=k, id_col=id_col, vec_col=vec_col, n_probe=n_probe)


def embedding_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    exact: bool = False,
    round_to: int = 6,
) -> DataFrame:
    """Pairs with cosine ≥ threshold.

    ``exact=True`` — baseline / oracle path: the corpus is collected to a
    driver matrix (refused past the driver budget) and each corpus
    partition computes one (batch × n) matmul, emitting only the pairs
    that clear the threshold — O(n²) multiply-adds in BLAS, never O(n²)
    rows in the plan. Otherwise candidates must share a sign-LSH bucket
    in any of ``n_tables`` tables (scale path, approximate recall) and
    only colliding pairs are scored (numpy pair kernel)."""
    c = corpus.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    )
    if exact:
        ids, A, an = _collect_vectors(
            c, "exact pairs corpus",
            "exact all-pairs is the small-n oracle baseline; use exact=False "
            "(sign-LSH bucketed candidates) at scale",
        )
        all_ids = np.array(ids)
        out_schema = f"id_a {_id_type(corpus, id_col)}, id_b {_id_type(corpus, id_col)}, cosine_sim double"

        def score(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                C = _matrix(pdf["v"])
                nid = pdf["id"].to_numpy()
                S = np.round((C @ A.T) / np.outer(_norms(C), an), round_to)
                ii, jj = np.nonzero((nid[:, None] < all_ids[None, :]) & (S >= threshold))
                if len(ii):
                    yield pd.DataFrame(
                        {"id_a": nid[ii], "id_b": all_ids[jj], "cosine_sim": S[ii, jj]}
                    )

        return c.mapInPandas(score, out_schema)

    c = c.withColumn("n", _norm_udf(F.col("v")))
    bucketed = _with_buckets(c, "v", "", dim, n_planes, n_tables, seed)
    l = bucketed.select(
        "tbl", "bucket", F.col("id").alias("id_a"), F.col("v").alias("va"),
        F.col("n").alias("na"),
    )
    r = bucketed.select(
        "tbl", "bucket", F.col("id").alias("id_b"), F.col("v").alias("vb"),
        F.col("n").alias("nb"),
    )
    cand = (
        l.join(r, ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    cos = _pair_cosine_udf(round_to)
    return (
        cand.withColumn(
            "cosine_sim", cos(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
        )
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    max_cell: int = 50_000,
    keep: str = "low_centroid_sim",
    seed: int = 42,
    index: "IVFIndex | None" = None,
    strip_bytes: int = _STRIP_BYTES,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public): embedding-space semantic
    dedup — KMeans-cluster the corpus, find cosine-≥ ``threshold`` pairs
    WITHIN each cell only, and keep one representative per duplicate
    group. Returns (``id_col``, cell, centroid_sim, is_survivor): filter
    ``is_survivor`` for the deduped corpus; dropped rows keep their
    group's evidence implicitly via the shared cell.

    ``keep`` picks the survivor per duplicate group (a connected
    component of the within-cell ≥-threshold graph):

    * ``"low_centroid_sim"`` — the paper's choice: the member FARTHEST
      from the centroid survives (retains the most atypical example,
      which SemDeDup measured best for downstream training). Tie-break
      min id.
    * ``"min_id"`` — deterministic arrival-order analog of the text
      dedup operators.

    Scale shape (the paper's own trick, Spark-native): clustering makes
    the O(n²) pair problem O(Σ|cell|²) and pairs NEVER cross cells, so
    everything after assignment is ONE groupBy(cell) → applyInPandas —
    per-cell strip-chunked BLAS cosine + union-find, no distributed
    components pass, no pair frame. Per-task memory is BOUNDED at any
    admitted cell size: the kernel never materializes the |cell|² cosine
    matrix — it walks it in row strips of ≤ ``strip_bytes`` float64
    (peak ≈ the |cell|×dim input + one strip + its boolean mask, ~200 MB
    at the defaults). ``max_cell`` therefore bounds per-task COMPUTE
    (O(|cell|²·dim) flops); at 100 TB raise ``n_cells`` (the paper runs
    50 k) so a cell over ``max_cell`` raises with that guidance rather
    than monopolizing a task. Centroid fit/assignment reuses
    :func:`ivf_build` (or pass a prebuilt/loaded ``index`` — e.g. from
    ``ivf_read`` — to skip the fit). In the self-fit path ``n_cells``
    is clamped to the corpus size (KMeans needs k ≤ n; matches the
    incremental path's first-increment clamp), so the default cell
    count works on arbitrarily small inputs; an explicit ``index`` is
    used as-is.

    Determinism: given an ``index``, the dedup pass is invariant to any
    partitioning (survivor pick is a lexsort, union-find order cannot
    change components). The self-fit path is seed-deterministic for a
    fixed input layout, but KMeans|| initialization is not
    layout-invariant — the same caveat as :func:`ivf_build`; fit once
    and share the index when bit-stable assignments matter.

    The reference engine has no embedding surface (extension scope,
    same posture as the ANN family; cites SURVEY.md §2-ext)."""
    if keep not in ("low_centroid_sim", "min_id"):
        raise ValueError(f"keep must be low_centroid_sim|min_id, got {keep!r}")
    if index is None and n_cells > 1:
        # clamp to the corpus size (matching the incremental path's
        # first-increment clamp): KMeans with k > n crashes in the fit,
        # and `curate --doc-dedup semantic` keeps its default n_cells on
        # small inputs. The count is one pass; the self-fit path already
        # pays several (KMeans). A 1-row corpus falls through to the
        # degenerate single-cell branch (KMeans requires k >= 2).
        n_rows = corpus.count()
        if n_rows == 0:
            return corpus.sparkSession.createDataFrame(
                [],
                f"{id_col} {_id_type(corpus, id_col)}, cell int, "
                "centroid_sim double, is_survivor boolean",
            )
        n_cells = min(int(n_cells), max(2, n_rows)) if n_rows > 1 else 1
    if index is not None:
        idx = index
    elif n_cells == 1:
        # degenerate single-cell (the exact small-n baseline): KMeans
        # requires k >= 2 — the lone centroid is just the mean vector
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            _as_double(F.col(vec_col)).alias("cv"),
        ).withColumn("cn", _norm_udf(F.col("cv")))
        dim_ = len(c.select("cv").first()["cv"])
        mean = (
            c.select(F.array(*[
                F.avg(F.col("cv")[i]) for i in range(dim_)
            ]).alias("m")).collect()[0]["m"]
        )
        idx = IVFIndex(
            centers=[list(mean)],
            assigned=c.withColumn("cell", F.lit(0)),
            n_cells=1,
        )
    else:
        idx = ivf_build(
            corpus, id_col=id_col, vec_col=vec_col, n_cells=n_cells,
            seed=seed, persist=False,
        )
    centers = np.asarray(idx.centers, dtype=np.float64)
    cnorm = _norms(centers)
    id_type = _id_type(corpus, id_col)
    out_schema = (
        f"{id_col} {id_type}, cell int, centroid_sim double, is_survivor boolean"
    )
    thr, mc, by_sim = float(threshold), int(max_cell), keep == "low_centroid_sim"
    sb = int(strip_bytes)

    def dedup_cell(key, pdf):
        n = len(pdf)
        if n > mc:
            raise ValueError(
                f"semantic_dedup: cell {key[0]} holds {n} vectors > "
                f"max_cell={mc}; raise n_cells (SemDeDup uses ~50k cells "
                "at web scale) so per-cell work stays bounded"
            )
        M = _matrix(pdf["cv"])
        ids = pdf["neighbor_id"].to_numpy()
        csim, survivor = _semantic_cell_kernel(
            M, ids, thr, centers[key[0]], cnorm[key[0]], by_sim, sb
        )
        return pd.DataFrame(
            {
                id_col: ids,
                "cell": key[0],
                "centroid_sim": csim,
                "is_survivor": survivor,
            }
        )

    return idx.assigned.groupBy("cell").applyInPandas(dedup_cell, out_schema)
