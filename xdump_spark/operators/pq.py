"""Product quantization (PQ) for embedding columns: compressed ANN.

Jégou et al. 2011, "Product Quantization for Nearest Neighbor Search":
split each d-dim vector into ``m`` subvectors, k-means each subspace to
``k`` centroids, and store a vector as m one-byte-ish codes. At dim 64 /
float32 that is 256 bytes → m bytes per vector (32× at m=8) — the
difference between an embedding corpus that fits in cluster memory and
one that doesn't. Search uses asymmetric distance computation (ADC): the
query stays exact, each corpus vector is scored from a per-query (m × k)
lookup table of subspace dot products.

Division of labor at 100 TB (same posture as ivf_build/ivf_search):

* TRAIN: driver-side numpy k-means on a DETERMINISTIC md5-bucket-capped
  sample — codebooks need thousands of vectors, not the corpus; fixed
  stride init + fixed Lloyd rounds mean a re-run fits the identical
  codebook. The codebook is plain data (JSON round-trip) and ~m·k·dsub
  floats — broadcast-trivial.
* ENCODE: one Arrow-batched pass (mapInPandas), each batch one numpy
  distance computation per subspace — narrow, no shuffle; write the
  codes once, scan them forever.
* SEARCH: the per-query ADC tables are built driver-side from the tiny
  codebook, then each CODES partition is scored with numpy table
  lookups and reduced to a per-query local top-k BEFORE the exchange —
  the shuffle carries n_partitions × n_q × k tiny rows, exactly the
  cosine_topk discipline, but each corpus row read is m bytes, not the
  raw vector.

Vectors are L2-normalized at train/encode/search time, so the ADC score
approximates COSINE similarity and results are comparable with
cosine_topk (the recall oracle in tests).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from xdump_spark.operators.similarity import (
    _collect_queries,
    _id_type,
    _matrix,
    _norms,
)


@dataclass(frozen=True)
class PQCodebook:
    """Per-subspace centroids: ``centroids[s]`` is (k × dsub) for
    subspace ``s``; dim == m · dsub. Plain-data serializable."""

    dim: int
    m: int
    k: int
    centroids: tuple  # tuple of m (k × dsub) float tuples

    def matrices(self) -> list[np.ndarray]:
        return [np.asarray(c, dtype=np.float64) for c in self.centroids]

    def to_dict(self) -> dict:
        return {
            "dim": self.dim,
            "m": self.m,
            "k": self.k,
            "centroids": [np.asarray(c).tolist() for c in self.centroids],
        }

    @classmethod
    def from_dict(cls, d: dict) -> "PQCodebook":
        return cls(
            dim=int(d["dim"]),
            m=int(d["m"]),
            k=int(d["k"]),
            centroids=tuple(
                tuple(tuple(float(x) for x in row) for row in c) for c in d["centroids"]
            ),
        )


def _normalize_rows(M: np.ndarray) -> np.ndarray:
    n = _norms(M)
    n[n == 0] = 1.0
    return M / n[:, None]


def pq_reconstruct(codes_mat: np.ndarray, codebook: PQCodebook,
                   cents: list | None = None) -> np.ndarray:
    """(batch × m) codes → (batch × dim) reconstructed vectors: per
    subspace one centroid GATHER (the decode half of the codec — cheap
    relative to any downstream matmul). Reconstruction is exact on
    codewords, so encode(reconstruct(codes)) round-trips codes
    losslessly under the same codebook (nearest centroid to a centroid
    is itself) — the property VectorStore's pq retrain relies on."""
    cents = codebook.matrices() if cents is None else cents
    m = codebook.m
    C = np.asarray(codes_mat, dtype=np.int64)
    return np.concatenate([cents[s][C[:, s]] for s in range(m)], axis=1)


def _assign_codes(X: np.ndarray, codebook: PQCodebook, cents: list) -> np.ndarray:
    """(batch × dim) normalized vectors → (batch × m) int16 codes: per
    subspace, argmin ‖z−c‖² computed as argmax(z·c − ½‖c‖²) — one BLAS
    matmul, never a broadcast temp. Single source of truth for
    pq_encode and ivfpq_build."""
    if X.shape[1] != codebook.dim:
        raise ValueError(f"vector dim {X.shape[1]} != codebook dim {codebook.dim}")
    m, dsub = codebook.m, codebook.dim // codebook.m
    codes = np.empty((X.shape[0], m), dtype=np.int16)
    for s in range(m):
        Z = X[:, s * dsub : (s + 1) * dsub]
        C = cents[s]
        scores = Z @ C.T - 0.5 * np.einsum("ij,ij->i", C, C)[None, :]
        codes[:, s] = scores.argmax(axis=1)
    return codes


# A shortlist broadcast collects n_q × rerank (query_id, neighbor_id)
# rows to the driver first. The scale configuration (rerank ≈ 50-1000)
# stays far under this; the ORACLE configuration (rerank ≥ corpus, so
# the rerank provably equals brute force) exceeds it as soon as the
# corpus grows — at soak scale that broadcast put >1 GB of task results
# on the driver and aborted the job. Past the bound the sliver join
# runs as a plain shuffle join: heavier, but scales.
BROADCAST_SHORTLIST_ROWS = 5_000_000


def _exact_rerank(
    shortlist: DataFrame,
    corpus: DataFrame,
    qmap: dict,
    k: int,
    round_to: int,
    id_col: str,
    vec_col: str,
    shortlist_rows: int | None = None,
) -> DataFrame:
    """Rescore a (query_id, neighbor_id) shortlist with exact cosine
    against the raw vectors and finish the top-k: the raw corpus is
    touched only for the shortlist-joined candidate sliver (broadcast
    when the caller's ``shortlist_rows`` bound fits
    BROADCAST_SHORTLIST_ROWS, shuffle join otherwise). ``qmap``
    maps query_id → (query_vector, query_norm). Shared by
    pq_topk_rerank and ivfpq_search."""
    small = shortlist_rows is not None and shortlist_rows <= BROADCAST_SHORTLIST_ROWS
    sl = F.broadcast(shortlist) if small else shortlist
    cand = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_nv")
    ).join(sl, "neighbor_id")

    @pandas_udf("double")
    def exact_cos(qid_s: pd.Series, nv: pd.Series) -> pd.Series:
        N = _matrix(nv)
        nn = _norms(N)
        nn[nn == 0] = 1.0
        out = np.empty(len(qid_s))
        for i, qid in enumerate(qid_s):
            qv, qnorm = qmap[qid]
            out[i] = N[i] @ qv / (nn[i] * (qnorm or 1.0))
        return pd.Series(np.round(out, round_to))

    scored = cand.select(
        "query_id", "neighbor_id", exact_cos("query_id", "_nv").alias("cosine_sim")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", F.col("rn").cast("int").alias("rn"))
    )


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    k: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int = 100_000,
    iters: int = 20,
) -> PQCodebook:
    """Fit the m-subspace codebook on a deterministic sample.

    Init is stride-based over the sample sorted by id (no RNG): a re-run
    on the same corpus fits bit-identical centroids. Lloyd runs a fixed
    ``iters`` rounds; a cluster that empties keeps its previous centroid
    (standard small-sample guard).
    """
    sel = corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    # Size the sample from an ID-ONLY count: column pruning keeps the wide
    # vector column out of this pass (~0.3% of the bytes for 768-dim
    # embeddings), so the fit costs ~one scan of the vector data. A
    # single-scan sample-first scheme is NOT scale-safe here: a fixed
    # threshold guess transfers f·n rows (unbounded in n), and bottom-k
    # TakeOrderedAndProject funnels P×K rows through one reducer.
    n_total = sel.select("_id").count()
    if n_total == 0:
        raise ValueError("cannot train a PQ codebook on an empty corpus")
    if n_total > max_rows:
        from xdump_spark.operators.curation import _hex_threshold

        thr = _hex_threshold(max_rows / n_total, 6)
        sel = sel.filter(
            F.substring(F.md5(F.col("_id").cast("string")), 1, 6) < F.lit(thr)
        )
    pdf = sel.orderBy("_id").toPandas()
    X = _normalize_rows(_matrix(pdf["_v"]))
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    kk = min(k, X.shape[0])
    dsub = dim // m
    cents = []
    for s in range(m):
        Z = X[:, s * dsub : (s + 1) * dsub]
        # deterministic stride init over the id-sorted sample
        idx = (np.arange(kk) * Z.shape[0]) // kk
        C = Z[idx].copy()
        for _ in range(iters):
            # nearest centroid via argmax(z·c − ½‖c‖²) ≡ argmin ‖z−c‖²:
            # one BLAS matmul (n × k), never the (n × k × dsub)
            # broadcast temp — that temp is 1.6 GB per subspace at the
            # 100k-sample cap and made training 15× slower at sf1
            scores = Z @ C.T - 0.5 * np.einsum("ij,ij->i", C, C)[None, :]
            assign = scores.argmax(axis=1)
            counts = np.bincount(assign, minlength=kk)
            sums = np.zeros((kk, dsub))
            np.add.at(sums, assign, Z)
            nz = counts > 0  # emptied clusters keep their old centroid
            C[nz] = sums[nz] / counts[nz, None]
        cents.append(tuple(tuple(float(x) for x in row) for row in C))
    return PQCodebook(dim=dim, m=m, k=kk, centroids=tuple(cents))


def pq_encode(
    corpus: DataFrame,
    codebook: PQCodebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<smallint>) — each vector compressed to m codes.

    One Arrow-batched narrow pass; per batch, each subspace is one
    (batch × k) distance computation. No shuffle — encode where the
    vectors already live, persist the codes, drop the floats.
    """
    cents = codebook.matrices()
    out_schema = f"{id_col} {_id_type(corpus, id_col)}, codes array<smallint>"

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = _normalize_rows(_matrix(pdf[vec_col]))
            codes = _assign_codes(X, codebook, cents)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "codes": list(codes)}
            )

    return corpus.select(id_col, vec_col).mapInPandas(encode, out_schema)


def pq_topk(
    codes: DataFrame,
    codebook: PQCodebook,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Approximate top-k cosine neighbors via ADC over the code table.

    Returns (query_id, neighbor_id, pq_sim, rn) — ``pq_sim`` is the ADC
    approximation of cosine (exact query × quantized corpus). Same
    pre-shuffle local-top-k plan shape as cosine_topk; the corpus side
    reads m smallints per row instead of the raw vector.
    """
    qids, Q, _qn = _collect_queries(queries, id_col, vec_col)
    m, dsub = codebook.m, codebook.dim // codebook.m
    cents = codebook.matrices()
    out_schema = (
        f"query_id {_id_type(queries, id_col)}, "
        f"neighbor_id {_id_type(codes, id_col)}, pq_sim double"
    )
    spark = codes.sparkSession
    if not qids:
        empty = spark.createDataFrame([], out_schema)
        return _finish_pq_topk(empty, k)
    Qn = _normalize_rows(Q)
    # ADC tables: T[q, s, c] = <q_sub, centroid_c>; cosine ≈ Σ_s T[q, s, code_s]
    T = np.stack(
        [Qn[:, s * dsub : (s + 1) * dsub] @ cents[s].T for s in range(m)], axis=1
    )  # (n_q, m, k)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes_mat = np.vstack(pdf["codes"].to_numpy()).astype(np.int64)
            nid = pdf[id_col].to_numpy()
            out_q, out_n, out_s = [], [], []
            for j, qid in enumerate(qids):
                s = np.round(
                    T[j, np.arange(m)[None, :], codes_mat].sum(axis=1), round_to
                )
                sj = np.where(nid == qid, -np.inf, s)
                order = np.lexsort((nid, -sj))[:k]
                keep = order[np.isfinite(sj[order])]
                out_q.extend([qid] * len(keep))
                out_n.extend(nid[keep])
                out_s.extend(sj[keep])
            if out_q:
                yield pd.DataFrame(
                    {"query_id": out_q, "neighbor_id": out_n, "pq_sim": out_s}
                )

    scored = codes.select(id_col, "codes").mapInPandas(score, out_schema)
    return _finish_pq_topk(scored, k)


def pq_topk_rerank(
    codes: DataFrame,
    corpus: DataFrame,
    codebook: PQCodebook,
    queries: DataFrame,
    k: int = 5,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """PQ shortlist + exact re-rank — the standard accuracy recovery
    (IVFADC+R family): ADC over the code table retrieves ``rerank``
    candidates per query, then ONLY those n_q × rerank rows are rescored
    against their raw vectors with exact cosine. The full corpus is still
    read as m-byte codes; the float vectors are touched for the
    candidate sliver via a broadcast-hash semi-join on the id. Returns
    (query_id, neighbor_id, cosine_sim, rn) — exact scores, directly
    comparable with cosine_topk.
    """
    qids, Q, qn = _collect_queries(queries, id_col, vec_col)
    if not qids:
        empty = corpus.sparkSession.createDataFrame(
            [],
            f"query_id {_id_type(queries, id_col)}, "
            f"neighbor_id {_id_type(corpus, id_col)}, cosine_sim double",
        )
        w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
        return (
            empty.withColumn("rn", F.row_number().over(w))
            .select("query_id", "neighbor_id", "cosine_sim", F.col("rn").cast("int").alias("rn"))
        )
    shortlist = pq_topk(
        codes, codebook, queries, k=max(k, rerank),
        id_col=id_col, vec_col=vec_col, round_to=round_to,
    ).select("query_id", "neighbor_id")
    qmap = {qid: (Q[j], qn[j]) for j, qid in enumerate(qids)}
    return _exact_rerank(
        shortlist, corpus, qmap, k, round_to, id_col, vec_col,
        shortlist_rows=len(qids) * max(k, rerank),
    )


def _finish_pq_topk(scored: DataFrame, k: int) -> DataFrame:
    w = W.partitionBy("query_id").orderBy(F.desc("pq_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "pq_sim", F.col("rn").cast("int").alias("rn"))
    )


# ---------------------------------------------------------------- IVFADC ----
@dataclass
class IVFPQIndex:
    """IVF cells over PQ codes — the FAISS "IVFADC" layout (Jégou et al.
    2011 §V): the cell assignment prunes WHICH rows a search reads, the
    codes shrink WHAT it reads. At 10⁹ × dim-64 float32 vectors the raw
    corpus is ~256 GB; this index is ~8 GB of codes + a cell column.
    Built with ``persist=True`` (the build-once/search-many contract,
    same as similarity.IVFIndex) the caller owns releasing the code
    table via :meth:`unpersist`."""

    centers: list          # n_cells × dim (driver-side)
    codebook: PQCodebook
    codes: DataFrame       # (neighbor_id, codes array<smallint>, cell int)
    n_cells: int

    def unpersist(self) -> None:
        self.codes.unpersist()


def ivfpq_build(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    m: int = 8,
    k: int = 256,
    seed: int = 42,
    max_iter: int = 5,
    sample_fraction: float | None = None,
    persist: bool = True,
) -> IVFPQIndex:
    """Fit cells (KMeans, sample-able) + PQ codebook, then produce the
    (id, codes, cell) table in ONE encode pass over the cell-assigned
    corpus — no join glues codes to cells.

    With ``persist`` (the build-once/search-many contract, mirroring
    ivf_build) the code table is cached MEMORY_AND_DISK and materialized
    eagerly — otherwise every search/write re-runs the KMeans transform
    AND the encode pass over the whole corpus; the caller owns releasing
    it via ``IVFPQIndex.unpersist``. At true scale ``ivfpq_write`` the
    index instead (partitioned by cell, file-pruned probes).
    """
    from pyspark import StorageLevel

    from xdump_spark.operators.similarity import ivf_build

    ivf = ivf_build(
        corpus, id_col=id_col, vec_col=vec_col, n_cells=n_cells,
        seed=seed, max_iter=max_iter, sample_fraction=sample_fraction,
        persist=False,
    )
    codebook = pq_train(corpus, m=m, k=k, id_col=id_col, vec_col=vec_col)
    cents = codebook.matrices()
    out_schema = (
        f"neighbor_id {_id_type(ivf.assigned, 'neighbor_id')}, "
        "codes array<smallint>, cell int"
    )

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = _normalize_rows(_matrix(pdf["cv"]))
            codes = _assign_codes(X, codebook, cents)
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf["neighbor_id"].to_numpy(),
                    "codes": list(codes),
                    "cell": pdf["cell"].to_numpy(),
                }
            )

    codes = ivf.assigned.select("neighbor_id", "cv", "cell").mapInPandas(
        encode, out_schema
    )
    if persist:
        codes = codes.persist(StorageLevel.MEMORY_AND_DISK)
        codes.count()  # materialize: searches must not re-run fit+encode
    return IVFPQIndex(
        centers=ivf.centers, codebook=codebook, codes=codes, n_cells=n_cells
    )


def ivfpq_search(
    index: IVFPQIndex,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    rerank: int | None = None,
    corpus: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """ADC search restricted to each query's ``n_probe`` nearest cells:
    probe selection is driver-side over the tiny centroid matrix, the
    probed-cell set prunes the code table with a plain isin filter
    (partition/file pruning when the index is stored partitioned by
    cell), and each batch is scored by table lookups with a per-query
    local top-k before the shuffle. With ``rerank`` (and ``corpus``),
    the PQ shortlist is exactly rescored against raw vectors for the
    n_q × rerank sliver — exact scores at code-table scan cost.
    """
    from types import SimpleNamespace

    from xdump_spark.operators.similarity import ivf_probe_cells

    qids, Q, qn = _collect_queries(queries, id_col, vec_col)
    mm, dsub = index.codebook.m, index.codebook.dim // index.codebook.m
    cents = index.codebook.matrices()
    out_schema = (
        f"query_id {_id_type(queries, id_col)}, "
        f"neighbor_id {_id_type(index.codes, 'neighbor_id')}, pq_sim double"
    )
    spark = index.codes.sparkSession
    if rerank is not None and corpus is None:
        raise ValueError("rerank requires the raw corpus frame")
    if not qids:
        if rerank is not None:
            # match the non-empty rerank path's schema (cosine_sim, not
            # pq_sim) so downstream column selection is branch-independent
            empty = spark.createDataFrame(
                [],
                f"query_id {_id_type(queries, id_col)}, "
                f"neighbor_id {_id_type(index.codes, 'neighbor_id')}, "
                "cosine_sim double",
            )
            w = W.partitionBy("query_id").orderBy(
                F.desc("cosine_sim"), F.asc("neighbor_id")
            )
            return empty.withColumn("rn", F.row_number().over(w)).select(
                "query_id",
                "neighbor_id",
                "cosine_sim",
                F.col("rn").cast("int").alias("rn"),
            )
        return _finish_pq_topk(spark.createDataFrame([], out_schema), k)

    Qn = _normalize_rows(Q)
    T = np.stack(
        [Qn[:, s * dsub : (s + 1) * dsub] @ cents[s].T for s in range(mm)], axis=1
    )
    probes = ivf_probe_cells(
        SimpleNamespace(centers=index.centers), Q, n_probe
    )
    cell_to_q: dict[int, list[int]] = {}
    for j, cells in enumerate(probes):
        for cell in cells:
            cell_to_q.setdefault(int(cell), []).append(j)
    probed_cells = sorted(cell_to_q)
    shortlist_k = max(k, rerank or 0)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            out_q, out_n, out_s = [], [], []
            for cell, sub in pdf.groupby("cell"):
                qidx = cell_to_q.get(int(cell))
                if not qidx:
                    continue
                codes_mat = np.vstack(sub["codes"].to_numpy()).astype(np.int64)
                nid = sub["neighbor_id"].to_numpy()
                for j in qidx:
                    s = np.round(
                        T[j, np.arange(mm)[None, :], codes_mat].sum(axis=1),
                        round_to,
                    )
                    sj = np.where(nid == qids[j], -np.inf, s)
                    order = np.lexsort((nid, -sj))[:shortlist_k]
                    keep = order[np.isfinite(sj[order])]
                    out_q.extend([qids[j]] * len(keep))
                    out_n.extend(nid[keep])
                    out_s.extend(sj[keep])
            if out_q:
                yield pd.DataFrame(
                    {"query_id": out_q, "neighbor_id": out_n, "pq_sim": out_s}
                )

    pruned = index.codes.filter(F.col("cell").isin(probed_cells))
    scored = pruned.select("neighbor_id", "codes", "cell").mapInPandas(
        score, out_schema
    )
    if rerank is None:
        return _finish_pq_topk(scored, k)
    shortlist = _finish_pq_topk(scored, shortlist_k).select("query_id", "neighbor_id")
    qmap = {qid: (Qn[j], 1.0) for j, qid in enumerate(qids)}
    return _exact_rerank(
        shortlist, corpus, qmap, k, round_to, id_col, vec_col,
        shortlist_rows=len(qids) * shortlist_k,
    )


def ivfpq_write(index: IVFPQIndex, path: str) -> None:
    """Persist the IVFADC index: the code table parquet PARTITIONED BY
    CELL (a search probing 64 of 4096 cells reads ~1.5% of the files via
    partition pruning — same layout contract as similarity.ivf_write),
    plus centroids + codebook as tiny JSON alongside — committed
    data-first, then the meta as ONE tmp+rename file (the r9 atomic-meta
    discipline shared with similarity.ivf_write and VectorStore)."""
    import json

    from xdump_spark import fsutil

    index.codes.write.mode("overwrite").partitionBy("cell").parquet(
        fsutil.join(path, "codes")
    )
    spark = index.codes.sparkSession
    meta = json.dumps(
        {
            "centers": index.centers,
            "n_cells": index.n_cells,
            "codebook": index.codebook.to_dict(),
        }
    )
    fsutil.write_text_atomic(spark, fsutil.join(path, "meta.json"), meta)


def ivfpq_read(spark, path: str) -> IVFPQIndex:
    from xdump_spark import fsutil
    from xdump_spark.operators.similarity import _read_index_meta

    meta = _read_index_meta(spark, path, "ivfpq_write")
    codes = spark.read.parquet(fsutil.join(path, "codes"))
    return IVFPQIndex(
        centers=meta["centers"],
        codebook=PQCodebook.from_dict(meta["codebook"]),
        codes=codes,
        n_cells=int(meta["n_cells"]),
    )
