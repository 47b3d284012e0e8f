"""Deduplication operators for document corpora, at four fidelity levels:

* exact          — fingerprint groupBy (bit-identical duplicates)
* minhash_lsh    — Jaccard near-dups via MinHash signatures + banded LSH
* simhash        — Hamming near-dups via 64-bit SimHash + band blocking
* ngram_jaccard  — exact word-n-gram Jaccard via an inverted-index join

Scale design: every candidate-generation step is a shuffle on small keys
(band hashes / n-grams), never an all-pairs product; verification joins
only candidate pairs back to their feature sets. Pair verification and
n-gram work are JVM built-ins; MinHash/SimHash signature computation is
Arrow-batched numpy in Python workers (one batch per partition, no
shuffle) — both JVM shapes were measured 2-20× slower (interpreted
nested-HOF shingling; 64-wide aggregates past the codegen field budget).
Size Python-worker memory accordingly. Giant LSH buckets (skew) are
capped with a configurable bound so one hot bucket cannot produce a
quadratic pair explosion.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from xdump_spark import cutover
from xdump_spark.observed import RowCount
from xdump_spark.operators.text import tokens

# Mersenne prime 2^61-1: classic universal-hash modulus; products of two
# sub-61-bit values stay within the long range after Java wrap semantics.
_MERSENNE = (1 << 61) - 1

# Signature frames up to this many rows are broadcast into pair-
# verification joins (~1.1 KB/row at the num_perm=128 default → ≤
# ~300 MB executor-side; beyond that the candidate pairs go through
# shuffled joins instead).
_BROADCAST_SIG_LIMIT = 250_000



from xdump_spark.operators.sizing import spread as _spread  # noqa: E402


# --------------------------------------------------------------------------
# exact
# --------------------------------------------------------------------------
def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct normalized text: keeper id (min) + copy count."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return (
        df.select(F.col(id_col), F.md5(norm).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").cast("long").alias("n_copies"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The deduplicated corpus: keep the minimum-id row per fingerprint."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    w = W.partitionBy(F.md5(norm)).orderBy(F.col(id_col))
    return df.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")


# --------------------------------------------------------------------------
# shingles / signatures
# --------------------------------------------------------------------------
def _norm_text(text_col):
    """Whitespace-normalized lowercase text (the dedup canonical form)."""
    return F.trim(F.regexp_replace(F.lower(text_col), r"\s+", " "))


def _shingles_of_norm(norm, k: int):
    """Shingles from an already-projected normalized-text COLUMN. Callers
    in pipelines must pre-project the norm: expressions captured inside a
    higher-order-function lambda are re-evaluated PER ARRAY ELEMENT, so an
    inline regexp_replace here would run ~|text| times per document
    (measured 8× end-to-end). A column reference is evaluated once."""
    full = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(norm) - (k - 1)),
            lambda i: norm.substr(i, F.lit(k)),
        )
    )
    return (
        F.when(F.length(norm) >= k, full)
        .when(F.length(norm) > 0, F.array(norm))
        .otherwise(F.array().cast("array<string>"))
    )


def char_shingles(text_col, k: int = 5):
    """Distinct character k-shingles of normalized text (array<string>).
    Text shorter than k (but non-empty) yields itself as a single shingle;
    empty text yields an empty array. NB: F.sequence(1, n) DESCENDS when
    n < 1, so short inputs must be guarded, not clamped.

    Convenience single-expression form; hot paths pre-project the norm and
    use ``_shingles_of_norm`` (see that docstring for why)."""
    return _shingles_of_norm(_norm_text(text_col), k)


def minhash_signatures(
    normed: DataFrame,
    num_perm: int = 128,
    shingle_k: int = 5,
    id_col: str = "id",
    text_col: str = "_norm",
) -> DataFrame:
    """(id, sig) MinHash signatures for an (id, _norm) normalized-text
    frame; ``sig`` is array<long> of length ``num_perm``.

    Shape matters at scale: the pipeline is NARROW (no shuffle) and the
    entire shingle→hash→min-per-permutation computation happens in ONE
    Arrow batch per partition in numpy — byte k-shingles via a sliding
    window view, a wrapping-uint64 polynomial hash per shingle, then the
    (|shingles| × num_perm) universal-hash min. Everything JVM-side was
    measured and rejected: character shingling through nested
    higher-order functions is interpreted (non-codegen) and cost tens of
    seconds at sf0.1, and a 64-wide min aggregate exceeds the
    whole-stage-codegen budget. MinHash is idempotent over duplicate
    shingles, so no distinct pass is needed. Shingles are BYTE k-grams of
    the normalized utf-8 text (multibyte characters span shingles —
    standard corpus-dedup practice). Empty docs drop out (they cannot
    near-dup)."""
    sig_udf = _minhash_sig_udf(num_perm, shingle_k)
    return (
        normed.filter(F.length(text_col) > 0)
        .select(F.col(id_col).alias("id"), sig_udf(F.col(text_col)).alias("sig"))
    )


# A pandas UDF *instance* pays a measured ~1-2 s on its first job even
# against a warmed worker pool (per-worker function install + Arrow stream
# setup fan-out); building a fresh instance per operator call would repay
# that every time. Cache instances by their parameters.
_UDF_CACHE: dict[tuple, object] = {}


def _minhash_sig_udf(num_perm: int, shingle_k: int):
    key = ("minhash", num_perm, shingle_k)
    if key in _UDF_CACHE:
        return _UDF_CACHE[key]
    perms = _perm_params(num_perm)
    A = np.array([a for a, _ in perms], dtype=np.int64)
    B = np.array([b for _, b in perms], dtype=np.int64)
    # wrapping-uint64 polynomial hash coefficients, highest power first
    base = np.uint64(0x100000001B3)  # FNV-1a prime, odd => bijective mod 2^64
    pw = np.empty(shingle_k, dtype=np.uint64)
    pw[-1] = 1
    with np.errstate(over="ignore"):  # uint64 wrap is the hash semantics
        for i in range(shingle_k - 2, -1, -1):
            pw[i] = pw[i + 1] * base

    @pandas_udf("array<long>")
    def sig_udf(texts: pd.Series) -> pd.Series:
        out = []
        # Blocked universal-hash reduction (r15): the full
        # (|shingles| × num_perm) expression allocated three int64
        # temporaries per doc (multiply, add, mod — ~3×|shingles|×1 KB),
        # spilling long docs out of cache; one reused block buffer keeps
        # the working set at BLOCK×num_perm×8 B (1 MB) and folds blocks
        # with a running minimum. Bit-identical: same integer ops, min
        # is associative (kernel measured 1.1-3.9× on medium/long docs,
        # flat on short; hash constants untouched — the candidate set is
        # pinned by the r6/r7 calibration).
        BLOCK = 1024
        buf = np.empty((BLOCK, len(A)), dtype=np.int64)
        # reused scaled-adds scratch (grown on demand, see below)
        poly_tmp = np.empty(4096, dtype=np.uint64)
        with np.errstate(over="ignore"):  # uint64 wrap is the hash semantics
            for t in texts:
                b = np.frombuffer(t.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
                if len(b) == 0:
                    out.append(None)
                    continue
                if len(b) >= shingle_k:
                    # Scaled adds instead of the sliding-window product
                    # (r15): (win × pw).sum materialized an (m × k) uint64
                    # temporary (~40 B/byte of text); k shifted in-place
                    # multiply-adds into one reused m-vector touch ~3× m
                    # per term. Wrapping uint64 addition is associative,
                    # so the sums are bit-identical (golden-signature
                    # tests pin the values; kernel measured 4.6-8×
                    # on the hash step, see OPTIMIZATION_r15.md).
                    m = len(b) - shingle_k + 1
                    if len(poly_tmp) < m:
                        poly_tmp = np.empty(m, dtype=np.uint64)
                    pt = poly_tmp[:m]
                    h = b[:m] * pw[0]
                    for i in range(1, shingle_k):
                        np.multiply(b[i : m + i], pw[i], out=pt)
                        h += pt
                else:  # short doc: the whole text is its single shingle
                    p = np.empty(len(b), dtype=np.uint64)
                    p[-1] = 1
                    for i in range(len(b) - 2, -1, -1):
                        p[i] = p[i + 1] * base
                    h = np.array([(b * p).sum(dtype=np.uint64)], dtype=np.uint64)
                # murmur3-style finalizer: the raw polynomial has no
                # avalanche (low bits ≈ last byte), which correlates
                # shingle hashes and inflates MinHash agreement ~10x
                # (measured). Mix before truncating to 32 bits.
                h ^= h >> np.uint64(33)
                h *= np.uint64(0xFF51AFD7ED558CCD)
                h ^= h >> np.uint64(33)
                h *= np.uint64(0xC4CEB9FE1A85EC53)
                h ^= h >> np.uint64(33)
                # h32 < 2^32, a < 2^30 keep a*h32 + b below 2^63: no overflow
                h32 = np.atleast_1d(h).astype(np.int64) & 0xFFFFFFFF
                # MinHash is idempotent over duplicate shingles, so the
                # reduction only needs the DISTINCT hashes: np.unique
                # costs one O(m log m) sort and cuts the (m × num_perm)
                # universal-hash work by the duplicate fraction (~30% on
                # the template-heavy corpus — measured r15; min over a
                # subset containing every distinct value is unchanged).
                h32 = np.unique(h32)
                acc = None
                for i in range(0, len(h32), BLOCK):
                    c = h32[i:i + BLOCK]
                    t2 = buf[: len(c)]
                    np.multiply(c[:, None], A[None, :], out=t2)
                    t2 += B
                    t2 %= _MERSENNE
                    m = t2.min(axis=0)
                    acc = m if acc is None else np.minimum(acc, m, out=acc)
                out.append(acc)
        return pd.Series(out)

    _UDF_CACHE[key] = sig_udf
    return sig_udf


def _perm_params(num_perm: int) -> list[tuple[int, int]]:
    # deterministic LCG-derived (a, b) pairs; a must be non-zero mod p
    params = []
    x = 0x9E3779B97F4A7C15
    for _ in range(num_perm):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (x % ((1 << 30) - 1)) + 1          # 1 ≤ a < 2^30
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = x % (1 << 61)                      # 0 ≤ b < 2^61
        params.append((a, b))
    return params


# --------------------------------------------------------------------------
# MinHash + banded LSH near-dup pairs
# --------------------------------------------------------------------------

# r15 driver fast paths (_driver_lsh_pairs, _driver_simhash_pairs). The
# banded self-join + per-pair verification of a DRIVER-SMALL corpus is
# pure job latency on a cluster: when the modeled driver peak fits the
# driver budget (xdump_spark.cutover), the banding, candidate
# enumeration, and verification COUNTS run as numpy on the driver (one
# Arrow collect of the narrow frames), and only the final Jaccard
# arithmetic returns to Spark expressions so rounding semantics stay
# bit-identical with the distributed path. An input whose peak exceeds
# the budget keeps the distributed plan. Σ C(bucket, 2) raw candidate
# pairs cost 24 B each at the enumeration's peak: the per-bucket keys,
# their concatenation and np.unique's sorted copy.
_RAW_PAIR_BYTES = 24


def _sorted_by_id(frame: DataFrame):
    """A collected (id, ...) frame as an Arrow table sorted by id, and
    its ids; None on a null or duplicate id. Null ids keep the
    distributed path's null semantics; a duplicate id would pair a row
    with its own id (id_a == id_b), which the distributed self-join's
    id_a < id_b never emits."""
    st = frame.toArrow()
    ids = st.column("id").to_pylist()
    if any(i is None for i in ids) or len(set(ids)) < len(ids):
        return None
    arr = np.asarray(ids)
    order = np.argsort(arr, kind="stable")
    return st.take(order), arr[order]


def _driver_banded_candidates(
    SIG: np.ndarray, bands: int, rows_per_band: int, max_bucket: int | None, fits
):
    """Unique candidate row-index pairs (ia < ib) sharing ≥1 LSH band,
    enumerated driver-side. Bucket membership is EXACT slice equality —
    the very contract the distributed form's xxhash64 bucketing
    implements (see the banding comment in minhash_lsh_pairs). Returns
    (ia, ib), or None when ``fits`` declines the bytes the Σ C(bucket, 2)
    raw pairs would hold. Rows must be pre-sorted by id so row order ==
    id order."""
    n = SIG.shape[0]
    buckets = []
    for j in range(bands):
        sl = SIG[:, j * rows_per_band : (j + 1) * rows_per_band]
        _, inv = np.unique(sl, axis=0, return_inverse=True)
        counts = np.bincount(inv)
        order = np.argsort(inv, kind="stable")  # stable ⇒ ascending rows per bucket
        starts = np.searchsorted(inv[order], np.arange(len(counts)))
        # the skew guard drops hot buckets wholesale
        keep = (counts >= 2) & (counts <= (n if max_bucket is None else max_bucket))
        buckets += [order[starts[b] : starts[b] + counts[b]] for b in np.nonzero(keep)[0]]
    if not fits(_RAW_PAIR_BYTES * sum(len(rs) * (len(rs) - 1) // 2 for rs in buckets)):
        return None
    keys = []
    for rs in buckets:
        iu, ju = np.triu_indices(len(rs), 1)
        keys.append(rs[iu].astype(np.int64) * n + rs[ju])
    if not keys:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    k = np.unique(np.concatenate(keys))
    return k // n, k % n


def _driver_lsh_pairs(
    spark,
    sigs: DataFrame,
    docs: DataFrame,
    num_perm: int,
    bands: int,
    threshold: float,
    max_bucket: int | None,
    id_type: str,
    held: int,
) -> DataFrame | None:
    """Driver-side candidate generation + exact-verification counts for
    a driver-small corpus (``held`` is the modeled peak before banding;
    exact mode only — the estimate mode's 128-comparison verify was
    MEASURED faster left distributed, see OPTIMIZATION_r15.md). ``docs`` is the checkpointed
    (id, hashed shingles) frame. Returns the final pair frame, or None
    to fall back to the distributed path. Only pairs inside a
    conservative margin of the threshold ship back to Spark, where the
    identical division/round/filter expressions run — so results are
    bit-identical to the distributed form."""
    got = _sorted_by_id(sigs)
    if got is None:
        return None
    st, ids = got
    n = len(ids)
    if n < 2:
        return spark.createDataFrame(
            [], f"id_a {id_type}, id_b {id_type}, jaccard double"
        )
    # a ragged signature column falls back to the distributed path
    flat = st.column("sig").combine_chunks().flatten().to_numpy(zero_copy_only=False)
    if len(flat) != n * num_perm:
        return None
    SIG = flat.reshape(n, num_perm)

    # |A ∩ B| for every pair at once via ONE dense matmul over the
    # doc × distinct-shingle incidence matrix (counts ≤ 2^24 are exact
    # in float32). The per-pair array_intersect probe this replaces
    # walked both shingle arrays per candidate pair.
    got = _sorted_by_id(docs)
    if got is None or not np.array_equal(got[1], ids):
        return None  # signature/shingle frames out of step — distributed path
    la = got[0].column("shingles").combine_chunks()
    flat = la.flatten().to_numpy(zero_copy_only=False)
    sizes = la.value_lengths().to_numpy(zero_copy_only=False).astype(np.int64)
    if sizes.max(initial=0) >= (1 << 24):
        return None
    uniqv, inv = np.unique(flat, return_inverse=True)
    V = len(uniqv)
    # the peak adds the dense S (n × V float32) and the raw pairs
    cand = _driver_banded_candidates(
        SIG, bands, num_perm // bands, max_bucket,
        lambda raw: cutover.fits(spark, "dedup.minhash_pairs", held + 4 * n * V + raw),
    )
    if cand is None:
        return None
    ia, ib = cand
    S = np.zeros((n, V), dtype=np.float32)
    S[np.repeat(np.arange(n), sizes), inv] = 1.0
    P = S @ S.T
    inter = P[ia, ib].astype(np.int64)
    # Conservative prefilter: only near-threshold pairs ship to Spark
    # (round moves a value by ≤ 5e-7, so every pair the JVM filter keeps
    # satisfies inter/uni ≥ threshold − 1e-6); the authoritative
    # round+filter below is the SAME expression as the distributed path.
    uni = sizes[ia] + sizes[ib] - inter
    keep = inter >= (float(threshold) - 1e-6) * uni
    ia, ib, inter, uni = ia[keep], ib[keep], inter[keep], uni[keep]
    pdf = pd.DataFrame(
        {
            "id_a": ids[ia],
            "id_b": ids[ib],
            "inter": inter.astype(np.int32),
            "size_a": sizes[ia].astype(np.int32),
            "size_b": sizes[ib].astype(np.int32),
        }
    )
    res = spark.createDataFrame(
        pdf,
        schema=(
            f"id_a {id_type}, id_b {id_type}, inter int, size_a int, size_b int"
        ),
    )
    return (
        res.withColumn("uni", F.col("size_a") + F.col("size_b") - F.col("inter"))
        .withColumn("jaccard", F.round(F.col("inter") / F.col("uni"), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 128,
    bands: int = 32,
    shingle_k: int = 5,
    threshold: float = 0.5,
    max_bucket: int | None = 1000,
    verify: str = "estimate",
) -> DataFrame:
    """Candidate pairs sharing ≥1 LSH band with Jaccard ≥ threshold.
    Returns (id_a, id_b, jaccard), id_a < id_b.

    ``verify`` selects the Jaccard used for the final filter:

    * ``"estimate"`` (default, the scale path): fraction of agreeing
      MinHash components — the same verification Spark ML's MinHashLSH
      ``approxSimilarityJoin`` applies. Accuracy ±1/√num_perm; pair
      verification touches only the num_perm-long signatures, never the
      shingle sets (which on a template-heavy corpus are ~10× the bytes
      and ~4× the end-to-end time). Calibrated against exact at soak
      scale (r6, SCALE.md): at threshold 0.6 recall is ~1.0 at any
      num_perm, but precision is 0.64 at num_perm=64 (±0.125 admits
      pairs with true Jaccard ≥ ~0.48) vs 0.97 at num_perm=128 — hence
      the 128 DEFAULT (r7; the measurement made it binding). Pass
      ``num_perm=64`` to halve signature cost where over-removing
      marginal near-dups is acceptable.
    * ``"exact"``: exact shingle-set Jaccard per candidate pair — the
      oracle baseline; O(|doc|) per pair, fine at small n.

    num_perm/bands give rows-per-band r = num_perm/bands; the usual
    S-curve threshold ≈ (1/bands)^(1/r). Buckets larger than
    ``max_bucket`` are dropped (skew guard — at corpus scale a degenerate
    shingle bucket would otherwise emit |bucket|² candidates); pass
    ``max_bucket=None`` to disable when oracle-exact candidate coverage
    matters more than bounded cost (the correctness panel does).

    ``verify="exact"`` is the small-corpus oracle path: every doc's
    hashed shingle set is broadcast to the candidate joins, so it
    refuses a corpus whose broadcasts exceed the driver budget
    (xdump_spark.cutover) — beyond that use the estimate mode
    (signature-only verification, the scale default)."""
    rows_per_band = num_perm // bands
    assert rows_per_band * bands == num_perm
    assert verify in ("estimate", "exact")
    spark = df.sparkSession

    normed = _spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("id"), _norm_text(F.col(text_col)).alias("_norm")
    )
    if verify == "exact":
        # normed feeds both the shingle sets and the signature UDF; the
        # shingle sets feed both sides of the pair join. Eager
        # localCheckpoint (not persist): it materializes once, parallel
        # stages of one job cannot race-recompute it, and the blocks are
        # released by the ContextCleaner when the frame is unreferenced —
        # a persist here leaked storage across repeated calls in a
        # long-lived session until executors evicted.
        normed = normed.localCheckpoint(eager=True)

        # Verify on HASHED shingles: xxhash64 per distinct shingle makes
        # the per-pair array_intersect probe 8-byte long equality instead
        # of 5-char string equality and shrinks the doc-side frame ~5×
        # (under the broadcast threshold, so the candidate pairs never
        # shuffle through the verify joins). Set sizes are preserved —
        # distinct strings stay distinct under the hash short of a 64-bit
        # collision (~1e-8 across the whole corpus, and the value-hash
        # oracle would surface one) — so the Jaccard is still exact.
        def _docs_side():
            d = normed.select(
                "id",
                F.transform(
                    _shingles_of_norm(F.col("_norm"), shingle_k),
                    lambda s: F.xxhash64(s),
                ).alias("shingles"),
            ).filter(F.size("shingles") > 0).localCheckpoint(eager=True)
            # One cheap agg over the checkpointed frame sizes the
            # broadcast guard and the driver fast path.
            return d, d.agg(
                F.count("*").alias("n"), F.sum(F.size("shingles")).alias("sh")
            ).collect()[0]

        def _sigs_side():
            return minhash_signatures(
                normed, num_perm, shingle_k
            ).localCheckpoint(eager=True)

        # The shingle and signature checkpoints both read the
        # materialized `normed` blocks and are data-independent —
        # overlapped on driver threads (guide §2.6); the size guards run
        # on the main thread right after.
        from xdump_spark.operators.concurrency import overlap as _ov

        (docs, stats), sigs = _ov(_docs_side, _sigs_side)
        n_shingles = stats["sh"] or 0
        # the driver builds both broadcast relations of the hashed
        # shingle sets: ~16 B per shingle (the long plus array overhead)
        if not cutover.fits(spark, "dedup.exact_verify", 2 * 16 * n_shingles, "refused"):
            raise ValueError(
                f"verify='exact' would broadcast {n_shingles} hashed shingles twice, past the "
                "driver budget; use verify='estimate' (signature-only verification) at scale"
            )
        # Driver fast path (r15, EXACT mode only): banding + candidate
        # enumeration + exact intersection counts in numpy on one Arrow
        # grab when the corpus fits the driver budget; the Jaccard
        # arithmetic returns to the identical Spark expressions, so the
        # result is bit-identical (lockstep-tested). The distributed plan
        # runs unchanged past the budget — and estimate mode stays
        # distributed at every size: its signature-agreement verify is
        # cheap per pair and was MEASURED faster on the cluster path (3.8
        # vs 2.4 s at sf0.1), while exact mode's per-pair set
        # intersections collapse into one driver GEMM (6.0 → 2.6 s
        # measured, see OPTIMIZATION_r15.md).
        n_sig = stats["n"]
        # peak before banding: collected signatures (Arrow + numpy, 16 B
        # per component), hashed shingles (Arrow, flat, inverse: 24 B
        # each) and P = S·Sᵀ (n² float32)
        held = 16 * num_perm * n_sig + 24 * n_shingles + 4 * n_sig * n_sig
        if cutover.fits(spark, "dedup.minhash_pairs", held):
            fast = _driver_lsh_pairs(
                spark,
                sigs,
                docs,
                num_perm,
                bands,
                threshold,
                max_bucket,
                df.schema[id_col].dataType.simpleString(),
                held,
            )
            if fast is not None:
                return fast
    else:
        # Signatures have three consumers (banding + both sides of pair
        # verification) and the frame is tiny (num_perm longs per doc):
        # eagerly checkpoint so every consumer reads materialized blocks
        # — a lazy persist lets parallel stages of the SAME job race and
        # recompute the whole scan→norm→signature pipeline per consumer.
        # (Exact mode checkpointed them above, overlapped with the
        # shingle side.) The signature count rides that checkpoint
        # (observed, no count job).
        sig_rows = RowCount(minhash_signatures(normed, num_perm, shingle_k))
        sigs = sig_rows.frame.localCheckpoint(eager=True)
        n_sig = sig_rows.count()

    # xxhash64 hashes the array slice directly (no per-component string
    # cast + concat): bucket VALUES differ from a string-keyed scheme but
    # bucket MEMBERSHIP — equality of r-length signature slices — is
    # preserved exactly, so the candidate pair set is unchanged.
    band_structs = [
        F.struct(
            F.lit(j).alias("band"),
            F.xxhash64(F.slice("sig", j * rows_per_band + 1, rows_per_band)).alias("bucket"),
        )
        for j in range(bands)
    ]
    banded = sigs.select("id", F.explode(F.array(*band_structs)).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )

    # Skew guard: drop degenerate buckets. Hot buckets are found with a
    # map-side-combined groupBy (shuffles only per-bucket counts) and
    # removed with a broadcast anti-join — a window count here would
    # shuffle every banded row instead. The hot set is checkpointed (it is
    # read by both sides of the self-join below); `banded` itself stays
    # lazy — re-deriving explode+anti-join from the materialized signature
    # frame twice is cheaper than materializing bands × n_docs rows.
    if max_bucket is not None:
        hot = (
            banded.groupBy("band", "bucket")
            .agg(F.count("*").alias("bsize"))
            .filter(F.col("bsize") > max_bucket)
            .select("band", "bucket")
            .localCheckpoint(eager=True)
        )
        banded = banded.join(F.broadcast(hot), ["band", "bucket"], "left_anti")

    left = banded.alias("l")
    right = banded.alias("r")
    # Dedup candidate pairs in an explicitly-sized hash layout: the pair
    # rows are two ints, so AQE's byte-based coalescing would collapse the
    # post-shuffle stage to a couple of tasks — and the signature/shingle
    # joins right after fan every row back out. repartition(N, keys) +
    # dropDuplicates is ONE shuffle (dedup runs in the repartitioned
    # layout) and AQE respects the explicit partition count.
    par = df.sparkSession.sparkContext.defaultParallelism
    cand = (
        left.join(right, (F.col("l.band") == F.col("r.band")) & (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .repartition(par, "id_a", "id_b")
        .dropDuplicates()
    )

    if verify == "exact":
        a = docs.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
        b = docs.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
        return (
            cand.join(F.broadcast(a), "id_a")
            .join(F.broadcast(b), "id_b")
            .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
            .withColumn("uni", F.size("sh_a") + F.size("sh_b") - F.col("inter"))
            .withColumn("jaccard", F.round(F.col("inter") / F.col("uni"), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )

    # estimate mode: verification is num_perm integer comparisons per pair
    # (zip_with stays JVM-side). The signature frame is num_perm longs per
    # doc: broadcast both join sides while small so the (much larger)
    # candidate pair set never shuffles (n_sig rode the signature
    # checkpoint). A pandas-UDF verifier was measured 2-3× SLOWER than
    # the interpreted zip_with here (Arrow transfer of both signature
    # arrays per pair dominates).
    a = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    b = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    if n_sig <= _BROADCAST_SIG_LIMIT:
        a, b = F.broadcast(a), F.broadcast(b)
    matches = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", F.round(matches / F.lit(float(num_perm)), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --------------------------------------------------------------------------
# SimHash near-dup pairs
# --------------------------------------------------------------------------
def simhash_frame(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, sig) with a 64-bit SimHash per document. Token hashes stay
    JVM-side (xxhash64 over a single-level transform of the split-token
    array — cheap, codegen'd inputs), then ONE Arrow batch per partition
    computes the per-bit ±1 vote sums and packs the sign bits in numpy.
    Shuffle-free; replaces a 64-wide sum aggregate that exceeded the
    whole-stage-codegen field budget (interpreted fallback, ~2× slower
    measured at sf0.1). Signature values are identical: bit b is set iff
    2·(count of tokens with hash bit b) > n_tokens. Token-less docs drop
    out.

    ``hash_fn="md5"`` swaps the token hash for the first 60 bits of
    md5 (``conv(substr(md5(t),1,15),16,10)``) — slower, but exactly
    reproducible in DuckDB (``('0x'||substr(md5(t),1,15))::UBIGINT``),
    which makes the whole signature, and therefore the pair set,
    oracle-checkable. Bits 60-63 of every token hash are then zero, so
    those signature bits are zero on both sides; Hamming distances are
    unaffected."""
    sig_udf = _simhash_sig_udf(bits)
    if hash_fn == "xxhash64":
        tok_hash = lambda t: F.xxhash64(t)  # noqa: E731
    elif hash_fn == "md5":
        tok_hash = lambda t: F.conv(  # noqa: E731
            F.substring(F.md5(t), 1, 15), 16, 10
        ).cast("long")
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")
    hashed = _spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("id"),
        F.transform(tokens(F.col(text_col)), tok_hash).alias("h"),
    ).filter(F.size("h") > 0)
    return hashed.select("id", sig_udf("h").alias("sig"))


def _simhash_sig_udf(bits: int):
    key = ("simhash", bits)
    if key in _UDF_CACHE:
        return _UDF_CACHE[key]

    @pandas_udf("long")
    def sig_udf(hs: pd.Series) -> pd.Series:
        shifts = np.arange(bits, dtype=np.uint64)
        out = np.empty(len(hs), dtype=np.int64)
        for i, h in enumerate(hs):
            hv = np.asarray(h, dtype=np.int64).view(np.uint64)
            bitm = (hv[:, None] >> shifts[None, :]) & np.uint64(1)
            votes = bitm.sum(axis=0, dtype=np.int64) * 2 - len(hv)
            packed = ((votes > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64)
            out[i] = int(packed) - (1 << 64) if packed >= (1 << 63) else int(packed)
        return pd.Series(out)

    _UDF_CACHE[key] = sig_udf
    return sig_udf


# 8-bit popcount lookup (numpy here has no bitwise_count); XOR'd
# signatures are viewed as bytes and summed through this table.
_POPCOUNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def _driver_simhash_pairs(
    spark,
    sigs: DataFrame,
    max_hamming: int,
    max_bucket: int | None,
    band_w: int,
    id_type: str,
    held: int,
) -> DataFrame | None:
    """Driver-side banding + Hamming verification for a driver-small
    signature frame (``held`` is the modeled peak before banding; r15;
    the minhash exact fast path's integer-only sibling — Hamming
    distance is bit_count of the XOR, so there is no float arithmetic
    to keep in Spark and final pairs ship directly).
    Returns the pair frame, or None to fall back to the distributed
    self-join."""
    got = _sorted_by_id(sigs)
    if got is None:
        return None
    st, ids = got
    if len(ids) < 2:
        return spark.createDataFrame(
            [], f"id_a {id_type}, id_b {id_type}, hamming int"
        )
    sig = st.column("sig").to_numpy(zero_copy_only=False).astype(np.int64)
    mask = np.int64((1 << band_w) - 1)
    BANDS = np.column_stack(
        [(sig >> np.int64(band_w * i)) & mask for i in range(4)]
    )
    cand = _driver_banded_candidates(
        BANDS, 4, 1, max_bucket,
        lambda raw: cutover.fits(spark, "dedup.simhash_pairs", held + raw),
    )
    if cand is None:
        return None
    ia, ib = cand
    x = (sig[ia] ^ sig[ib]).view(np.uint64)
    ham = _POPCOUNT8[x.view(np.uint8).reshape(len(x), 8)].sum(axis=1).astype(np.int32)
    keep = ham <= max_hamming
    pdf = pd.DataFrame(
        {"id_a": ids[ia][keep], "id_b": ids[ib][keep], "hamming": ham[keep]}
    )
    return spark.createDataFrame(
        pdf, schema=f"id_a {id_type}, id_b {id_type}, hamming int"
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    max_bucket: int | None = 1000,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming. Candidates are
    blocked on exact match of any of four bands (finds all pairs with
    ≤3 differing bits for sure; probabilistic beyond — standard SimHash
    blocking). Returns (id_a, id_b, hamming).

    With ``max_hamming ≤ 3`` AND ``max_bucket=None`` the banding is
    EXHAUSTIVE by pigeonhole (≤3 differing bits cannot touch all 4
    bands), so the result equals the all-pairs Hamming filter exactly —
    combined with ``hash_fn="md5"`` (DuckDB-reproducible token hashes,
    see simhash_frame) that makes the output oracle-checkable. The
    default ``max_bucket`` skew guard DROPS every pair inside a
    >max_bucket bucket (a boilerplate-template cluster), trading those
    pairs for bounded candidate cost — the scale default, but it voids
    the exactness claim, so the oracle panel disables it.

    Band layout follows the hash width: xxhash64 signatures band as
    4×16 bits; md5 signatures carry only 60 meaningful bits (bits 60-63
    are constant zero), so they band as 4×15 bits — banding all-zero
    dead bits would shrink band 3's keyspace 16× and make hot buckets
    (and the skew guard's pair loss) kick in far earlier.

    The signature frame (two longs per doc) is eagerly checkpointed: the
    band self-join reads it twice, the 64-vote aggregation behind it is
    the dominant cost, and a lazy persist lets parallel stages of the
    same job race and recompute it per consumer. Its row count rides the
    checkpoint (observed, no count job)."""
    sig_rows = RowCount(simhash_frame(df, text_col, id_col, hash_fn=hash_fn))
    sigs = sig_rows.frame.localCheckpoint(eager=True)
    band_w = 15 if hash_fn == "md5" else 16
    # Driver fast path (r15): for a driver-small signature frame the
    # band self-join + XOR/bit_count verify is pure job latency —
    # banding, candidate enumeration, and Hamming popcounts run as
    # numpy on one Arrow grab (bit-identical: integer-only arithmetic,
    # same hot-bucket drop, lockstep-tested). Oversized inputs keep the
    # distributed self-join unchanged. Peak before banding per doc: the
    # collected id and signature (Arrow 16 B, Python id 40 B, numpy
    # 16 B) and four band columns (32 B).
    held = 104 * sig_rows.count()
    if cutover.fits(df.sparkSession, "dedup.simhash_pairs", held):
        fast = _driver_simhash_pairs(
            df.sparkSession,
            sigs,
            max_hamming,
            max_bucket,
            band_w,
            df.schema[id_col].dataType.simpleString(),
            held,
        )
        if fast is not None:
            return fast
    band_mask = (1 << band_w) - 1
    bands = sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("sig"), band_w * i).bitwiseAND(F.lit(band_mask)).alias("bucket"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bb"),
    ).select("id", "sig", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    # same skew-guard shape as minhash_lsh_pairs: aggregate counts, not a
    # full-row window shuffle
    if max_bucket is not None:
        hot = (
            bands.groupBy("band", "bucket")
            .agg(F.count("*").alias("bsize"))
            .filter(F.col("bsize") > max_bucket)
            .select("band", "bucket")
            .localCheckpoint(eager=True)
        )
        bands = bands.join(F.broadcast(hot), ["band", "bucket"], "left_anti")
    l, r = bands.alias("l"), bands.alias("r")
    cand = (
        l.join(r, (F.col("l.band") == F.col("r.band")) & (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.id") < F.col("r.id")))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.sig").alias("sig_a"),
            F.col("r.sig").alias("sig_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# --------------------------------------------------------------------------
# exact n-gram Jaccard via inverted index (oracle-checkable)
# --------------------------------------------------------------------------
def _grams_of_tokens(toks, n: int):
    """N-grams from an already-projected token-array COLUMN (same
    per-element re-evaluation hazard as ``_shingles_of_norm``)."""
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )
    return F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>"))


def word_ngrams(text_col, n: int = 3):
    """Distinct word n-grams (space-joined); fewer than n tokens → empty
    array (guarded — F.sequence descends when stop < start)."""
    return _grams_of_tokens(tokens(text_col), n)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
    max_posting: int = 2000,
) -> DataFrame:
    """ALL pairs with word-n-gram Jaccard ≥ threshold (> 0 ⇒ the pair
    shares ≥1 n-gram ⇒ the inverted-index join finds it — this operator is
    exact, unlike the MinHash estimate). Returns (id_a, id_b, jaccard).

    ``max_posting`` caps an n-gram's posting list (stopword-like n-grams
    explode quadratically; at threshold ≥ 0.2 a pair sharing ONLY such
    n-grams is extremely unlikely to clear verification — documented
    approximation bound, disabled by passing None)."""
    tokenized = _spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("_toks")
    )
    # eager localCheckpoint, not persist: three consumers (postings + both
    # verify sides), no recompute races, blocks freed on dereference (a
    # persist leaked storage across repeated calls)
    docs = tokenized.select(
        "id", _grams_of_tokens(F.col("_toks"), n).alias("grams")
    ).filter(F.size("grams") > 0).localCheckpoint(eager=True)
    postings = docs.select("id", F.explode("grams").alias("gram"))
    if max_posting is not None:
        # Hot grams via map-side-combined groupBy + broadcast anti-join —
        # the same discipline as the LSH hot-bucket guard above. A window
        # count here would shuffle the FULL posting table on `gram`; this
        # shuffles only per-gram counts. Checkpointed because both sides
        # of the self-join below read the filtered postings.
        hot = (
            postings.groupBy("gram")
            .agg(F.count("*").alias("psize"))
            .filter(F.col("psize") > max_posting)
            .select("gram")
            .localCheckpoint(eager=True)
        )
        postings = postings.join(F.broadcast(hot), "gram", "left_anti")
    l, r = postings.alias("l"), postings.alias("r")
    cand = (
        l.join(r, (F.col("l.gram") == F.col("r.gram")) & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    a = docs.select(F.col("id").alias("id_a"), F.col("grams").alias("g_a"))
    b = docs.select(F.col("id").alias("id_b"), F.col("grams").alias("g_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("inter", F.size(F.array_intersect("g_a", "g_b")))
        .withColumn("uni", F.size("g_a") + F.size("g_b") - F.col("inter"))
        .withColumn("jaccard", F.round(F.col("inter") / F.col("uni"), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
