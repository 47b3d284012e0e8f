"""Metadata-driven partition sizing: estimate a frame's input volume from
its files' on-disk sizes (one filesystem metadata call per file, ANY
Hadoop-supported scheme) instead of scanning the data or forcing a
plan-to-RDD conversion. At 100 TB a sizing scan of a blob column IS the
dominant cost; file status calls are free by comparison.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame


def input_bytes(df: DataFrame) -> int | None:
    """Total on-disk bytes of the frame's input files, from filesystem
    metadata only. None when the frame has no file inputs (pure in-memory
    or derived-with-unknown-lineage plans)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    spark = df.sparkSession
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    total = 0
    for f in files:
        p = jvm.org.apache.hadoop.fs.Path(f)
        total += p.getFileSystem(hconf).getFileStatus(p).getLen()
    return total


def input_uncompressed_bytes(df: DataFrame) -> int | None:
    """Total PRE-COMPRESSION byte size of the frame's parquet inputs, from
    row-group footer metadata (no data scan). On-disk compressed sizes
    understate what a partition holds in memory by the codec ratio; the
    footer's total_byte_size removes the codec (it is still post-ENCODING,
    so dictionary/RLE-heavy columns remain a lower bound on decoded
    memory). Memory-bound partitioning should prefer this over
    ``input_bytes``. None for non-parquet / non-local inputs (callers
    fall back to an exact payload aggregate)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    from urllib.parse import unquote, urlparse

    total = 0
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("file", "") or not f.endswith(".parquet"):
            return None
        import pyarrow.parquet as pq

        md = pq.ParquetFile(unquote(u.path)).metadata
        total += sum(md.row_group(i).total_byte_size for i in range(md.num_row_groups))
    return total


# Logical-plan node names whose presence means the frame's runtime
# partitioning is NOT the file scan's (shuffles/coalesces in between), so
# file-metadata estimates would lie about it.
_NON_SCAN_NODES = (
    "Join", "Aggregate", "Repartition", "Sort", "Window", "Deduplicate",
    "Union", "GlobalLimit", "Expand", "Generate",
)


def _is_simple_scan(df: DataFrame) -> bool:
    plan = df._jdf.queryExecution().analyzed().toString()
    return not any(node in plan for node in _NON_SCAN_NODES)


def estimated_scan_partitions(df: DataFrame) -> int | None:
    """How many partitions Spark's file scan will produce, modelling the
    planner's actual bin-packing (FilePartition.maxSplitBytes): each file
    is padded with openCostInBytes, the split size is
    min(maxPartitionBytes, max(openCost, paddedTotal / minPartitionNum)),
    and padded bytes are packed into splits. A bare max(len(files), ...)
    would OVERESTIMATE for many small files — Spark packs several per
    partition — and make ``spread`` skip a needed repartition. None when
    the frame has no file inputs."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = input_bytes(df) or 0
    split = ScanSplit.of(df.sparkSession)
    padded = total + len(files) * split.open_cost
    return max(1, -(-padded // split.max_split_bytes(total, len(files))))


@dataclass(frozen=True)
class ScanSplit:
    """The session's file-scan split settings, read once: each read is a
    JVM round trip of a millisecond or more."""

    max_bytes: int
    open_cost: int
    min_parts: int

    @classmethod
    def of(cls, spark) -> "ScanSplit":
        as_bytes = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes
        min_parts = spark.conf.get("spark.sql.files.minPartitionNum", None)
        return cls(
            as_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB")),
            as_bytes(spark.conf.get("spark.sql.files.openCostInBytes", "4MB")),
            int(min_parts) if min_parts else spark.sparkContext.defaultParallelism,
        )

    def max_split_bytes(self, total_bytes: int, n_files: int) -> int:
        """The split size a scan of ``n_files`` files holding
        ``total_bytes`` uses (FilePartition.maxSplitBytes): each file
        padded with openCostInBytes, min(maxPartitionBytes,
        max(openCost, paddedTotal / minPartitionNum))."""
        padded = total_bytes + n_files * self.open_cost
        return max(1, min(self.max_bytes, max(self.open_cost, -(-padded // max(1, self.min_parts)))))


def spread(df: DataFrame) -> DataFrame:
    """Fan a narrow scan out to the cluster before CPU-heavy evaluation.
    A small parquet file arrives as ONE partition and a no-shuffle map
    stage then runs on a single core regardless of cluster size. No-op
    when the scan is already wide enough (estimated from file METADATA —
    ``df.rdd.getNumPartitions()`` forced a plan-to-RDD conversion per
    call), so wide 100 TB inputs are never collapsed.

    The metadata estimate only describes the FILE SCAN's partitioning, so
    it applies only to plans that are pure scan+project+filter; anything
    with a shuffle in between (join/agg output, possibly AQE-coalesced to
    a few partitions) falls back to the RDD probe, which reports the real
    runtime partitioning."""
    target = df.sparkSession.sparkContext.defaultParallelism
    est = estimated_scan_partitions(df) if _is_simple_scan(df) else None
    if est is None:
        est = df.rdd.getNumPartitions()
    if est >= target:
        return df
    return df.repartition(target)


def pushdown_barrier(col):
    """Value-identical wrapper that BLOCKS predicate pushdown through the
    projection defining ``col``.

    The trap (measured 50× on a 500-doc corpus, unbounded at scale):
    Catalyst's PushDownPredicates substitutes project aliases into a
    pushed filter with no cost model, so ``filter(score >= x)`` above a
    fused signal projection re-inlines the pinned token array into every
    per-element lambda of the predicate — the exact re-evaluation the
    pinning projection exists to prevent (classifier.with_quality_score,
    curation.gopher_filter). Wrapping the derived gate column as
    ``shuffle(array(col))[0]`` marks its alias nondeterministic — which
    substitution must not cross — while the value is bit-identical: a
    permutation of ONE element is that element, on every run, under any
    seed. (A ``rand() >= 0``-style guard does NOT survive: the optimizer
    knows rand's value range and folds the guard away, re-enabling
    pushdown — verified on Spark 4.1.)

    Use ONLY on expensive derived columns users will filter on: the
    barrier also stops UNRELATED cheap predicates from reaching the scan
    through this projection, so never wrap plain passthrough columns.
    """
    from pyspark.sql import functions as F

    return F.shuffle(F.array(col)).getItem(0)
