"""Corpus sink: size-disciplined parquet writes for curated outputs.

The dump path writes the reference's archive format (engine.py); this
sink is the lake-native output a 100 TB curation pipeline actually ships:
parquet partitioned by low-cardinality keys (lang/source), with file
sizes controlled so the NEXT job reads well. Both failure modes are
write-side bugs that only hurt at scale:

- too-few-files: one giant file per partition serializes the downstream
  scan (and one task writes it);
- too-many-files: millions of KB-sized files melt the object-store
  listing and the driver's split planning.

File count derives from input-file METADATA (operators/sizing.py) — no
sizing scan of the data itself. Sizing (``file_count``) is its own step,
so a caller can size a frame before it loses its input files (a local
checkpoint has none).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xdump_spark.operators.sizing import input_bytes

DEFAULT_TARGET_FILE_MB = 128


def file_count(df: DataFrame, target_file_mb: int = DEFAULT_TARGET_FILE_MB) -> int:
    """The sink's global file budget for ``df``: its input bytes over
    ``target_file_mb``, at least one; ``defaultParallelism`` when the
    frame has no input files."""
    est = input_bytes(df)
    if est is None:
        return df.sparkSession.sparkContext.defaultParallelism
    return max(1, math.ceil(est / (target_file_mb * 1024 * 1024)))


def write_corpus(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    target_file_mb: int = DEFAULT_TARGET_FILE_MB,
    mode: str = "errorifexists",
    *,
    _n_files: int | None = None,
) -> None:
    """Write ``df`` as parquet at ``path``, hive-partitioned by
    ``partition_by``, targeting ``target_file_mb`` per data file.

    The global file budget is estimated from input bytes
    (``file_count``); rows are then repartitioned on the partition keys
    PLUS a per-row bucket so that (a) each output directory is written
    by multiple tasks when large and (b) no task receives more than ~one
    file's worth of a partition. Without the bucket column,
    repartition(partition_by) would write ONE file per partition value
    regardless of size. Without ``partition_by`` the rows are dealt
    round-robin into the files.

    The write does NOT keep the input's row order: the round-robin deal
    scrambles it, and with ``partition_by`` the hive partitions do not
    keep it either. ``_n_files`` overrides the sizing with a count taken
    earlier (the pipeline sizes with ``file_count`` before a local
    checkpoint drops the frame's input files)."""
    n_files = _n_files or file_count(df, target_file_mb)
    if partition_by:
        # Bucket on row identity (not content — some columns may be
        # arrays/maps xxhash64 rejects); the bucket only shapes the file
        # layout, so determinism of the ASSIGNMENT doesn't matter.
        bucket = F.pmod(F.monotonically_increasing_id(), F.lit(n_files))
        out = df.repartition(n_files, *partition_by, bucket.alias("_b"))
        writer = out.write.partitionBy(*partition_by)
    else:
        writer = df.repartition(n_files).write
    writer.mode(mode).parquet(path)
