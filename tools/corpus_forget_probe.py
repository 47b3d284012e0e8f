"""Measure the bucketed survivor-corpus forget (r12 verdict What's-wrong
#1).

Builds a synthetic survivor-chunk corpus under the
``_bucket = pmod(xxhash64(doc_id), N)`` partition layout, forgets ONE
document from it, and reports wall time, files rewritten and files left
untouched. The claim under test: the forget's cost tracks the doomed
bucket (~corpus/N), not the corpus; untouched buckets are never opened.

Run:  python tools/corpus_forget_probe.py [--rows 500000] [--docs 5000]
      [--buckets 64]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=500_000)
    ap.add_argument("--docs", type=int, default=5_000)
    ap.add_argument("--buckets", type=int, default=64)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from xdump_spark import fsutil
    from xdump_spark.operators.incremental import _as_id_frame, _delete_side
    from xdump_spark.pipeline import (
        _forget_corpus_rows,
        _write_survivor_corpus,
    )
    from xdump_spark.session import get_spark

    spark = get_spark("corpus_forget_probe")
    tmp = tempfile.mkdtemp(prefix="forget_probe_")
    buck_dir = f"{tmp}/bucketed"

    # synthetic survivor chunks: rows/docs chunks per doc, ~200B text
    per_doc = args.rows // args.docs
    chunks = (
        spark.range(args.rows)
        .withColumn("doc_id", (F.col("id") / per_doc).cast("long"))
        .withColumn("chunk_idx", (F.col("id") % per_doc).cast("int"))
        .select(
            F.concat_ws(
                ":", F.col("doc_id").cast("string"), F.col("chunk_idx")
            ).alias("chunk_id"),
            "doc_id",
            "chunk_idx",
            F.concat(
                F.lit("token "), F.repeat(F.md5(F.col("id").cast("string")), 6)
            ).alias("text"),
            F.lit(40).alias("n_tokens"),
        )
    )
    _write_survivor_corpus(chunks, buck_dir, "doc_id", args.buckets)

    report: dict = {
        "rows": args.rows,
        "docs": args.docs,
        "buckets": args.buckets,
        "corpus_files": len(fsutil.list_data_files(spark, buck_dir)),
    }

    try:
        # warm codegen / FS caches so the timed forget does not carry
        # one-time JVM costs
        spark.read.parquet(buck_dir).count()

        doomed = _delete_side(
            _as_id_frame(spark, [1], "doc_id").select(
                F.col("doc_id").cast("string").alias("_doc")
            )
        )
        before = set(fsutil.list_data_files(spark, buck_dir))
        t0 = time.time()
        n = _forget_corpus_rows(spark, buck_dir, doomed, "doc_id")[
            "rows_deleted"
        ]
        dt = time.time() - t0
        after = set(fsutil.list_data_files(spark, buck_dir))
        report["bucketed"] = {
            "deleted_rows": n,
            "sec": round(dt, 2),
            "files_replaced": len(before - after),
            "files_untouched": len(before & after),
        }
        assert report["bucketed"]["deleted_rows"] == per_doc
        # the pruning claim, as data: the forget left most of the
        # corpus files byte-identical
        assert report["bucketed"]["files_untouched"] > 0
        print(json.dumps(report))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
