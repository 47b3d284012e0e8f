"""Store-retention (delete_ids) cost across store sizes (r10).

Measures what SCALE.md's retention cost model claims analytically:
VectorStore deletion = one column-pruned id→cell scan + a rewrite of
ONLY the touched cells (bounded by the delete batch, not the store);
the ExactHashStore/SignatureStore deletes are O(store) single rewrites
of state that is orders of magnitude smaller than the corpus.

    python tools/retention_probe.py [float64|pq] [n1 n2 ...]

Stores are built like tools/retrain_decades.py (real append path, 128
cells); each size deletes a deterministic 1,000-id batch and reports
phase-decomposed wall time, cells touched, and bytes before/after.
"""
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from xdump_spark.operators.incremental import (  # noqa: E402
    ExactHashStore,
    incremental_exact_dedup,
)
from xdump_spark.session import get_spark  # noqa: E402

sys.path.insert(0, str(Path(__file__).resolve().parent))
from retrain_decades import build_store  # noqa: E402


def main() -> None:
    import os

    dtype = sys.argv[1] if len(sys.argv) > 1 else "float64"
    sizes = [int(x) for x in sys.argv[2:]] or [250_000, 1_000_000]
    n_cells = int(os.environ.get("XD_RET_CELLS", "128"))
    spark = get_spark("retention_probe")
    batch = 1_000
    for n in sizes:
        store = build_store(spark, n, dtype, n_cells=n_cells)
        before = store.stats()
        doomed = [int(i * (n // batch)) for i in range(batch)]
        t0 = time.time()
        rpt = store.delete_ids(doomed)
        wall = time.time() - t0
        after = store.stats()
        print(
            f"vector/{dtype} n={n}: delete {batch} ids in {wall:.1f}s "
            f"(deleted_rows={rpt['deleted_rows']}, "
            f"cells_rewritten={rpt['cells_rewritten']}/{n_cells}), "
            f"bytes {before['bytes']/1e6:.1f}MB -> {after['bytes']/1e6:.1f}MB, "
            f"rows {before['rows']} -> {after['rows']}"
        )

    # r12: mass-retention path — the same delete size through BOTH join
    # strategies (fresh store each, deletes mutate): default broadcast
    # vs the _delete_side shuffle fallback forced by a zero driver
    # budget. Confirms the degraded plan is not a cliff at the sizes
    # local[32] can hold; at true mass-retention size (1e8 ids vs 1e9
    # rows) only the shuffle plan can run at all.
    if os.environ.get("XD_RET_MASS"):
        import contextlib

        from xdump_spark import cutover

        for n in sizes:
            doomed = list(range(0, n, 3))  # ~a third of the store
            walls = {}
            for mode, pin in (("broadcast", contextlib.nullcontext()), ("shuffle", cutover.budget(0))):
                store = build_store(spark, n, dtype, n_cells=n_cells)
                with pin:
                    t0 = time.time()
                    rpt = store.delete_ids(doomed)
                    walls[mode] = time.time() - t0
                assert rpt["deleted_rows"] == len(doomed), rpt
            print(
                f"mass vector/{dtype} n={n}: delete {len(doomed)} ids — "
                f"broadcast {walls['broadcast']:.1f}s vs "
                f"shuffle {walls['shuffle']:.1f}s"
            )

    # exact store: O(store) rewrite of 16 B/row state
    for n in sizes:
        name = f"ret_probe_{n}"
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        ex = ExactHashStore(
            spark, name, n_buckets=64,
            path=tempfile.mkdtemp() + f"/ex_{n}",
        )
        docs = spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("doc body "), F.col("id")).alias("text"),
        )
        incremental_exact_dedup(docs, ex)
        doomed_docs = docs.filter(F.col("doc_id") % (n // batch) == 0)
        t0 = time.time()
        rpt = ex.delete_docs(doomed_docs)
        wall = time.time() - t0
        print(
            f"exact n={n}: delete {batch} hashes in {wall:.1f}s "
            f"(deleted_rows={rpt['deleted_rows']}, "
            f"files_rewritten={rpt['files_rewritten']})"
        )
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.stop()


if __name__ == "__main__":
    main()
