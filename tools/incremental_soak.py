#!/usr/bin/env python
"""Incremental-dedup soak (r7, VERDICT r6 #2/#4): measure the guarded /
components-mode `incremental_neardup` paths and store compaction on the
skew decade's template-cluster corpus — the exact shape the r6 soak
showed blowing up unguarded (4.2 B candidate pairs from one 25 k-doc
template cluster).

Input: a `make_soak_sf1.py --skew` decade (5% template documents).
Split: 90% of docs are signed into the SignatureStore as history, the
other 10% (which includes ~10% of the template cluster) arrive as one
daily batch.

Experiments:

I1. greedy + guards (the defaults): wall, accepted, pairs collected.
I2. resolve="components" with max_bucket=None: the fully-distributed
    path that needs NO guard — wall, accepted, rejects (never
    collected).
I3. greedy unguarded (max_bucket=None): expected to RAISE max_pairs —
    proves the driver bound trips instead of OOMing.
I4. store fragmentation: increment wall against the store as-appended
    (N files) vs after compact() — the small-file cost VERDICT #4's
    compaction exists to remove, measured on the probe that pays it.

Each timing best-of-2. Prints one JSON line; numbers go to SCALE.md.

Usage: python tools/incremental_soak.py [--sf-dir .soak/skew10]
       [--store-dir /tmp/incr_soak_store] [--num-perm 128]
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F


def timed(label, fn, out: dict, repeats: int = 2):
    best, n = None, None
    for _ in range(repeats):
        t0 = time.time()
        n = fn()
        dt = round(time.time() - t0, 3)
        best = dt if best is None or dt < best else best
    out[label] = best
    print(f"{label}: {best}s (n={n})", file=sys.stderr)
    return n


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=".soak/skew10")
    ap.add_argument("--store-dir", default="/tmp/incr_soak_store")
    ap.add_argument("--num-perm", type=int, default=128)
    ap.add_argument("--skip", default="", help="comma list: I1,I2,I3,I4")
    args = ap.parse_args()
    skip = set(args.skip.split(",")) if args.skip else set()

    from xdump_spark.operators.incremental import (
        SignatureStore,
        incremental_neardup,
    )
    from xdump_spark.queries import _cat
    from xdump_spark.session import get_spark

    spark = get_spark("incremental_soak")
    docs = _cat(spark, args.sf_dir).tables["documents"]
    np, bands = args.num_perm, args.num_perm // 4  # r=4, the default S-curve
    results: dict = {"sf_dir": args.sf_dir, "num_perm": np}

    n_docs = docs.count()
    results["n_docs"] = n_docs
    hist = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0).localCheckpoint(eager=True)
    results["n_batch"] = batch.count()

    def build_store(path: str) -> SignatureStore:
        shutil.rmtree(path, ignore_errors=True)
        s = SignatureStore(spark, path)
        s.append(*s.rows(hist, num_perm=np, bands=bands))
        return s

    t0 = time.time()
    store = build_store(f"{args.store_dir}/main")
    results["store_build_s"] = round(time.time() - t0, 3)
    results["store_stats"] = store.read().count()
    print(f"history signed: {results['store_stats']} banded rows "
          f"in {results['store_build_s']}s", file=sys.stderr)

    # fresh store per timed arm: an increment APPENDS, so re-running it
    # against a mutated store would measure a different probe
    def arm(mode_kwargs, label):
        def run():
            src = f"{args.store_dir}/main"
            dst = f"{args.store_dir}/arm"
            shutil.rmtree(dst, ignore_errors=True)
            shutil.copytree(src, dst)
            s = SignatureStore(spark, dst)
            r = incremental_neardup(
                batch, s, id_col="doc_id", num_perm=np, bands=bands,
                threshold=0.6, **mode_kwargs,
            )
            acc = r.accepted.count()
            rej = r.rejects.count() if r.rejects is not None else len(r.pairs)
            results[f"{label}_accepted"] = acc
            results[f"{label}_rejected"] = rej
            return acc
        try:
            timed(label, run, results)
            results[f"{label}_raised"] = False
        except ValueError as e:
            results[f"{label}_raised"] = True
            results[f"{label}_msg"] = str(e)[:140]
            print(f"{label} raised (by design): {str(e)[:140]}", file=sys.stderr)
        except Exception as e:  # an arm dying (OOM...) IS a result
            results[f"{label}_failed"] = f"{type(e).__name__}: {str(e)[:140]}"
            print(f"{label} FAILED: {results[f'{label}_failed']}", file=sys.stderr)

    # A 5%-template batch has cluster-QUADRATIC TRUE near-dup pairs (the
    # unique-suffix near-dups land in sub-max_bucket sub-buckets no hot
    # guard can thin) — greedy at the DEFAULT max_pairs must refuse, the
    # raised-limit greedy arm and the components arm must complete.
    if "I1" not in skip:
        arm({"resolve": "greedy"}, "I1_greedy_default")
        arm({"resolve": "greedy", "max_pairs": 10_000_000}, "I1b_greedy_10M_pairs")
    if "I2" not in skip:
        arm({"resolve": "components", "max_bucket": None}, "I2_components_unguarded")
        arm({"resolve": "components"}, "I2b_components_guarded")
    if "I3" not in skip:
        arm({"resolve": "greedy", "max_bucket": None}, "I3_greedy_unguarded")

    if "I4" not in skip:
        # fragment the store: history re-appended as 10 slices -> 10
        # files per band partition, then probe before/after compact()
        frag_path = f"{args.store_dir}/frag"
        shutil.rmtree(frag_path, ignore_errors=True)
        frag = SignatureStore(spark, frag_path)
        for i in range(10):
            part = hist.filter(F.pmod(F.xxhash64("doc_id"), F.lit(10)) == i)
            frag.append(*frag.rows(part, num_perm=np, bands=bands))
        st = frag.stats()
        results["I4_files_fragmented"] = st["files"]

        def probe(s):
            def run():
                src, dst = frag_path, f"{args.store_dir}/arm4"
                shutil.rmtree(dst, ignore_errors=True)
                shutil.copytree(src, dst)
                # components resolution: the template batch's 2.1 M TRUE
                # pairs refuse greedy's driver bound by design (I1)
                r = incremental_neardup(
                    batch, SignatureStore(spark, dst), id_col="doc_id",
                    num_perm=np, bands=bands, threshold=0.6,
                    resolve="components",
                )
                return r.accepted.count()
            timed(s, run, results)

        probe("I4_probe_fragmented")
        rpt = frag.compact()
        results["I4_files_compacted"] = rpt["files_after"]
        probe("I4_probe_compacted")

    print(json.dumps(results))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
