"""The benchmark's workloads: each builds its inputs from the seed, runs
one op through the program's public API, and checks the op's output."""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass, field

import pyarrow.compute as pc
import pyarrow.parquet as pq

import checks
import gen

WINDOW_DAYS = 30      # ~7,200 seed lineitems, ~27,000 dumped rows at sf0.1
CURATE_DOCS = 500
CURATE_SPLITS = {"train": 0.9, "val": 0.1}


@dataclass
class OpOutput:
    rows: int                  # dumped rows, or surviving docs
    out_bytes: int             # archive zip bytes, or corpus sink bytes
    problems: list[str] = field(default_factory=list)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class DumpLoadWide:
    """Seed: the lineitems of one ``WINDOW_DAYS`` ship-date window, its
    start drawn by the seed among the ship dates present. Op: dump the FK
    closure to a zip, load it back, replay it into a fresh parquet DB."""

    name = "dump_load_wide"

    def __init__(self, data_dir: str, work_dir: str, seed: int):
        self.db_dir = db_dir = gen.ensure_db(data_dir)
        ship = pq.read_table(os.path.join(db_dir, "lineitem.parquet"), columns=["l_shipdate"])
        lo, hi = (v.as_py() for v in pc.min_max(ship["l_shipdate"]).values())
        span = (hi - lo).days - WINDOW_DAYS
        start = lo + dt.timedelta(days=random.Random(seed).randrange(span + 1))
        self.window = (start.strftime("%Y-%m-%d %H:%M:%S"),
                       (start + dt.timedelta(days=WINDOW_DAYS)).strftime("%Y-%m-%d %H:%M:%S"))
        self.oracle = checks.DumpOracle(db_dir, {"lineitem": (
            "SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '%s' "
            "AND l_shipdate < TIMESTAMP '%s'" % self.window)})

    def prepare(self, spark) -> None:
        import xdump_spark

        self.catalog = xdump_spark.load_sf_dir(spark, self.db_dir, list(gen.TPCH_TABLES))
        for t in gen.TPCH_TABLES:
            self.catalog.tables[t].schema
        self.engine = xdump_spark.SparkDumpEngine(spark, self.catalog)

    def op(self, op_dir: str) -> dict:
        from pyspark.sql import functions as F

        li = self.catalog.tables["lineitem"]
        seed = li.where((F.col("l_shipdate") >= F.lit(self.window[0]))
                        & (F.col("l_shipdate") < F.lit(self.window[1])))
        zip_path = os.path.join(op_dir, "dump.zip")
        counts = self.engine.dump(zip_path, partial_tables={"lineitem": seed})
        loaded = self.engine.load(zip_path)
        loaded.write_parquet_db(os.path.join(op_dir, "db"))
        return {"zip": zip_path, "db": os.path.join(op_dir, "db"), "counts": counts}

    def check(self, res: dict) -> OpOutput:
        want = {t: n for t, (n, _) in self.oracle.expected.items()}
        problems = []
        if not res["counts"].get("lineitem"):
            problems.append("empty selection: the seed window dumped no lineitems")
        if res["counts"] != want:
            problems.append(f"dump() counts {res['counts']} != closure {want}")
        problems += self.oracle.check_archive(res["zip"])
        problems += self.oracle.check_loaded(res["db"])
        return OpOutput(sum(res["counts"].values()), os.path.getsize(res["zip"]), problems)


class CurateDocs:
    """Corpus: ``CURATE_DOCS`` seed-generated documents. Op: the fixed
    stage list cleaning, span dedup, exact doc dedup, quality gate,
    splits and parquet sink, with the audit at its default."""

    name = "curate_docs"

    def __init__(self, data_dir: str, work_dir: str, seed: int):
        self.docs_path = os.path.join(work_dir, "documents.parquet")
        pq.write_table(gen.documents(CURATE_DOCS, seed), self.docs_path)
        self.reference: str | None = None

    def prepare(self, spark) -> None:
        self.docs = spark.read.parquet(self.docs_path)
        self.docs.schema

    def op(self, op_dir: str) -> dict:
        import xdump_spark

        out = os.path.join(op_dir, "corpus")
        res = xdump_spark.prepare_training_corpus(
            self.docs, span_k=8, doc_dedup="exact", min_tokens=5,
            splits=CURATE_SPLITS, out_dir=out,
        )
        return {"out": out, "audit": res.audit}

    def check(self, res: dict) -> OpOutput:
        n, digest, problems = checks.doc_id_digest(res["out"])
        split_total = sum(v for k, v in res["audit"].items() if k.startswith("split_"))
        if n == 0:
            problems.append("no document survived")
        if n != split_total:
            problems.append(f"sink holds {n} docs, audit splits sum to {split_total}")
        if self.reference is None:
            self.reference = digest
        elif digest != self.reference:
            problems.append(f"surviving doc-id set {digest[:12]} != first op's {self.reference[:12]}")
        return OpOutput(n, _dir_bytes(res["out"]), problems)


WORKLOADS = {w.name: w for w in (DumpLoadWide, CurateDocs)}
