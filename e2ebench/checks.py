"""Output checks, computed independently of the program with DuckDB.

A dump is right when the loaded database holds exactly the FK closure of
the seed rows: per table the same row count and the same order-insensitive
row hash as a DuckDB closure over the same parquet, written as nested
``IN`` subqueries, and ``sequences.json`` holding each keyed table's max
key. The archive itself must list the same tables, rows and sequences.
"""

from __future__ import annotations

import csv
import glob
import hashlib
import io
import json
import os
import zipfile

import duckdb

# child.column -> parent.column, the TPC-H graph the catalog declares
FOREIGN_KEYS = (
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
)
TABLES = tuple(sorted({c for c, _, _, _ in FOREIGN_KEYS} | {p for _, _, p, _ in FOREIGN_KEYS}))
PRIMARY_KEYS = {
    "region": "r_regionkey", "nation": "n_nationkey", "customer": "c_custkey",
    "supplier": "s_suppkey", "part": "p_partkey", "orders": "o_orderkey",
}


def closure_sql(seeds: dict[str, str]) -> dict[str, str]:
    """Table -> SQL selecting its closure rows: the seed rows plus every
    row a selected child row references, parents pulled transitively
    (children of selected rows never are). The graph is acyclic."""
    memo: dict[str, str | None] = {}

    def sql(table: str) -> str | None:
        if table not in memo:
            legs = [seeds[table]] if table in seeds else []
            for child, col, parent, pcol in FOREIGN_KEYS:
                if parent == table and sql(child) is not None:
                    legs.append(
                        f"SELECT * FROM {table} WHERE {pcol} IN "
                        f"(SELECT {col} FROM ({sql(child)}))"
                    )
            memo[table] = " UNION ".join(legs) if legs else None
        return memo[table]

    return {t: s for t in TABLES if (s := sql(t)) is not None}


def _norm(col: str, dtype: str) -> str:
    """One canonical value per column, whatever parquet type a writer
    chose: integers as BIGINT, timestamps as epoch microseconds."""
    d = dtype.upper()
    if d in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT"):
        return f"CAST({col} AS BIGINT)"
    if d.startswith("TIMESTAMP") or d == "DATE":
        return f"epoch_us(CAST({col} AS TIMESTAMP))"
    return col


def digest(con, relation: str, columns: list[tuple[str, str]]) -> tuple[int, int]:
    """(row count, order-insensitive sum of per-row hashes)."""
    exprs = ", ".join(_norm(c, t) for c, t in columns)
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({exprs})), 0) FROM ({relation})"
    ).fetchone()
    return int(n), int(h)


class DumpOracle:
    """The expected closure of one seed over a parquet database."""

    def __init__(self, db_dir: str, seeds: dict[str, str]):
        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(db_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.columns = {
            t: [(r[0], r[1]) for r in con.execute(f"DESCRIBE {t}").fetchall()]
            for t in TABLES
        }
        self.sql = closure_sql(seeds)
        self.expected = {t: digest(con, q, self.columns[t]) for t, q in self.sql.items()}
        self.sequences = {}
        for t, pk in PRIMARY_KEYS.items():
            if t in self.sql and self.expected[t][0]:
                self.sequences[t] = int(
                    con.execute(f"SELECT max({pk}) FROM ({self.sql[t]})").fetchone()[0])
        con.close()

    def check_loaded(self, loaded_dir: str) -> list[str]:
        """Problems with a database written by ``write_parquet_db``."""
        problems = []
        present = sorted(d for d in os.listdir(loaded_dir)
                         if os.path.isdir(os.path.join(loaded_dir, d)))
        if present != sorted(self.expected):
            problems.append(f"loaded tables {present} != expected {sorted(self.expected)}")
        con = duckdb.connect()
        try:
            for t, want in self.expected.items():
                files = glob.glob(os.path.join(loaded_dir, t, "*.parquet"))
                if not files:
                    if want[0]:
                        problems.append(f"{t}: no parquet files, expected {want[0]} rows")
                    continue
                rel = f"SELECT * FROM read_parquet({files!r})"
                got = digest(con, rel, self.columns[t])
                if got != want:
                    problems.append(f"{t}: loaded (rows, hash) {got} != closure {want}")
        finally:
            con.close()
        seq_path = os.path.join(loaded_dir, "sequences.json")
        seqs = json.load(open(seq_path)) if os.path.exists(seq_path) else None
        if seqs != self.sequences:
            problems.append(f"sequences.json {seqs} != max keys {self.sequences}")
        return problems

    def check_archive(self, zip_path: str) -> list[str]:
        """Problems with the dump zip: tables, CSV row counts, sequences."""
        problems = []
        with zipfile.ZipFile(zip_path) as zf:
            names = zf.namelist()
            members = sorted(n[len("dump/data/"):-4] for n in names
                             if n.startswith("dump/data/") and n.endswith(".csv"))
            if members != sorted(self.expected):
                problems.append(f"archive tables {members} != expected {sorted(self.expected)}")
            for t in members:
                text = zf.read(f"dump/data/{t}.csv").decode("utf-8")
                n = sum(1 for _ in csv.reader(io.StringIO(text))) - 1
                want = self.expected.get(t, (0, 0))[0]
                if n != want:
                    problems.append(f"archive {t}.csv has {n} rows, closure has {want}")
            seqs = (json.loads(zf.read("dump/sequences.json"))
                    if "dump/sequences.json" in names else None)
        if seqs != self.sequences:
            problems.append(f"archive sequences {seqs} != max keys {self.sequences}")
        return problems


def doc_id_digest(out_dir: str) -> tuple[int, str, list[str]]:
    """(surviving docs, sha256 of the sorted doc-id set, problems) of a
    corpus sink directory with one sub-directory per split."""
    files = sorted(glob.glob(os.path.join(out_dir, "**", "*.parquet"), recursive=True))
    if not files:
        return 0, "", [f"no parquet files under {out_dir}"]
    con = duckdb.connect()
    try:
        ids = [r[0] for r in con.execute(
            f"SELECT doc_id FROM read_parquet({files!r}, hive_partitioning=false) ORDER BY 1"
        ).fetchall()]
    finally:
        con.close()
    problems = []
    if len(ids) != len(set(ids)):
        problems.append(f"{len(ids) - len(set(ids))} doc ids appear in more than one row")
    h = hashlib.sha256(",".join(map(str, ids)).encode()).hexdigest()
    return len(ids), h, problems
