"""Deterministic inputs for the benchmark.

The database is a TPC-H-shaped parquet directory with the same tables,
column types and key layout as the repo's sf0.1 test data (600,000
lineitems over 2,500 ship days, uniformly random foreign keys). It is a
pure function of the scale factor, so it is generated once per checkout
and reused. The document corpus is a pure function of ``--seed``.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = "1"
DB_SEED = 20240917
SHIP_EPOCH = np.datetime64("1995-01-02", "D")
SHIP_DAYS = 2500
ORDER_EPOCH = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2404

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

# The composition of the repo's sf0.1 ``documents`` table, measured on its
# 5,000 rows (README.md, "Document corpus"): a uniform draw from these 30
# words, 10 to 99 words per document, 5% near-duplicates that copy another
# document and append "dup", no document below 10 words.
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
MIN_WORDS, MAX_WORDS = 10, 99
NEAR_DUP_SHARE = 0.05
NEAR_DUP_MARK = "dup"
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def _days(epoch, offsets) -> pa.Array:
    ts = (epoch + offsets.astype("timedelta64[D]")).astype("datetime64[us]")
    return pa.array(ts, type=pa.timestamp("us"))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def tpch_tables(sf: float = 0.1, seed: int = DB_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    adj = np.array(["large", "hot", "small", "shiny", "plated", "brushed"])
    noun = np.array(["ring", "bolt", "nut", "screw", "gear", "spring", "valve"])
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(
            rng.choice(adj, n_part), " "), rng.choice(noun, n_part))),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(np.round(rng.uniform(850.0, 500_000.0, n_ord), 2)),
        "o_orderdate": _days(ORDER_EPOCH, rng.integers(0, ORDER_DAYS, n_ord)),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)),
    })
    l_order = rng.integers(0, n_ord, n_line, dtype=np.int64)
    # l_linenumber: 1-based rank of the line within its order
    idx = np.argsort(l_order, kind="stable")
    sk = l_order[idx]
    starts = np.r_[0, np.flatnonzero(sk[1:] != sk[:-1]) + 1]
    rank = np.arange(n_line) - np.repeat(starts, np.diff(np.r_[starts, n_line]))
    linenumber = np.empty(n_line, dtype=np.int32)
    linenumber[idx] = rank + 1
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(linenumber),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2000.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _days(SHIP_EPOCH, rng.integers(0, SHIP_DAYS, n_line)),
    })
    return out


def documents(n_docs: int, seed: int) -> pa.Table:
    """A corpus with the composition of the sf0.1 ``documents`` table.
    The near-duplicate count and the multiset of base lengths are the
    same for every seed; the seed picks the words, which documents are
    near-duplicates and what they copy. A near-duplicate may copy another
    one, and two that copy the same document are exact copies, as in the
    sf0.1 table."""
    rng = np.random.default_rng([seed, 1])
    words = np.array(WORDS)
    span = MAX_WORDS - MIN_WORDS + 1
    lengths = MIN_WORDS + np.arange(n_docs) % span
    rng.shuffle(lengths)
    docs = [list(words[rng.integers(0, len(words), k)]) for k in lengths]
    for i in rng.choice(n_docs, int(n_docs * NEAR_DUP_SHARE), replace=False):
        src = (i + rng.integers(1, n_docs)) % n_docs        # any other document
        docs[i] = docs[src] + [NEAR_DUP_MARK]
    text = [" ".join(d) for d in docs]
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(text),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    })


def ensure_db(root: str, sf: float = 0.1) -> str:
    """The parquet database for ``sf`` under ``root``, generating it on
    first use. Written to a temporary directory and renamed, so an
    interrupted run never leaves a partial database behind."""
    path = os.path.join(root, f"tpch_sf{sf}_v{GEN_VERSION}")
    if os.path.isdir(path):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tpch_tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, path)
    return path

