import csv
import io
import json
import os
import zipfile

import duckdb
import pyarrow.parquet as pq
import pytest

import checks
import gen

WINDOW = ("1996-03-01 00:00:00", "1996-03-31 00:00:00")


@pytest.fixture(scope="module")
def db(tmp_path_factory):
    d = tmp_path_factory.mktemp("db")
    for name, table in gen.tpch_tables(sf=0.001).items():
        pq.write_table(table, d / f"{name}.parquet")
    return str(d)


@pytest.fixture(scope="module")
def oracle(db):
    return checks.DumpOracle(db, {"lineitem": (
        "SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '%s' "
        "AND l_shipdate < TIMESTAMP '%s'" % WINDOW)})


def _con(db):
    con = duckdb.connect()
    for t in checks.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{db}/{t}.parquet')")
    return con


def _write_loaded(db, oracle, out, edit=None):
    """The database a correct load would write; ``edit(table, sql)`` may
    rewrite one table's rows."""
    con = _con(db)
    for t, q in oracle.sql.items():
        os.makedirs(out / t)
        q = edit(t, q) if edit else q
        con.execute(f"COPY ({q}) TO '{out / t / 'part-0.parquet'}' (FORMAT PARQUET)")
    (out / "sequences.json").write_text(json.dumps(oracle.sequences))
    return str(out)


def _write_archive(db, oracle, path, drop_line=None, sequences=None, skip=None):
    con = _con(db)
    with zipfile.ZipFile(path, "w") as zf:
        for t, q in oracle.sql.items():
            if t == skip:
                continue
            cur = con.execute(q)
            buf = io.StringIO()
            w = csv.writer(buf, lineterminator="\n")
            w.writerow([c[0] for c in cur.description])
            rows = cur.fetchall()
            if t == drop_line:
                rows = rows[1:]
            w.writerows(rows)
            zf.writestr(f"dump/data/{t}.csv", buf.getvalue())
        zf.writestr("dump/sequences.json", json.dumps(
            oracle.sequences if sequences is None else sequences))
    return str(path)


def test_closure_sql_follows_parents_only():
    assert sorted(checks.closure_sql({"lineitem": "SELECT * FROM lineitem"})) == sorted(checks.TABLES)
    assert sorted(checks.closure_sql({"orders": "SELECT * FROM orders"})) == [
        "customer", "nation", "orders", "region"]


def test_oracle_is_nonempty_and_keyed(oracle):
    assert oracle.expected["lineitem"][0] > 0
    assert set(oracle.sequences) == {"region", "nation", "customer", "supplier", "part", "orders"}


def test_correct_output_passes(db, oracle, tmp_path):
    assert oracle.check_loaded(_write_loaded(db, oracle, tmp_path / "db")) == []
    assert oracle.check_archive(_write_archive(db, oracle, tmp_path / "a.zip")) == []


def test_missing_row_fails(db, oracle, tmp_path):
    def edit(t, q):
        if t != "customer":
            return q
        return f"SELECT * FROM ({q}) WHERE c_custkey <> (SELECT min(c_custkey) FROM ({q}))"

    problems = oracle.check_loaded(_write_loaded(db, oracle, tmp_path / "db", edit))
    assert len(problems) == 1 and problems[0].startswith("customer:")


def test_changed_value_fails_on_hash(db, oracle, tmp_path):
    def edit(t, q):
        if t != "part":
            return q
        return (f"SELECT * REPLACE (CASE WHEN p_partkey = (SELECT min(p_partkey) FROM ({q})) "
                f"THEN p_retailprice + 0.01 ELSE p_retailprice END AS p_retailprice) FROM ({q})")

    problems = oracle.check_loaded(_write_loaded(db, oracle, tmp_path / "db", edit))
    assert len(problems) == 1 and problems[0].startswith("part:")


def test_wrong_sequences_fail(db, oracle, tmp_path):
    out = _write_loaded(db, oracle, tmp_path / "db")
    seqs = dict(oracle.sequences, orders=oracle.sequences["orders"] - 1)
    (tmp_path / "db" / "sequences.json").write_text(json.dumps(seqs))
    assert [p for p in oracle.check_loaded(out) if p.startswith("sequences.json")]


def test_tampered_archive_fails(db, oracle, tmp_path):
    short = _write_archive(db, oracle, tmp_path / "short.zip", drop_line="orders")
    assert oracle.check_archive(short) == [
        f"archive orders.csv has {oracle.expected['orders'][0] - 1} rows, "
        f"closure has {oracle.expected['orders'][0]}"]
    missing = _write_archive(db, oracle, tmp_path / "missing.zip", skip="region")
    assert any(p.startswith("archive tables") for p in oracle.check_archive(missing))
    seqs = _write_archive(db, oracle, tmp_path / "seqs.zip", sequences={"orders": 1})
    assert any(p.startswith("archive sequences") for p in oracle.check_archive(seqs))


def test_doc_id_digest_is_order_insensitive_and_flags_duplicates(tmp_path):
    import pyarrow as pa

    for name, ids in (("a/train", [3, 1]), ("a/val", [2]), ("b/train", [2, 1]), ("b/val", [3]),
                      ("c/train", [1, 2]), ("c/val", [2])):
        os.makedirs(tmp_path / name)
        pq.write_table(pa.table({"doc_id": ids}), tmp_path / name / "part-0.parquet")
    na, ha, pa_ = checks.doc_id_digest(str(tmp_path / "a"))
    nb, hb, pb = checks.doc_id_digest(str(tmp_path / "b"))
    assert (na, pa_) == (3, []) and (ha, pb) == (hb, [])
    nc, hc, pc = checks.doc_id_digest(str(tmp_path / "c"))
    assert nc == 3 and hc != ha and pc == ["1 doc ids appear in more than one row"]
    assert checks.doc_id_digest(str(tmp_path / "none"))[2]
