"""Dump/load round-trip tests — the reference's end-to-end golden style
(reference: tests/test_backend.py:129-207, tests/conftest.py:125-152):
dump a known fixture, assert archive members and row sets, load back,
compare contents and sequence state."""

import json
import zipfile
from collections import Counter

import pyarrow as pa
import pytest

from xdump_spark.archive import (
    DumpArchive,
    format_csv_value,
    parse_csv_bytes,
    rows_to_csv,
)
from xdump_spark.engine import SparkDumpEngine, sequence_state, toposort_tables
from xdump_spark.catalog import Catalog, ForeignKey
from xdump_spark.planner.closure import compute_closure

from .conftest import ids


@pytest.fixture()
def engine(spark, employees_catalog):
    return SparkDumpEngine(spark, employees_catalog)


def test_dump_archive_members(tmp_path, engine, employees_catalog):
    out = str(tmp_path / "dump.zip")
    engine.dump(
        out,
        full_tables=["groups"],
        partial_tables={"employees": "SELECT * FROM employees ORDER BY id DESC LIMIT 2"},
    )
    names = set(DumpArchive(out).namelist())
    # layout mirrors the reference zip (base.py:14-16; conftest.py:174-180)
    assert names == {
        "dump/schema.json",
        "dump/sequences.json",
        "dump/data/groups.csv",
        "dump/data/employees.csv",
    }


def test_dump_flags(tmp_path, engine):
    # reference: tests/test_backend.py:142-162 (schema/data toggles)
    no_schema = str(tmp_path / "ns.zip")
    engine.dump(no_schema, full_tables=["groups"], dump_schema=False)
    assert set(DumpArchive(no_schema).namelist()) == {"dump/data/groups.csv"}

    no_data = str(tmp_path / "nd.zip")
    engine.dump(no_data, full_tables=["groups"], dump_data=False)
    assert set(DumpArchive(no_data).namelist()) == {"dump/schema.json", "dump/sequences.json"}


def test_dump_compression_choices(tmp_path, engine):
    # reference CLI compression map (cli/dump.py:32-38)
    for comp, const in [("stored", zipfile.ZIP_STORED), ("lzma", zipfile.ZIP_LZMA)]:
        out = str(tmp_path / f"{comp}.zip")
        engine.dump(out, full_tables=["groups"], compression=comp)
        with zipfile.ZipFile(out) as zf:
            assert zf.infolist()[0].compress_type == const


def test_roundtrip_flagship(tmp_path, spark, engine):
    """F11: 2 most-recent employees + manager closure, groups full — dump,
    load, compare row sets and sequence state."""
    out = str(tmp_path / "dump.zip")
    counts = engine.dump(
        out,
        full_tables=["groups"],
        partial_tables={"employees": "SELECT * FROM employees ORDER BY id DESC LIMIT 2"},
    )
    assert counts == {"employees": 4, "groups": 2}

    loaded = SparkDumpEngine(spark, engine.catalog).load(out)
    assert ids(loaded.frames["employees"]) == {1, 3, 4, 5}
    assert ids(loaded.frames["groups"]) == {1, 2}
    # types survive the round trip
    assert dict(loaded.frames["employees"].dtypes)["manager_id"] == "int"
    # sequence state: max ids (reference: currval checks, test_backend.py:138-140)
    assert loaded.sequences == {"employees": 5, "groups": 2}
    # NULL survives: employee 1 has manager_id NULL
    row = [r for r in loaded.frames["employees"].collect() if r.id == 1][0]
    assert row.manager_id is None


def test_roundtrip_into_parquet_db(tmp_path, spark, engine):
    from xdump_spark.sources.parquet_db import ParquetDatabase

    out = str(tmp_path / "dump.zip")
    # closure runs for full tables too (F5): tickets pull their authors
    engine.dump(out, full_tables=["groups", "tickets"])
    loaded = SparkDumpEngine(spark, engine.catalog).load(out)
    db_dir = str(tmp_path / "db")
    order = loaded.write_parquet_db(db_dir)
    assert order == ["groups", "employees", "tickets"]  # FK topological
    db = ParquetDatabase(spark, db_dir)
    assert set(db.tables()) == {"groups", "employees", "tickets"}
    assert db.catalog().tables["tickets"].count() == 5
    # reference parity (test_non_existent_db): a missing source is an
    # error, never a silently-empty catalog/dump
    with pytest.raises(FileNotFoundError, match="does not exist"):
        ParquetDatabase(db.spark, str(tmp_path / "no_such_db")).catalog()
    assert ids(db.catalog().tables["employees"]) == {1, 2, 3}  # authors only
    db.truncate(["tickets"])
    assert set(db.tables()) == {"groups", "employees"}
    db.recreate()
    assert db.tables() == []


def test_load_without_schema_member(tmp_path, spark, engine):
    # reference changelog #39: load must tolerate a schema-less archive
    out = str(tmp_path / "nos.zip")
    engine.dump(out, full_tables=["groups"], dump_schema=False)
    loaded = SparkDumpEngine(spark, engine.catalog).load(out)
    assert loaded.frames["groups"].count() == 2
    assert dict(loaded.frames["groups"].dtypes)["id"] == "string"  # untyped fallback


def test_toposort():
    fks = [
        ForeignKey("tickets", "author_id", "employees", "id"),
        ForeignKey("employees", "group_id", "groups", "id"),
        ForeignKey("employees", "manager_id", "employees", "id"),  # self: ignored
    ]
    order = toposort_tables(["tickets", "employees", "groups"], fks)
    assert order.index("groups") < order.index("employees") < order.index("tickets")


def test_csv_copy_semantics():
    # NULL → empty unquoted; empty string → '""'; quotes doubled
    assert format_csv_value(None) == ""
    assert format_csv_value("") == '""'
    assert format_csv_value('say "hi"') == '"say ""hi"""'
    assert format_csv_value("a,b") == '"a,b"'
    data = rows_to_csv(pa.table({"a": [None, "x,y"], "b": ["", 'q"t']}))
    assert data == b'a,b\n,""\n"x,y","q""t"\n'
    parsed = parse_csv_bytes(data)
    assert parsed.column_names == ["a", "b"]
    assert parsed.to_pylist() == [{"a": None, "b": ""}, {"a": "x,y", "b": 'q"t'}]


def test_input_check_via_engine(tmp_path, engine):
    with pytest.raises(ValueError, match="must not overlap"):
        engine.dump(str(tmp_path / "x.zip"), ["employees"], {"employees": "SELECT 1"})


def test_cli_parse_partial():
    from xdump_spark.cli import parse_partial
    import argparse

    assert parse_partial("emp:SELECT * FROM emp") == ("emp", "SELECT * FROM emp")
    with pytest.raises(argparse.ArgumentTypeError):
        parse_partial("nocolon")


def test_distributed_dump_load_roundtrip(tmp_path, spark, engine, employees_catalog):
    out_dir = str(tmp_path / "dist")
    seed = employees_catalog.tables["employees"].filter("id = 2")
    tables = engine.dump_distributed(
        out_dir, full_tables=["groups"], partial_tables={"employees": seed}
    )
    assert set(tables) == {"employees", "groups"}
    loaded = engine.load_distributed(out_dir)
    # manager chain 2→1, groups full; schema round-trips typed
    emp = loaded.frames["employees"]
    assert {r.id for r in emp.collect()} == {1, 2}
    assert dict(emp.dtypes)["id"] == "int"
    assert loaded.frames["groups"].count() == 2
    assert loaded.load_order().index("groups") < loaded.load_order().index("employees")


def test_distributed_csv_roundtrip(tmp_path, spark, engine, employees_catalog):
    out_dir = str(tmp_path / "dist_csv")
    seed = employees_catalog.tables["employees"].filter("id = 1")
    engine.dump_distributed(out_dir, partial_tables={"employees": seed}, fmt="csv")
    loaded = engine.load_distributed(out_dir)
    emp = loaded.frames["employees"]
    rows = {r.id: r for r in emp.collect()}
    assert set(rows) == {1}
    assert rows[1].manager_id is None   # NULL survives CSV round-trip


def test_roundtrip_decimal_and_binary(tmp_path, spark):
    """Decimal and binary columns must survive the CSV archive round-trip
    (binary is encoded PG-COPY-style as \\x<hex>)."""
    from decimal import Decimal

    from pyspark.sql import types as T

    from xdump_spark.catalog import Catalog

    st = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("price", T.DecimalType(10, 2), True),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )
    rows = [
        (1, Decimal("19.99"), b"\x00\xffabc"),
        (2, None, None),
        (3, Decimal("0.01"), b","),  # delimiter byte inside the payload
    ]
    cat = Catalog({"items": spark.createDataFrame(rows, st)}, [])
    eng = SparkDumpEngine(spark, cat)
    out = str(tmp_path / "dump.zip")
    eng.dump(out, full_tables=["items"])
    loaded = eng.load(out)
    got = {tuple(r) for r in loaded.frames["items"].collect()}
    assert got == set(rows)
    assert loaded.frames["items"].schema == st


def test_roundtrip_byte_and_short_columns(tmp_path, spark):
    """tinyint/smallint cells load back as ints (tinyint cells used to stay
    CSV strings, which createDataFrame rejected)."""
    from pyspark.sql import types as T

    st = T.StructType([
        T.StructField("id", T.ShortType(), False),
        T.StructField("flag", T.ByteType(), True),
    ])
    rows = [(1, -128), (2, None), (300, 127)]
    cat = Catalog({"small": spark.createDataFrame(rows, st)}, [])
    out = str(tmp_path / "small.zip")
    SparkDumpEngine(spark, cat).dump(out, full_tables=["small"])
    loaded = SparkDumpEngine(spark, cat).load(out).frames["small"]
    assert loaded.schema == st
    assert sorted(tuple(r) for r in loaded.collect()) == rows


def test_sequence_state_skips_non_numeric_keys(spark):
    """A string-keyed parent must not crash the dump's sequence capture —
    there is no serial counter to restore for uuid/code keys."""
    from pyspark.sql import types as T

    from xdump_spark.catalog import Catalog
    from xdump_spark.engine import sequence_state

    parent = spark.createDataFrame(
        [("ZX-991",), ("AA-002",)],
        T.StructType([T.StructField("code", T.StringType(), False)]),
    )
    child = spark.createDataFrame(
        [(1, "ZX-991")],
        T.StructType(
            [
                T.StructField("id", T.IntegerType(), False),
                T.StructField("parent_code", T.StringType(), True),
            ]
        ),
    )
    cat = Catalog(
        {"parent": parent, "child": child},
        [ForeignKey("child", "parent_code", "parent", "code", "fk")],
    )
    seqs = sequence_state({"parent": parent, "child": child}, cat)
    assert "parent" not in seqs  # skipped, not crashed


def test_csv_header_escaping_roundtrip():
    """Column names containing commas/quotes (Spark allows them, e.g. an
    unaliased aggregate) must round-trip through the archive CSV."""
    cols = ["id", "round(sum(x), 2)", 'say "hi"']
    table = pa.table([[1, 2], ["a", None], ["b", ""]], names=cols)
    parsed = parse_csv_bytes(rows_to_csv(table))
    assert parsed.column_names == cols
    assert [list(r.values()) for r in parsed.to_pylist()] == [["1", "a", "b"], ["2", None, ""]]


def test_parquet_db_truncate_file_form(tmp_path, spark):
    """truncate() must also delete single-file <name>.parquet tables that
    tables() reports."""
    import os

    from xdump_spark.sources.parquet_db import ParquetDatabase

    db_dir = tmp_path / "db"
    os.makedirs(db_dir)
    df = spark.range(3).toDF("id")
    df.write.parquet(str(tmp_path / "stage"))
    part = [
        p for p in os.listdir(tmp_path / "stage") if p.endswith(".parquet")
    ][0]
    os.rename(tmp_path / "stage" / part, db_dir / "solo.parquet")
    df.write.parquet(str(db_dir / "dirform"))
    db = ParquetDatabase(spark, str(db_dir))
    assert db.tables() == ["dirform", "solo"]
    db.truncate()
    assert db.tables() == []


def test_sequence_state_accepts_decimal_scale0_keys(spark):
    """JDBC sources surface serial keys as DecimalType(p, 0) — those carry
    a restorable counter and must be captured."""
    from decimal import Decimal

    from pyspark.sql import types as T

    from xdump_spark.catalog import Catalog
    from xdump_spark.engine import sequence_state

    parent = spark.createDataFrame(
        [(Decimal("7"),), (Decimal("42"),)],
        T.StructType([T.StructField("id", T.DecimalType(10, 0), False)]),
    )
    child = spark.createDataFrame(
        [(1, Decimal("42"))],
        T.StructType(
            [
                T.StructField("cid", T.IntegerType(), False),
                T.StructField("pid", T.DecimalType(10, 0), True),
            ]
        ),
    )
    cat = Catalog(
        {"parent": parent, "child": child},
        [ForeignKey("child", "pid", "parent", "id", "fk")],
    )
    assert sequence_state({"parent": parent}, cat) == {"parent": 42}


def test_sequence_state_includes_leaf_tables(tmp_path, spark, engine):
    """The reference dumps ALL sequences (xdump/postgresql.py:136-146);
    a leaf table's serial counter (tickets — nothing references it) must
    survive the round trip via the catalog's explicit primary keys, or
    post-load inserts would restart numbering and collide."""
    out = str(tmp_path / "leaf.zip")
    engine.dump(out, full_tables=["groups", "tickets"])
    loaded = SparkDumpEngine(spark, engine.catalog).load(out)
    assert loaded.sequences == {"employees": 3, "groups": 2, "tickets": 5}


def test_roundtrip_complex_columns(tmp_path, spark):
    """array / struct / map columns round-trip through the archive CSV as
    embedded JSON (a bare str() wrote Python reprs that could not load) —
    the catalog's 'embeddings' table (array<float>) is the motivating
    case."""
    from pyspark.sql import types as T

    from xdump_spark.catalog import Catalog

    st = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("emb", T.ArrayType(T.FloatType()), True),
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("w", T.IntegerType(), True),
                        T.StructField("tag", T.StringType(), True),
                    ]
                ),
                True,
            ),
            T.StructField("props", T.MapType(T.StringType(), T.LongType()), True),
        ]
    )
    rows = [
        (1, [0.5, -1.25], {"w": 3, "tag": 'a,"b'}, {"k1": 7, "k2": 9}),
        (2, [], {"w": None, "tag": None}, {}),
        (3, None, None, None),
    ]
    media = spark.createDataFrame(rows, st)
    cat = Catalog({"media": media}, [], primary_keys={"media": "id"})
    out = str(tmp_path / "complex.zip")
    eng = SparkDumpEngine(spark, cat)
    assert eng.dump(out, full_tables=["media"]) == {"media": 3}

    loaded = SparkDumpEngine(spark, cat).load(out)
    got = loaded.frames["media"]
    assert got.schema == st
    by_id = {r.id: r for r in got.collect()}
    assert by_id[1].emb == [0.5, -1.25]
    assert by_id[1].meta.asDict() == {"w": 3, "tag": 'a,"b'}
    assert by_id[1].props == {"k1": 7, "k2": 9}
    assert by_id[2].emb == []
    assert by_id[2].meta.asDict() == {"w": None, "tag": None}
    assert by_id[2].props == {}
    assert by_id[3].emb is None and by_id[3].meta is None and by_id[3].props is None


def test_snapshot_staging_hides_mid_dump_mutation(tmp_path, spark, employees_catalog):
    """The reference proves a concurrent insert mid-dump is invisible
    (REPEATABLE READ, tests/test_backend.py:111-127); the Spark analog is
    stage-then-plan: a source mutated AFTER staging must not leak into the
    dump."""
    import os

    from xdump_spark.sources.jdbc import stage_catalog
    from xdump_spark.sources.parquet_db import ParquetDatabase

    src = str(tmp_path / "livedb")
    for name, df in employees_catalog.tables.items():
        df.write.parquet(os.path.join(src, name))
    live = ParquetDatabase(spark, src)
    live.write_fk_config(employees_catalog.foreign_keys)

    staged = stage_catalog(live.catalog(), str(tmp_path / "stage"))

    # "concurrent insert": a sixth employee lands in the live source
    extra = employees_catalog.tables["employees"].limit(0).sparkSession.createDataFrame(
        [(6, "Eve", "Late", None, None, 1)],
        employees_catalog.tables["employees"].schema,
    )
    employees_catalog.tables["employees"].unionByName(extra).write.mode(
        "overwrite"
    ).parquet(os.path.join(src, "employees") + "_new")
    # atomic-ish swap, as a DB write would be
    os.rename(os.path.join(src, "employees"), os.path.join(src, "employees") + "_old")
    os.rename(os.path.join(src, "employees") + "_new", os.path.join(src, "employees"))

    out = str(tmp_path / "snap.zip")
    counts = SparkDumpEngine(spark, staged).dump(out, full_tables=["employees", "groups"])
    assert counts["employees"] == 5   # t0 snapshot, not 6
    loaded = SparkDumpEngine(spark, staged).load(out)
    assert ids(loaded.frames["employees"]) == {1, 2, 3, 4, 5}
    # while the live source really does see the new row
    assert live.catalog().tables["employees"].count() == 6


def test_roundtrip_boolean_map_keys(tmp_path, spark):
    """Map keys use the scalar value encodings: {True: 1} must not load
    as {False: 1} (str(True)='True' vs the boolean encoding 'true')."""
    from pyspark.sql import types as T

    from xdump_spark.catalog import Catalog

    st = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("flags", T.MapType(T.BooleanType(), T.LongType()), True),
        ]
    )
    df = spark.createDataFrame([(1, {True: 7, False: 3})], st)
    cat = Catalog({"m": df}, [])
    out = str(tmp_path / "bk.zip")
    SparkDumpEngine(spark, cat).dump(out, full_tables=["m"])
    got = SparkDumpEngine(spark, cat).load(out).frames["m"].collect()[0]
    assert got.flags == {True: 7, False: 3}


def test_sequence_state_beyond_long_range(spark):
    """decimal(38,0) serial keys past the long range must survive capture
    exactly (a long cast would overflow or null the sequence out)."""
    from decimal import Decimal

    from pyspark.sql import types as T

    from xdump_spark.catalog import Catalog
    from xdump_spark.engine import sequence_state

    big = Decimal(2**70)
    df = spark.createDataFrame(
        [(big,)], T.StructType([T.StructField("id", T.DecimalType(38, 0), False)])
    )
    cat = Catalog({"t": df}, [], primary_keys={"t": "id"})
    assert sequence_state({"t": df}, cat) == {"t": 2**70}


def test_dump_enforces_small_selection_contract(tmp_path, engine):
    """dump() collects to the driver through a max_driver_rows + 1 limit;
    an oversized selection must raise (pointing at dump_distributed)
    before any archive is written."""
    big = tmp_path / "big.zip"
    with pytest.raises(ValueError, match="dump_distributed"):
        engine.dump(str(big), full_tables=["groups"], max_driver_rows=1)
    assert not big.exists()
    # The per-table collects run together; here the oversized table
    # (employees, 5 rows) is not the first one collected (groups, 2 rows,
    # fits). Its error still surfaces, nothing is written, and no job of
    # the dump outlives the call.
    seed = {"employees": engine.catalog.tables["employees"]}
    assert list(compute_closure(engine.catalog, ("groups",), seed)) == ["groups", "employees"]
    mid = tmp_path / "mid.zip"
    with pytest.raises(ValueError, match=r"table 'employees' exceeds max_driver_rows=3;"):
        engine.dump(str(mid), full_tables=["groups"], partial_tables=seed, max_driver_rows=3)
    assert not mid.exists()
    assert list(engine.spark.sparkContext.statusTracker().getActiveJobsIds()) == []
    # opting out restores the old behavior
    out = str(tmp_path / "ok.zip")
    engine.dump(out, full_tables=["groups"], max_driver_rows=None)
    assert DumpArchive(out).namelist()


def test_parquet_db_sequence_manifest_and_allocation(tmp_path, spark, engine):
    """write_parquet_db lands the dumped counters in sequences.json and
    allocate_keys continues numbering from the dumped max."""
    from xdump_spark.sources.parquet_db import ParquetDatabase

    out = str(tmp_path / "dump.zip")
    engine.dump(
        out,
        full_tables=["groups"],
        partial_tables={"employees": "SELECT * FROM employees ORDER BY id DESC LIMIT 2"},
    )
    loaded = engine.load(out)
    db_dir = str(tmp_path / "pdb")
    loaded.write_parquet_db(db_dir)

    db = ParquetDatabase(spark, db_dir)
    seqs = db.sequences()
    assert seqs["employees"] == 5 and seqs["groups"] == 2
    assert db.allocate_keys("employees", 2) == [6, 7]
    assert db.allocate_keys("employees") == [8]          # persisted advance
    assert db.sequences()["employees"] == 8
    assert db.allocate_keys("tickets") == [1]            # unknown table starts fresh


def _jobs_submitted(spark, fn) -> int:
    """Spark jobs submitted while ``fn`` runs: the delta of the next job id
    in the status store (job ids are dense and increasing within an
    application)."""
    sc = spark.sparkContext._jsc.sc()

    def next_job_id() -> int:
        sc.listenerBus().waitUntilEmpty(30_000)
        jobs = sc.statusStore().jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1) + 1

    first = next_job_id()
    fn()
    return next_job_id() - first


def _int_field(name):
    from pyspark.sql import types as T

    return T.StructField(name, T.IntegerType(), False)


def test_dump_sequences_from_collected_rows(tmp_path, spark):
    """A data dump takes sequence state from the rows it collected, at no
    Spark job; it must equal sequence_state on the same selections, and
    sequences.json must be byte-identical to what sequence_state gives:
    exact Python ints, sorted table order, no entry for a string key, an
    all-null key or an empty selection."""
    from decimal import Decimal

    from pyspark.sql import types as T

    from xdump_spark.archive import SEQUENCES_MEMBER

    def table(dt, values):
        return spark.createDataFrame(
            [(v, i) for i, v in enumerate(values)],
            T.StructType([T.StructField("id", dt, True), _int_field("n")]),
        )

    tables = {
        "t_int": table(T.IntegerType(), [3, 9, 1]),
        "t_long": table(T.LongType(), [2**40, 5]),
        "t_dec10": table(T.DecimalType(10, 0), [Decimal(7), Decimal(42)]),
        "t_dec38": table(T.DecimalType(38, 0), [Decimal(2**70), Decimal(1)]),
        "t_nulls": table(T.IntegerType(), [None, 3, None]),
        "t_all_null": table(T.IntegerType(), [None]),
        "t_str": table(T.StringType(), ["ZX-991", "AA-002"]),
        "t_empty": table(T.IntegerType(), []),
    }
    cat = Catalog(tables, [], primary_keys={t: "id" for t in tables})
    out = str(tmp_path / "seq.zip")
    SparkDumpEngine(spark, cat).dump(out, full_tables=sorted(tables, reverse=True))

    expected = {"t_dec10": 42, "t_dec38": 2**70, "t_int": 9, "t_long": 2**40, "t_nulls": 3}
    reference = sequence_state(tables, cat)
    assert reference == expected
    with zipfile.ZipFile(out) as zf:
        raw = zf.read(SEQUENCES_MEMBER)
    assert raw == json.dumps(reference, indent=2).encode()
    dumped = DumpArchive(out).read_sequences()
    assert dumped == expected and all(type(v) is int for v in dumped.values())


def test_projected_seed_without_declared_key_dumps(tmp_path, spark, engine):
    """A seed of an unreferenced table may project columns; when it leaves
    out the table's declared primary key, that table has no sequence state
    (it used to fail the dump with a missing-key error)."""
    out = str(tmp_path / "proj.zip")
    tickets = engine.catalog.tables["tickets"]
    counts = engine.dump(out, partial_tables={"tickets": tickets.select("author_id", "subject")})
    assert counts["tickets"] == 5
    assert DumpArchive(out).read_sequences() == {"employees": 3, "groups": 1}

def test_dump_load_replay_job_budget(tmp_path, spark, engine):
    """dump → load → write_parquet_db on the fixture catalog: sequence
    state rides the collected rows, and the loaded frames are Arrow-built
    local relations, so the flow runs at most 9 Spark jobs (13 when
    sequence state re-ran every closure plan)."""
    out = str(tmp_path / "dump.zip")

    def flow():
        engine.dump(
            out,
            full_tables=["groups"],
            partial_tables={"employees": "SELECT * FROM employees ORDER BY id DESC LIMIT 2"},
        )
        engine.load(out).write_parquet_db(str(tmp_path / "db"))

    assert _jobs_submitted(spark, flow) <= 9
    # each loaded frame holds the partitions a file scan of its Arrow
    # bytes would have, so every small fixture table replays as one file
    db = tmp_path / "db"
    parts = {t.name: sorted(p.name for p in t.glob("part-*.parquet")) for t in db.iterdir()
             if t.is_dir()}
    assert set(parts) == {"employees", "groups"}
    assert all(len(files) == 1 for files in parts.values()), parts


def test_load_cuts_partitions_like_a_file_scan(tmp_path, spark):
    """A loaded frame holds the partitions a file scan would cut from a
    file of its Arrow bytes: one under openCostInBytes, and all
    defaultParallelism of them from openCostInBytes × defaultParallelism
    bytes on. maxPartitionBytes alone would make a 100 MB table replay
    as a single task."""
    from pyspark.sql import types as T

    from xdump_spark.operators.sizing import ScanSplit

    par = spark.sparkContext.defaultParallelism
    assert -(-(100 << 20) // ScanSplit.of(spark).max_split_bytes(100 << 20, 1)) == par
    st = T.StructType([T.StructField("id", T.LongType(), False),
                       T.StructField("s", T.StringType(), True)])
    rows = [(i, "x" * 100) for i in range(2000)]   # ~220 KB as Arrow
    cat = Catalog({"t": spark.createDataFrame(rows, st)}, [])
    out = str(tmp_path / "t.zip")
    SparkDumpEngine(spark, cat).dump(out, full_tables=["t"])
    assert SparkDumpEngine(spark, cat).load(out).frames["t"].rdd.getNumPartitions() == 1
    spark.conf.set("spark.sql.files.openCostInBytes", "16k")
    try:
        loaded = SparkDumpEngine(spark, cat).load(out).frames["t"]
        assert loaded.rdd.getNumPartitions() == par
    finally:
        spark.conf.unset("spark.sql.files.openCostInBytes")
    assert sorted(loaded.collect()) == sorted(rows)


def test_large_cells_survive_dump_load(tmp_path, spark):
    """Cells of MiBs load back: pyarrow.csv reads in 1 MiB blocks by
    default and refuses a record that crosses a block boundary."""
    from pyspark.sql import types as T

    st = T.StructType([T.StructField("id", T.LongType(), False),
                       T.StructField("text", T.StringType(), True),
                       T.StructField("blob", T.BinaryType(), True)])
    text = 'a,"b"\nc' * (3 << 17)            # ~3 MiB, quoted in the archive
    blob = bytes(range(256)) * (3 << 11)     # 1.5 MiB, 3 MiB as hex
    rows = [(1, text, None), (2, None, blob), (3, "", b"")]
    cat = Catalog({"big": spark.createDataFrame(rows, st)}, [])
    out = str(tmp_path / "big.zip")
    SparkDumpEngine(spark, cat).dump(out, full_tables=["big"])
    loaded = SparkDumpEngine(spark, cat).load(out).frames["big"]
    assert sorted((r.id, r.text, r.blob) for r in loaded.collect()) == rows


def test_one_column_null_row_survives_load(tmp_path, spark):
    """A one-column table's NULL row is an empty CSV line. pyarrow's CSV
    reader drops empty lines by default, without an error; the load must
    keep them as rows."""
    from pyspark.sql import types as T

    st = T.StructType([T.StructField("note", T.StringType(), True)])
    rows = [("a",), (None,), ("",), (None,)]
    cat = Catalog({"notes": spark.createDataFrame(rows, st)}, [])
    out = str(tmp_path / "notes.zip")
    assert SparkDumpEngine(spark, cat).dump(out, full_tables=["notes"]) == {"notes": 4}
    assert sorted(DumpArchive(out).read_data()["notes"].split(b"\n")) == sorted(
        [b"note", b"a", b"", b'""', b"", b""]
    )
    loaded = SparkDumpEngine(spark, cat).load(out).frames["notes"]
    assert loaded.count() == 4
    assert Counter(r.note for r in loaded.collect()) == Counter(r[0] for r in rows)


def test_timestamp_roundtrip_under_non_utc_local_zone(tmp_path, spark):
    """collect() hands TimestampType values out as naive wall-clock times
    in the process's local zone, and the archive stores them so. The load
    must read them back in that zone, not in the session's (UTC): under
    America/New_York a naive Arrow load turned 06:30 into 01:30.
    TimestampNTZ and Date carry no zone."""
    import os
    import time
    from datetime import date, datetime

    from pyspark.sql import types as T

    st = T.StructType([
        _int_field("id"),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("ntz", T.TimestampNTZType(), True),
        T.StructField("d", T.DateType(), True),
    ])
    rows = [
        (1, datetime(2024, 1, 15, 6, 30), datetime(2024, 1, 15, 6, 30), date(2024, 1, 15)),
        (2, datetime(2024, 7, 1, 23, 45, 1, 250000), datetime(2024, 7, 1, 23, 45, 1, 250000),
         date(2024, 7, 1)),
        (3, None, None, None),
    ]
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        cat = Catalog({"events": spark.createDataFrame(rows, st)}, [])
        eng = SparkDumpEngine(spark, cat)
        out = str(tmp_path / "ts.zip")
        eng.dump(out, full_tables=["events"])
        csv = DumpArchive(out).read_data()["events"].decode()
        assert "1,2024-01-15 06:30:00,2024-01-15 06:30:00,2024-01-15" in csv
        loaded = eng.load(out).frames["events"]
        assert loaded.schema == st
        assert sorted(tuple(r) for r in loaded.collect()) == rows
    finally:
        if old_tz is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
