"""LIVE JDBC round-trip against embedded Apache Derby (ships on every
Spark classpath as the Hive-metastore dependency) — the analog of the
reference's real-database test matrix (reference:
tests/test_backend.py:129-207 round-trips, tests/test_postgresql.py:10-85):
create a database with FK constraints, introspect the FK graph through
JDBC metadata, stage a snapshot, run the closure, dump, load, write back
over JDBC, and verify the copy.
"""

import pytest

from xdump_spark.catalog import Catalog, ForeignKey
from xdump_spark.engine import SparkDumpEngine
from xdump_spark.sources import jdbc as J

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def _connect(spark, url):
    return spark._jvm.java.sql.DriverManager.getConnection(url)


@pytest.fixture()
def derby_db(spark, tmp_path):
    """An embedded Derby database holding the reference-style fixture:
    groups ← employees (self-FK manager chain)."""
    url = f"jdbc:derby:{tmp_path}/srcdb;create=true"
    conn = _connect(spark, url)
    st = conn.createStatement()
    st.executeUpdate("CREATE TABLE groups (id INT PRIMARY KEY, name VARCHAR(50))")
    st.executeUpdate(
        "CREATE TABLE employees (id INT PRIMARY KEY, name VARCHAR(50), "
        "manager_id INT, group_id INT, "
        "CONSTRAINT emp_mgr_fk FOREIGN KEY (manager_id) REFERENCES employees(id), "
        "CONSTRAINT emp_grp_fk FOREIGN KEY (group_id) REFERENCES groups(id))"
    )
    for gid, name in [(1, "Admin"), (2, "User")]:
        st.executeUpdate(f"INSERT INTO groups VALUES ({gid}, '{name}')")
    for eid, name, mgr, grp in [
        (1, "Doe", None, 1),
        (2, "Black", 1, 1),
        (3, "Smith", 1, 1),
        (4, "Brown", 3, 2),
        (5, "Snow", 3, 2),
    ]:
        mgr_sql = "NULL" if mgr is None else str(mgr)
        st.executeUpdate(f"INSERT INTO employees VALUES ({eid}, '{name}', {mgr_sql}, {grp})")
    st.close()
    conn.close()
    return url


def test_metadata_fk_introspection(spark, derby_db):
    fks = J.introspect_foreign_keys_metadata(spark, derby_db)
    edges = {(f.table, f.column, f.foreign_table, f.foreign_column) for f in fks}
    assert ("employees", "manager_id", "employees", "id") in edges
    assert ("employees", "group_id", "groups", "id") in edges
    by_name = {f.name for f in fks}
    assert {"EMP_MGR_FK", "EMP_GRP_FK"} <= by_name


def test_partitioned_read_probes_bounds(spark, derby_db):
    opts = J.jdbc_options(derby_db, driver=DERBY_DRIVER)
    df = J.read_table(spark, opts, "employees", partition_column="id", num_partitions=3)
    assert df.rdd.getNumPartitions() == 3
    assert df.count() == 5


def test_live_jdbc_dump_load_writeback(spark, derby_db, tmp_path):
    """The full reference lifecycle on a real database: snapshot → closure
    (seed = employee 5, manager chain 5→3→1, group closure) → zip dump →
    load → JDBC write-back → verify the copy by reading it back."""
    opts = J.jdbc_options(derby_db, driver=DERBY_DRIVER)
    fks = J.introspect_foreign_keys_metadata(spark, derby_db)
    cat = J.stage_snapshot(
        spark, opts, ["employees", "groups"], str(tmp_path / "stage"), fks
    )
    # Derby folds unquoted identifiers to uppercase; lowercase the staged
    # frames' columns so seeds and FK edges agree on names
    for t in list(cat.tables):
        df = cat.tables[t]
        cat.tables[t] = df.toDF(*[c.lower() for c in df.columns])

    eng = SparkDumpEngine(spark, cat)
    out = str(tmp_path / "dump.zip")
    counts = eng.dump(
        out,
        full_tables=["groups"],
        partial_tables={"employees": "SELECT * FROM employees WHERE id = 5"},
    )
    assert counts == {"employees": 3, "groups": 2}   # 5→3→1 chain

    loaded = SparkDumpEngine(spark, cat).load(out)
    assert {r.id for r in loaded.frames["employees"].collect()} == {1, 3, 5}

    # write back into a SECOND live Derby database, FK-toposorted
    dst_url = f"jdbc:derby:{tmp_path}/dstdb;create=true"
    _connect(spark, dst_url).close()   # create the db
    dst_props = {"driver": DERBY_DRIVER}
    order = loaded.write_jdbc(dst_url, dst_props, mode="append")
    assert order == ["groups", "employees"]

    dst_opts = J.jdbc_options(dst_url, driver=DERBY_DRIVER)
    # Spark's JDBC writer creates the table unquoted (Derby folds the name
    # to uppercase) but quotes the COLUMN names, preserving lowercase
    emp_back = J.read_table(spark, dst_opts, "employees")
    assert {r.id for r in emp_back.collect()} == {1, 3, 5}
    grp_back = J.read_table(spark, dst_opts, "groups")
    assert grp_back.count() == 2


def test_sequence_replay_continues_numbering(spark, derby_db, tmp_path):
    """The reference's currval test (tests/test_backend.py:138-140) on a
    live target: load a dump into a Derby database whose PK is a
    GENERATED BY DEFAULT identity, then insert WITHOUT a key — numbering
    must continue from the dumped max, not restart at 1."""
    opts = J.jdbc_options(derby_db, driver=DERBY_DRIVER)
    fks = J.introspect_foreign_keys_metadata(spark, derby_db)
    cat = J.stage_snapshot(
        spark, opts, ["employees", "groups"], str(tmp_path / "stage"), fks
    )
    for t in list(cat.tables):
        df = cat.tables[t]
        cat.tables[t] = df.toDF(*[c.lower() for c in df.columns])

    eng = SparkDumpEngine(spark, cat)
    out = str(tmp_path / "dump.zip")
    eng.dump(out, full_tables=["groups"], partial_tables={"employees": "SELECT * FROM employees WHERE id = 5"})
    loaded = SparkDumpEngine(spark, cat).load(out)
    assert loaded.sequences == {"employees": 5, "groups": 2}

    # target with identity PKs (pre-created, as the reference loads into
    # an existing schema)
    dst_url = f"jdbc:derby:{tmp_path}/seqdb;create=true"
    conn = _connect(spark, dst_url)
    st = conn.createStatement()
    st.executeUpdate(
        'CREATE TABLE groups ("id" INT GENERATED BY DEFAULT AS IDENTITY PRIMARY KEY, '
        '"name" VARCHAR(50))'
    )
    st.executeUpdate(
        'CREATE TABLE employees ("id" INT GENERATED BY DEFAULT AS IDENTITY PRIMARY KEY, '
        '"name" VARCHAR(50), "manager_id" INT, "group_id" INT)'
    )
    st.close()

    loaded.write_jdbc(dst_url, {"driver": DERBY_DRIVER}, mode="append")

    st = conn.createStatement()
    st.executeUpdate("INSERT INTO groups (\"name\") VALUES ('Fresh')")
    rs = st.executeQuery('SELECT "id" FROM groups WHERE "name" = \'Fresh\'')
    rs.next()
    assert rs.getInt(1) == 3   # dumped max was 2
    rs.close()
    st.executeUpdate(
        "INSERT INTO employees (\"name\", \"manager_id\", \"group_id\") VALUES ('New', 5, 3)"
    )
    rs = st.executeQuery('SELECT "id" FROM employees WHERE "name" = \'New\'')
    rs.next()
    assert rs.getInt(1) == 6   # dumped max was 5
    rs.close()
    st.close()
    conn.close()


def test_cli_jdbc_dump_and_load(spark, derby_db, tmp_path):
    """The reference's live-DB CLI lifecycle (xdump/cli/dump.py:41-74,
    cli/load.py:13-22) end-to-end over Derby: `dump --jdbc-url` stages a
    snapshot, introspects FKs/PKs through metadata, runs the closure, and
    writes the zip; `load --jdbc-url` replays it FK-ordered into a second
    live database with sequence restart."""
    from xdump_spark import cli

    out = str(tmp_path / "cli_dump.zip")
    args = cli.build_parser().parse_args([
        "dump",
        "--jdbc-url", derby_db,
        "--jdbc-driver", DERBY_DRIVER,
        "--stage-dir", str(tmp_path / "stage"),
        "-o", out,
        "-f", "groups",
        "-p", "employees:SELECT * FROM employees WHERE id = 5",
    ])
    assert cli.run(args, spark) == 0

    # load into a fresh live Derby target with identity PKs
    dst_url = f"jdbc:derby:{tmp_path}/clidst;create=true"
    conn = _connect(spark, dst_url)
    st = conn.createStatement()
    st.executeUpdate(
        'CREATE TABLE groups ("id" INT GENERATED BY DEFAULT AS IDENTITY PRIMARY KEY, '
        '"name" VARCHAR(50))'
    )
    st.executeUpdate(
        'CREATE TABLE employees ("id" INT GENERATED BY DEFAULT AS IDENTITY PRIMARY KEY, '
        '"name" VARCHAR(50), "manager_id" INT, "group_id" INT)'
    )
    st.close()

    largs = cli.build_parser().parse_args([
        "load", "-i", out, "--jdbc-url", dst_url, "--jdbc-driver", DERBY_DRIVER,
    ])
    assert cli.run(largs, spark) == 0

    dst_opts = J.jdbc_options(dst_url, driver=DERBY_DRIVER)
    emp = J.read_table(spark, dst_opts, "employees")
    assert {r.id for r in emp.collect()} == {1, 3, 5}   # closure of employee 5
    st = conn.createStatement()
    st.executeUpdate("INSERT INTO groups (\"name\") VALUES ('Post')")
    rs = st.executeQuery('SELECT max("id") FROM groups')
    rs.next()
    assert rs.getInt(1) == 3   # counter replayed: continues after dumped max 2
    rs.close()
    st.close()
    conn.close()


def test_cli_jdbc_load_truncate_replaces_rows(spark, derby_db, tmp_path):
    """`load --jdbc-url --cleanup-method truncate` empties the target
    before each load, so loading the same archive twice leaves each
    table holding the archive's rows, not twice as many."""
    from xdump_spark import cli

    out = str(tmp_path / "dump.zip")
    assert cli.run(cli.build_parser().parse_args([
        "dump", "--jdbc-url", derby_db, "--jdbc-driver", DERBY_DRIVER,
        "-o", out, "-f", "groups",
        "-p", "employees:SELECT * FROM employees WHERE id = 5",
    ]), spark) == 0
    archive = SparkDumpEngine(spark, Catalog({})).load(out)
    want = {t: f.count() for t, f in archive.frames.items()}
    assert want == {"groups": 2, "employees": 3}

    dst_url = f"jdbc:derby:{tmp_path}/truncdst;create=true"
    _connect(spark, dst_url).close()
    load = [
        "load", "-i", out, "--jdbc-url", dst_url, "--jdbc-driver", DERBY_DRIVER,
        "--cleanup-method", "truncate",
    ]
    for _ in range(2):
        assert cli.run(cli.build_parser().parse_args(load), spark) == 0
    dst_opts = J.jdbc_options(dst_url, driver=DERBY_DRIVER)
    got = {t: J.read_table(spark, dst_opts, t).count() for t in want}
    assert got == want

    recreate = load[:-1] + ["recreate"]
    with pytest.raises(ValueError, match="truncate"):
        cli.run(cli.build_parser().parse_args(recreate), spark)
