"""Golden closure-semantics matrix, ported from the reference's
TestAutoSelect (reference: tests/test_backend.py:243-335; FIXTURES.md F1-F13).
All expectations are order-insensitive row-id sets, exactly as the reference
compares CSV content as sets (tests/conftest.py:133-136)."""

import pytest
from pyspark.sql import functions as F

from xdump_spark.catalog import ForeignKey
from xdump_spark.planner.closure import compute_closure, pull_related, validate_tables

from .conftest import ids


def run(catalog, full=(), partial=None, spark=None):
    return compute_closure(catalog, full, partial or {}, spark=spark)


def seed(catalog, table, predicate):
    return catalog.tables[table].filter(predicate)


class TestAutoSelect:
    # F1: test_related_table — seed employee 1 pulls its group, not its tickets
    def test_related_table(self, spark, employees_catalog):
        out = run(employees_catalog, partial={"employees": seed(employees_catalog, "employees", "id = 1")})
        assert ids(out["employees"]) == {1}
        assert ids(out["groups"]) == {1}
        assert "tickets" not in out  # children never pulled

    # F2: test_complex_query — seeds may carry ORDER BY / LIMIT
    def test_complex_query(self, spark, employees_catalog):
        s = employees_catalog.tables["employees"].filter("id <= 1").orderBy(F.desc("id")).limit(1)
        out = run(employees_catalog, partial={"employees": s})
        assert ids(out["employees"]) == {1}
        assert ids(out["groups"]) == {1}

    # F3: test_full_tables_handling — full table complete, edges into it skipped
    def test_full_tables_handling(self, spark, employees_catalog):
        out = run(
            employees_catalog,
            full=["groups"],
            partial={"employees": seed(employees_catalog, "employees", "id = 1")},
        )
        assert ids(out["employees"]) == {1}
        assert ids(out["groups"]) == {1, 2}

    # F4: test_long_relation — 2-hop pull tickets→employees→groups
    def test_long_relation(self, spark, employees_catalog):
        out = run(employees_catalog, partial={"tickets": seed(employees_catalog, "tickets", "id = 1")})
        assert ids(out["tickets"]) == {1}
        assert ids(out["employees"]) == {1}
        assert ids(out["groups"]) == {1}

    # F5: test_related_to_full — closure also runs for full tables
    def test_related_to_full(self, spark, employees_catalog):
        out = run(employees_catalog, full=["employees"])
        assert ids(out["employees"]) == {1, 2, 3, 4, 5}
        assert ids(out["groups"]) == {1, 2}

    # F6: test_recursive_relation — manager chain via self-FK
    def test_recursive_relation(self, spark, employees_catalog):
        out = run(employees_catalog, partial={"employees": seed(employees_catalog, "employees", "id = 2")})
        assert ids(out["employees"]) == {1, 2}
        assert ids(out["groups"]) == {1}

    # F7: test_long_recursive_relation — ticket → author → manager chain
    def test_long_recursive_relation(self, spark, employees_catalog):
        out = run(employees_catalog, partial={"tickets": seed(employees_catalog, "tickets", "id = 2")})
        assert ids(out["tickets"]) == {2}
        assert ids(out["employees"]) == {1, 2}
        assert ids(out["groups"]) == {1}

    # F8: test_multiple_partials — merged selections, no duplicates
    def test_multiple_partials(self, spark, employees_catalog):
        out = run(
            employees_catalog,
            partial={
                "tickets": seed(employees_catalog, "tickets", "id = 1"),
                "employees": seed(employees_catalog, "employees", "id = 2"),
            },
        )
        assert ids(out["tickets"]) == {1}
        assert ids(out["employees"]) == {1, 2}
        assert ids(out["groups"]) == {1}
        assert out["employees"].count() == 2  # deduped

    # F9: test_multiple_partials_with_intersections — overlapping closures dedup
    def test_multiple_partials_with_intersections(self, spark, employees_catalog):
        out = run(
            employees_catalog,
            partial={
                "tickets": seed(employees_catalog, "tickets", "id = 3"),
                "employees": seed(employees_catalog, "employees", "id = 5"),
            },
        )
        assert ids(out["tickets"]) == {3}
        assert ids(out["employees"]) == {1, 2, 3, 4, 5}
        assert ids(out["groups"]) == {1, 2}
        assert out["employees"].count() == 5

    # F10: test_multiple_recursive_relations — manager AND referrer chains,
    # children (employee 2) NOT pulled
    def test_multiple_recursive_relations(self, spark, employees_catalog):
        out = run(employees_catalog, partial={"employees": seed(employees_catalog, "employees", "id = 5")})
        assert ids(out["employees"]) == {1, 3, 4, 5}
        assert ids(out["groups"]) == {1, 2}

    # F11: the reference's EMPLOYEES_SQL flagship — 2 most-recent employees
    # + transitive managers, via a SQL seed (reference: tests/conftest.py:14-29)
    def test_sql_seed_flagship(self, spark, employees_catalog):
        out = compute_closure(
            employees_catalog,
            full_tables=["groups"],
            partial_tables={
                "employees": "SELECT * FROM employees ORDER BY id DESC LIMIT 2"
            },
            spark=spark,
        )
        assert ids(out["employees"]) == {1, 3, 4, 5}
        assert ids(out["groups"]) == {1, 2}

    # F13: test_keys_intersection_error
    def test_keys_intersection_error(self, spark, employees_catalog):
        with pytest.raises(ValueError, match="must not overlap"):
            validate_tables(employees_catalog, ["employees"], {"employees": None})

    def test_unknown_table_error(self, spark, employees_catalog):
        with pytest.raises(ValueError, match="unknown tables"):
            validate_tables(employees_catalog, ["nope"], {})


def test_pull_related(spark, employees_catalog):
    # O3 standalone: the reference's get_related_data_sql semi-join
    emp = employees_catalog.tables["employees"].filter("id = 4")
    groups = pull_related(employees_catalog.tables["groups"], "id", emp, "group_id")
    assert ids(groups) == {2}


def test_null_fk_not_pulled(spark, employees_catalog):
    # employee 1 has manager_id NULL — no phantom key propagation
    out = run(employees_catalog, partial={"employees": seed(employees_catalog, "employees", "id = 1")})
    assert ids(out["employees"]) == {1}


def test_cte_seed_sql(spark, employees_catalog):
    """Seeds may be multi-CTE SQL (reference exercises CTE seeds,
    tests/test_backend.py:263-332); Spark SQL WITH covers it."""
    out = compute_closure(
        employees_catalog,
        partial_tables={
            "employees": """
                WITH top_two AS (
                  SELECT id FROM employees ORDER BY id DESC LIMIT 2
                ), picked AS (SELECT max(id) AS id FROM top_two)
                SELECT e.* FROM employees e JOIN picked p ON e.id = p.id
            """
        },
        spark=spark,
    )
    assert ids(out["employees"]) == {1, 3, 4, 5}   # 5 + mgr 3 + referrer 4, then 3→1
    assert ids(out["groups"]) == {1, 2}


class TestRecursiveCTE:
    """The WITH RECURSIVE SQL path must agree with the semi-naive loop on
    acyclic self-FK data (the reference's manager-chain golden cases,
    tests/test_backend.py:293-304,332-335)."""

    def test_manager_chain_matches_loop(self, spark, employees_catalog):
        from xdump_spark.catalog import Catalog, ForeignKey
        from xdump_spark.planner.closure import recursive_pull

        # isolate the manager_id self-FK (the reference applies its
        # template per recursive FK; single-FK catalog makes the loop
        # comparison exact)
        cat = Catalog(
            {"employees": employees_catalog.tables["employees"]},
            [ForeignKey("employees", "manager_id", "employees", "id", "fk_mgr")],
        )
        got = recursive_pull(
            spark, cat, "employees", "SELECT * FROM employees WHERE id = 5"
        )
        assert ids(got) == {5, 3, 1}  # 5 -> manager 3 -> manager 1

        loop = compute_closure(
            cat,
            partial_tables={"employees": "SELECT * FROM employees WHERE id = 5"},
            spark=spark,
        )
        assert ids(loop["employees"]) == ids(got)

    def test_both_self_fks_compound(self, spark, employees_catalog):
        from xdump_spark.planner.closure import recursive_pull

        # manager_id AND referrer_id both rewrite the seed in sequence:
        # 5 -> mgr 3 -> mgr 1; 5 -> ref 4 -> mgr 3 (reference golden
        # test_recursive_relation expects {1,3,4,5}).
        got = recursive_pull(
            spark,
            employees_catalog,
            "employees",
            "SELECT * FROM employees WHERE id = 5",
        )
        assert ids(got) == {1, 3, 4, 5}

        loop = compute_closure(
            employees_catalog,
            partial_tables={"employees": "SELECT * FROM employees WHERE id = 5"},
            spark=spark,
        )
        assert ids(loop["employees"]) == ids(got)


class TestSeedProjection:
    """Seed-shape semantics: the reference's per-table SQL unions the seed
    with full-shape related pulls, so a projected seed on a referenced
    table is a column-count error there too (xdump/base.py:142-146)."""

    def test_projected_seed_on_referenced_table_rejected(self, spark, employees_catalog):
        seed = employees_catalog.tables["employees"].select("id", "first_name")
        with pytest.raises(ValueError, match="must select all base columns"):
            compute_closure(employees_catalog, partial_tables={"employees": seed})

    def test_projected_seed_on_unreferenced_table_exports_seed_shape(
        self, spark, employees_catalog
    ):
        # tickets: leaf table — its seed rows ARE the export, shape intact
        seed = employees_catalog.tables["tickets"].select("id", "author_id").filter("id <= 2")
        out = compute_closure(employees_catalog, partial_tables={"tickets": seed})
        assert out["tickets"].columns == ["id", "author_id"]
        assert ids(out["tickets"]) == {1, 2}
        # the projection still propagates: authors of tickets 1-2 pulled
        assert ids(out["employees"]) == {1, 2}


class TestPointerDoubling:
    """recursive_ancestors_doubling: O(log depth) twin of the semi-naive
    loop for single-edge self-FK hierarchies."""

    def test_matches_seminaive_on_manager_chain(self, spark, employees_catalog):
        from xdump_spark.catalog import Catalog
        from xdump_spark.planner.closure import recursive_ancestors_doubling

        emp = employees_catalog.tables["employees"]
        sub = Catalog(
            {"employees": emp},
            [ForeignKey("employees", "manager_id", "employees", "id")],
        )
        seed = emp.filter("id = 5")
        got = recursive_ancestors_doubling(sub, "employees", seed)
        loop = compute_closure(sub, partial_tables={"employees": seed})
        assert ids(got) == ids(loop["employees"]) == {1, 3, 5}

    def test_deep_chain_in_log_rounds(self, spark):
        """A 4096-deep linked-list chain (node k -> k-1) closes in ~12
        doubling rounds — the semi-naive loop would need 4096. The round
        count is observable via max_rounds: 15 suffices, 10 must not."""
        from pyspark.sql import functions as SF

        from xdump_spark.catalog import Catalog
        from xdump_spark.planner.closure import recursive_ancestors_doubling

        n = 4096
        chain = spark.range(1, n + 1).select(
            SF.col("id").alias("node"),
            SF.when(SF.col("id") > 1, SF.col("id") - 1).alias("prev"),
        )
        sub = Catalog({"chain": chain}, [ForeignKey("chain", "prev", "chain", "node")])
        seed = chain.filter(SF.col("node") == n)
        got = recursive_ancestors_doubling(sub, "chain", seed, max_rounds=15)
        assert got.count() == n
        with pytest.raises(RuntimeError, match="did not converge"):
            recursive_ancestors_doubling(sub, "chain", seed, max_rounds=10)

    def test_cycle_terminates(self, spark):
        from pyspark.sql import functions as SF

        from xdump_spark.catalog import Catalog
        from xdump_spark.planner.closure import recursive_ancestors_doubling

        # 1 -> 2 -> 3 -> 1 cycle plus a tail 4 -> 3
        cyc = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (4, 3)], "node long, nxt long"
        )
        sub = Catalog({"cyc": cyc}, [ForeignKey("cyc", "nxt", "cyc", "node")])
        got = recursive_ancestors_doubling(sub, "cyc", cyc.filter("node = 4"))
        assert ids(got, "node") == {1, 2, 3, 4}

    def test_multi_edge_rejected(self, spark, employees_catalog):
        from xdump_spark.planner.closure import recursive_ancestors_doubling

        with pytest.raises(ValueError, match="exactly one self-FK"):
            recursive_ancestors_doubling(
                employees_catalog,
                "employees",
                employees_catalog.tables["employees"].filter("id = 5"),
            )


class TestDriverFastpathLockstep:
    """The r15 whole-closure driver fast path must agree with the
    distributed loop row-for-row on every golden scenario shape; the
    loop is forced by a zero driver budget."""

    def _both(self, catalog, full=(), partial=None, spark=None):
        from xdump_spark import cutover

        fast = compute_closure(catalog, full, dict(partial or {}), spark=spark)
        with cutover.budget(0):
            slow = compute_closure(catalog, full, dict(partial or {}), spark=spark)
        assert set(fast) == set(slow)
        for t in fast:
            key = fast[t].columns[0]
            assert ids(fast[t], key) == ids(slow[t], key), t
        return fast

    def test_merge_mixed_edges(self, spark, employees_catalog):
        # two seeds, multi-hop + recursive edges — the xd_union_merge shape
        self._both(
            employees_catalog,
            partial={
                "tickets": seed(employees_catalog, "tickets", "id = 3"),
                "employees": seed(employees_catalog, "employees", "id = 5"),
            },
        )

    def test_full_table_skip_and_propagate(self, spark, employees_catalog):
        self._both(
            employees_catalog,
            full=["employees"],
        )

    def test_full_edge_into_skipped(self, spark, employees_catalog):
        self._both(
            employees_catalog,
            full=["groups"],
            partial={"employees": seed(employees_catalog, "employees", "id = 1")},
        )

    def test_sql_seed(self, spark, employees_catalog):
        self._both(
            employees_catalog,
            partial={"employees": "SELECT * FROM employees ORDER BY id DESC LIMIT 2"},
            spark=spark,
        )

    def test_duplicate_key_rows_keep_all_edges(self, spark):
        # A duplicated referenced-key value must pull EVERY matching row's
        # edges in both paths (the collected edge maps accumulate per key;
        # last-write-wins would silently under-export).
        from xdump_spark.catalog import Catalog

        nodes = spark.createDataFrame(
            # key 10 appears twice with different parents (20 and 30)
            [(10, 20), (10, 30), (20, None), (30, 40), (40, None), (50, 10)],
            "nid long, parent long",
        )
        cat = Catalog({"nodes": nodes}, [ForeignKey("nodes", "parent", "nodes", "nid")])
        out = self._both(
            cat, partial={"nodes": nodes.filter("nid = 50")}
        )
        assert ids(out["nodes"], "nid") == {10, 20, 30, 40, 50}
