"""FK-transitive-closure planner — the engine's core operator.

Semantics reproduced from the reference (child→parent reachability):

* Seed rows per partial table come from arbitrary user SQL
  (reference: xdump/base.py:127-148).
* Every selected row pulls the parent rows it references through each FK
  edge — a semi-join per edge (``IN (SELECT col FROM source)``,
  xdump/base.py:154-171) — transitively to a fixed point
  (``update_partial_tables`` recursion, xdump/base.py:118-148).
* Self-referencing FKs are followed transitively too (``WITH RECURSIVE``,
  xdump/base.py:253-262); children of selected rows are never pulled.
* Tables listed as *full* are complete: they propagate outward but edges
  pointing INTO them are skipped (xdump/postgresql.py:148-156).
* Results are duplicate-free (SQL ``UNION`` distinct, xdump/base.py:142-146).

Spark-first design (NOT a translation of the string-rewriting planner):
semi-naive key-set propagation. Each referenced table accumulates a
*key-set* DataFrame (values of its referenced column); worklist increments
are anti-joined against the accumulated set, so cycles (including self-FKs
and multi-edge self-FKs) terminate without special-casing, and multi-path
reachability dedupes by construction. Each table is materialized ONCE at
the end via a single semi-join base ⋉ key-set.

Scale properties (the reason for this shape):
* Shuffled data is only ever the small key-sets, never full rows; the big
  per-table semi-join happens once, with the key side broadcast when small
  (adaptive on the checkpoint-known count).
* ``localCheckpoint`` per increment truncates lineage — the classic Spark
  transitive-closure pitfall (exponentially growing plans).
* Base tables are scanned with column pruning (only the FK columns reach
  the scan during propagation).
* An increment feeding ≥2 FK edges is checkpointed as a NARROW frame (just
  the FK columns) so the underlying table is scanned once per round, not
  once per edge — at scale duplicate scans are the dominant waste.
* Each BFS round runs its per-parent jobs from a thread pool so the
  scheduler overlaps them. (A fused single-job variant — all parents
  union-tagged into one wide frame, one checkpoint per round — measured
  ~2× SLOWER at sf0.1: AQE executes the fused query's shuffle stages in
  serialized waves, while independent jobs overlap freely. Job *count*
  is not the cost; duplicate scans and per-round shuffles are.)
"""

from __future__ import annotations

from bisect import bisect_left
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xdump_spark import cutover
from xdump_spark.catalog import Catalog

# Key-sets below this row count are broadcast into the semi-join; larger
# ones go through a shuffled join (AQE may still pick SHJ/SMJ).
BROADCAST_KEY_LIMIT = 5_000_000

# When every table the worklist could touch fits the driver budget
# (xdump_spark.cutover) as a narrow projection (key + FK columns), the FK
# subgraph is collected once (one bounded collect per table, overlapped
# on driver threads) and the entire fixed point saturates as a
# driver-side BFS — O(tables) small jobs instead of O(depth × tables)
# checkpoint+count job pairs (a 10-level manager chain paid ~20 tiny jobs
# of pure scheduling latency on the round loop). Any oversized table
# keeps the distributed loop for the whole closure. The collects are held
# at once, so each gets an equal share of the budget; a collected value
# costs its Arrow long plus a Python int in a key-sorted column list.
_VALUE_BYTES = 8 + 40


def validate_tables(catalog: Catalog, full_tables, partial_tables) -> None:
    """Full and partial table sets must be disjoint and known.

    Mirrors ``input_check`` (reference: xdump/base.py:108-116)."""
    full = set(full_tables)
    partial = set(partial_tables)
    overlap = full & partial
    if overlap:
        raise ValueError(
            f"full_tables and partial_tables must not overlap; got both: {sorted(overlap)}"
        )
    unknown = (full | partial) - set(catalog.tables)
    if unknown:
        raise ValueError(f"unknown tables: {sorted(unknown)}")


def pull_related(target_df: DataFrame, target_col: str, source_df: DataFrame, source_col: str,
                 broadcast_keys: bool = True) -> DataFrame:
    """Rows of ``target_df`` referenced by ``source_df`` through one FK edge.

    The reference's ``get_related_data_sql`` semi-join
    (``SELECT * FROM target WHERE target_col IN (SELECT source_col FROM
    source)``, xdump/base.py:154-171) as a left-semi join."""
    keys = source_df.select(F.col(source_col).alias(target_col)).where(
        F.col(target_col).isNotNull()
    ).distinct()
    if broadcast_keys:
        keys = F.broadcast(keys)
    return target_df.join(keys, on=target_col, how="left_semi")


# Fold unmerged key-set increments into the single accumulated frame once
# this many pile up (LSM-style): the per-round anti-join chains one
# broadcast join per unmerged piece (bounded by this constant), while the
# merge — a map-only re-copy of the whole accumulated set — runs every
# K rounds instead of every round.
ACC_MERGE_THRESHOLD = 4


@dataclass
class _Selection:
    """Per-table accumulated selection state during propagation.

    ``keys`` is the merged accumulator, ``pieces`` are checkpointed
    increments not yet folded in. Every frame that serves as an anti- or
    semi-join side is a SINGLE checkpointed relation (never a lazy Union):
    joining against a Union of checkpoints trips a Spark 4.1 optimizer
    defect (``UnionBase.rewriteConstraints`` key-not-found during
    constraint inference). *Executing* a union inside a checkpoint job is
    fine — that is what ``_merge`` does."""

    key_col: str | None                       # referenced column (row identity), if any
    keys: DataFrame | None = None             # merged accumulated key-set (checkpointed)
    pieces: list[DataFrame] = field(default_factory=list)   # unmerged checkpointed increments
    n_keys: int = 0
    seed_dfs: list[DataFrame] = field(default_factory=list)   # raw seed row sets
    is_full: bool = False

    def subtract_seen(self, contrib: DataFrame) -> DataFrame:
        """Anti-join ``contrib`` against everything accumulated so far —
        one chained join per piece, each against a single checkpointed
        relation. Broadcast only while the set is known-small; past the
        limit fall back to shuffled joins (broadcasting unconditionally
        would collect the whole key-set to the driver every round)."""
        small = self.n_keys <= BROADCAST_KEY_LIMIT
        for seen in ([self.keys] if self.keys is not None else []) + self.pieces:
            side = F.broadcast(seen) if small else seen
            contrib = contrib.join(side, on=self.key_col, how="left_anti")
        return contrib

    def add_keys(self, new: DataFrame, n_new: int) -> None:
        self.pieces.append(new)
        self.n_keys += n_new
        if len(self.pieces) + (self.keys is not None) > ACC_MERGE_THRESHOLD:
            self._merge()

    def _merge(self) -> None:
        frames = ([self.keys] if self.keys is not None else []) + self.pieces
        merged = frames[0]
        for f in frames[1:]:
            merged = merged.union(f)
        self.keys = merged.localCheckpoint(eager=True) if len(frames) > 1 else frames[0]
        self.pieces = []

    def all_keys(self) -> DataFrame | None:
        """The full accumulated key-set as one checkpointed relation."""
        if self.pieces:
            self._merge()
        return self.keys


def compute_closure(
    catalog: Catalog,
    full_tables: list[str] | tuple[str, ...] = (),
    partial_tables: dict[str, DataFrame | str] | None = None,
    spark: SparkSession | None = None,
    max_steps: int = 10_000,
    salt_materialize: int | dict[str, int] | None = None,
) -> dict[str, DataFrame]:
    """Compute the referentially-closed subset for a dump.

    ``partial_tables`` maps table name → seed DataFrame or seed SQL string
    (SQL runs via ``spark.sql`` against registered views — the reference's
    user-facing seed surface). Returns table name → selected-rows DataFrame
    for every table reached by the closure (full tables map to the whole
    table). Matches the golden semantics of the reference's TestAutoSelect
    matrix (reference: tests/test_backend.py:243-335).

    ``salt_materialize``: spread the final semi-join over this many salt
    sub-keys (operators/skew.py). For when the key-set exceeds the
    broadcast limit AND the referenced column is hot/non-unique in the
    base table (e.g. an FK onto a non-unique column where one value
    dominates) — a shuffled semi-join would then hash every hot-key row
    into one task. Unneeded for unique referenced columns: their shuffle
    is uniform by construction. Pass a ``{table: n_salt}`` dict to salt
    ONLY the named tables (the r6 skew soak measured the int form —
    which salts every reached table — at 7× the plain closure on a
    Zipf-keyed decade, because the replicated-key-side shuffles are pure
    overhead on the tables whose referenced key IS unique; the dict
    scopes the mitigation to the table that needs it).
    """
    partial_tables = partial_tables or {}
    validate_tables(catalog, full_tables, partial_tables)

    seeds: dict[str, DataFrame] = {}
    for name, seed in partial_tables.items():
        if isinstance(seed, str):
            if spark is None:
                raise ValueError("seed SQL strings require a SparkSession")
            catalog.register_views(spark)
            seeds[name] = spark.sql(seed)
        else:
            seeds[name] = seed

    full = set(full_tables)
    state: dict[str, _Selection] = {}

    def sel(table: str, needs_key: bool = True) -> _Selection:
        if table not in state:
            # Full tables never accumulate keys (edges into them are
            # skipped), so don't resolve a key column for them — a full
            # table referenced through two different columns is legal.
            key = catalog.referenced_key(table) if needs_key else None
            state[table] = _Selection(key_col=key)
        return state[table]

    def propagation_columns(table: str) -> list[str]:
        """FK child columns of ``table`` that feed non-full parents — the
        only columns an increment needs during propagation."""
        return sorted(
            {fk.column for fk in catalog.outgoing(table) if fk.foreign_table not in full}
        )

    def narrow_increment(table: str, df: DataFrame) -> DataFrame:
        """Project an increment to its propagation columns; checkpoint it
        when ≥2 edges would otherwise each re-scan the underlying table.
        (One narrow materialization beats N duplicate scans — at 100 TB the
        duplicate scans are the dominant waste, not the extra tiny job.)"""
        cols = propagation_columns(table)
        out = df.select(*cols)
        if len(cols) >= 2:
            out = out.localCheckpoint(eager=True)
        return out

    narrow_base: dict[str, DataFrame] = {}
    def propagation_base(parent: str, key_col: str) -> tuple[DataFrame, bool]:
        """Base frame increment rows are pulled from. A self-FK table is
        semi-joined once per recursion LEVEL (deep chains → many rounds),
        so its narrow projection (key + FK columns) is materialized once
        and reused across rounds — per-round work becomes an in-memory
        broadcast join instead of a parquet re-scan. Non-recursive tables
        are hit at most once per BFS round and keep the pruned scan (no
        copy of table-sized data)."""
        if any(fk.is_recursive for fk in catalog.outgoing(parent)):
            if parent not in narrow_base:
                cols = sorted(set(propagation_columns(parent)) | {key_col})
                narrow_base[parent] = (
                    catalog.tables[parent].select(*cols).localCheckpoint(eager=True)
                )
            return narrow_base[parent], True
        return catalog.tables[parent], False

    def driver_closure_fastpath() -> bool:
        """Whole-closure driver-side fixed point (r15): when EVERY table the
        worklist could statically touch fits its share of the driver
        budget as narrow rows, collect each table's (key + FK columns)
        projection once — one bounded collect per table, overlapped on
        driver threads — and saturate the entire closure as a
        driver-side BFS. The distributed loop pays a checkpoint job + a
        count job per TOUCHED TABLE per ROUND (the merge scenario = ~4
        rounds × up to 6 tables of pure scheduling latency, 8↔32-core
        ratio 1.02 in the r14 driver bench — job latency, not compute);
        the fast path pays O(tables) bounded collects in one overlapped
        wave. Key-set semantics are
        identical: seed keys are marked seen without re-pulling base
        rows, null FK values never propagate, edges into full tables are
        skipped, and self-edges saturate naturally. Returns False — and
        the caller keeps the distributed loop — when any reachable
        table's narrow projection exceeds the bound (the bounded
        ``limit(L+1)`` collect reads at most L+1 narrow rows even on a
        100 TB table) or a referenced-key resolution fails."""
        # Statically reachable tables (superset of what the worklist can
        # dynamically touch); edges into full tables are skipped.
        reach: set[str] = set(seeds) | set(full)
        stack = list(reach)
        while stack:
            for fk in catalog.outgoing(stack.pop()):
                p = fk.foreign_table
                if p not in full and p not in reach:
                    reach.add(p)
                    stack.append(p)
        try:
            key_of = {
                t: (None if t in full else catalog.referenced_key(t))
                for t in reach
            }
        except ValueError:
            # Multi-column reference target: only an error if dynamically
            # touched — let the distributed loop decide.
            return False

        # Propagation targets per table: (child column, parent) per FK
        # edge into a non-full parent, in a fixed order shared by the
        # collected row tuples.
        targets: dict[str, list[tuple[str, str]]] = {}
        for t in reach:
            fks = [fk for fk in catalog.outgoing(t) if fk.foreign_table not in full]
            for fk in fks:
                if key_of[fk.foreign_table] != fk.foreign_column:
                    raise ValueError(
                        f"FK {t}.{fk.column} disagrees with key column "
                        f"{key_of[fk.foreign_table]!r} of {fk.foreign_table!r}"
                    )
            if fks:
                targets[t] = [(fk.column, fk.foreign_table) for fk in fks]

        # Frames whose rows must be collected: every full table's
        # propagation projection (all rows propagate once), every
        # referenced table's key+FK projection (rows selected by key
        # later), and every seed's key+FK projection (the seed SQL is
        # evaluated exactly once, as the loop's snap checkpoint does).
        grabs: list[tuple[str, str, DataFrame, list[tuple[str, str]]]] = []
        for t in sorted(reach):
            tgts = targets.get(t, [])
            key = [] if key_of[t] is None else [key_of[t]]  # none for full tables
            narrow = key + [F.col(c) for c, _ in tgts]
            if t in full and tgts:
                grabs.append(("full", t, catalog.tables[t].select(*narrow), tgts))
            if key and tgts:
                grabs.append(("table", t, catalog.tables[t].select(*narrow), tgts))
            if t in seeds and narrow:
                grabs.append(("seed", t, seeds[t].select(*narrow), tgts))

        from xdump_spark.operators.concurrency import overlap

        def grab(kind: str, t: str, df: DataFrame):
            # Arrow transfer, not collect(): a py4j Row collect of a
            # 150k-row narrow costs ~1 s of driver-side Row construction
            # alone (guide §6 Arrow-for-driver-transfers); the columnar
            # path is ~20× cheaper. Column-major lists out; a table whose
            # rows are looked up by key comes sorted by it, null keys
            # dropped (no key value selects them).
            share = cutover.budget_bytes(df.sparkSession) // len(grabs)
            tbl = cutover.bounded_collect(
                df, share // (_VALUE_BYTES * len(df.columns)), f"closure.{kind}.{t}"
            )
            if tbl is None:
                return None
            if kind == "table":
                order = pc.sort_indices(tbl, sort_keys=[(tbl.column_names[0], "ascending")])
                tbl = tbl.take(order).slice(0, tbl.num_rows - tbl.column(0).null_count)
            return [col.to_pylist() for col in tbl.columns]

        collected = overlap(*[lambda g=g: grab(*g[:3]) for g in grabs])
        if any(cols is None for cols in collected):
            return False

        # BFS state: selected key values per table. Referenced seed
        # tables get an entry even when empty so their out-membership
        # matches the loop (which adds the seed key-set unconditionally).
        selected: dict[str, set] = {}
        table_rows: dict[str, list[list]] = {}
        pend: list[tuple[str, object]] = []

        def contribute(parent: str, value) -> None:
            if value is None:
                return
            vals = selected.setdefault(parent, set())
            if value not in vals:
                vals.add(value)
                pend.append((parent, value))

        for (kind, t, _df, tgts), cols in zip(grabs, collected):
            if kind == "table":
                # Key-sorted columns, searched by bisection: this BFS is
                # the driver-memory peak of a whole dump, and per-row
                # containers (a dict of tuple lists) cost ~4× as much.
                table_rows[t] = cols
            elif kind == "seed" and key_of[t] is not None:
                # Seed keys are seen-but-not-expanded: the loop never
                # re-pulls base rows for seed keys either (they enter the
                # accumulated set before any anti-join).
                selected.setdefault(t, set()).update(
                    v for v in cols[0] if v is not None
                )

        for (kind, t, _df, tgts), cols in zip(grabs, collected):
            if kind == "table":
                continue
            off = 1 if kind == "seed" and key_of[t] is not None else 0
            for i, (_c, parent) in enumerate(tgts):
                for v in cols[off + i]:
                    contribute(parent, v)

        while pend:
            t, v = pend.pop()
            cols = table_rows.get(t)
            if cols is None:
                continue
            keys = cols[0]
            # equality, not bisect_right: a NaN key matches no row
            r = bisect_left(keys, v)
            while r < len(keys) and keys[r] == v:
                for i, (_c, parent) in enumerate(targets[t]):
                    contribute(parent, cols[1 + i][r])
                r += 1

        from pyspark.sql import types as T
        from pyspark.sql.pandas.types import to_arrow_schema

        for t in sorted(reach - full):
            s = sel(t)
            if s.key_col is None:
                continue
            vals = selected.get(t)
            if vals is None:
                continue
            # Key sets go to the JVM as an Arrow table, typed from the
            # Spark field (never inferred): the frame is a JVM
            # LocalRelation, so the semi-join that materializes the table
            # — and every action over it — reads the keys without
            # starting Python workers. A list of tuples would be a
            # LogicalRDD of pickled rows, unpickled on every scan.
            schema = T.StructType([catalog.tables[t].schema[s.key_col]])
            arrow_schema = to_arrow_schema(schema)
            keys = catalog.tables[t].sparkSession.createDataFrame(
                pa.Table.from_arrays(
                    [pa.array(sorted(vals), type=arrow_schema[0].type)],
                    schema=arrow_schema,
                ),
                schema,
            )
            s.add_keys(keys, len(vals))
        return True

    # Level-synchronous BFS over the FK graph: each round gathers ALL key
    # contributions per parent table (one union+distinct+anti-join+
    # checkpoint per touched table per round), so the number of Spark jobs
    # is O(diameter × touched_tables), not O(edges × increments). Column
    # pruning means only the FK columns of an increment ever hit the scan.
    pending: dict[str, list[DataFrame]] = {}

    for t in full:
        # Full tables propagate (F5). Kept lazy (no narrow checkpoint):
        # materializing a full table's FK columns could be huge; repeated
        # pruned parquet scans are the safer trade.
        sel(t, needs_key=False).is_full = True
    for t, seed_df in seeds.items():
        s = sel(t)
        if s.key_col is not None and set(seed_df.columns) != set(catalog.tables[t].columns):
            # A REFERENCED table is materialized by key semi-join against
            # the base (full base shape) — a projected seed would silently
            # export more columns than the user selected. The reference has
            # the same constraint de facto: its per-table SQL is the seed
            # UNIONed with `SELECT * FROM t WHERE pk IN (...)` pulls, which
            # errors on a column-count mismatch (xdump/base.py:142-146,
            # 154-171). Projected seeds stay legal for tables nothing
            # references (their seed rows ARE the export, F-shape intact).
            raise ValueError(
                f"seed for referenced table {t!r} must select all base columns "
                f"(got {sorted(seed_df.columns)}, need "
                f"{sorted(catalog.tables[t].columns)}); project after the dump, "
                "or seed an unreferenced table"
            )
        s.seed_dfs.append(seed_df)

    if not driver_closure_fastpath():
        for t in full:
            pending.setdefault(t, []).append(catalog.tables[t])
        for t, seed_df in seeds.items():
            s = state[t]
            prop_cols = propagation_columns(t)
            if s.key_col is not None or prop_cols:
                # Seeds are arbitrary user SQL (sorts, joins, limits, ...)
                # — evaluate each ONCE: checkpoint the narrow projection
                # (key + FK columns) and derive both the initial key-set
                # and the first propagation increment from the
                # materialized frame.
                keep = sorted(set(prop_cols) | ({s.key_col} if s.key_col else set()))
                snap = seed_df.select(*keep).localCheckpoint(eager=True)
                if s.key_col is not None:
                    keys = snap.select(s.key_col).distinct().localCheckpoint(eager=True)
                    s.add_keys(keys, keys.count())
                if prop_cols:
                    pending.setdefault(t, []).append(snap.select(*prop_cols))

    rounds = 0
    while pending:
        rounds += 1
        if rounds > max_steps:
            raise RuntimeError(f"closure did not converge within {max_steps} rounds")
        # gather contributions per parent across every pending increment
        contribs: dict[str, list[DataFrame]] = {}
        for table, increments in pending.items():
            for fk in catalog.outgoing(table):
                parent = fk.foreign_table
                if parent in full:
                    # Edge into a full table: parent is already complete
                    # (reference: xdump/postgresql.py:148-156).
                    continue
                key_col = sel(parent).key_col
                if key_col != fk.foreign_column:
                    raise ValueError(
                        f"FK {fk} disagrees with key column {key_col!r} of {parent!r}"
                    )
                for inc in increments:
                    contribs.setdefault(parent, []).append(
                        inc.select(F.col(fk.column).alias(key_col)).where(
                            F.col(key_col).isNotNull()
                        )
                    )
        pending = {}

        def advance(parent: str, parts: list[DataFrame]) -> tuple[str, DataFrame | None]:
            """One parent's full round step: dedup + anti-join + checkpoint
            the new keys, fold them into the accumulated set, and build the
            (narrow) increment for the next round. Runs on a worker thread;
            only per-parent state is touched."""
            p = state[parent]
            contrib = parts[0]
            for extra in parts[1:]:
                contrib = contrib.union(extra)
            contrib = contrib.distinct()   # multi-path dedup in one shot
            contrib = p.subtract_seen(contrib)
            new = contrib.localCheckpoint(eager=True)
            n_new = new.count()
            if n_new == 0:
                return parent, None
            p.add_keys(new, n_new)
            if not propagation_columns(parent):
                return parent, None   # nothing references out of this table
            inc = F.broadcast(new) if n_new <= BROADCAST_KEY_LIMIT else new
            base, in_memory = propagation_base(parent, p.key_col)
            rows = base.join(inc, on=p.key_col, how="left_semi")
            if in_memory:
                # Re-deriving this tiny in-memory join per edge is cheaper
                # than another checkpoint job.
                return parent, rows.select(*propagation_columns(parent))
            return parent, narrow_increment(parent, rows)

        # Each parent's jobs are independent; overlap them on driver
        # threads so wall time per round becomes max over touched tables,
        # not sum. Each thread mutates only its own parent's state.
        from xdump_spark.operators.concurrency import overlap

        results = overlap(
            *[lambda t=t, ps=ps: advance(t, ps) for t, ps in contribs.items()]
        )
        for parent, rows in results:
            if rows is not None:
                pending.setdefault(parent, []).append(rows)

    # Materialize: one semi-join per reached table.
    out: dict[str, DataFrame] = {}
    for table, s in state.items():
        base = catalog.tables[table]
        if s.is_full:
            out[table] = base
            continue
        parts: list[DataFrame] = []
        if s.key_col is not None and s.all_keys() is not None:
            keys = s.all_keys()
            n_salt = (
                salt_materialize.get(table)
                if isinstance(salt_materialize, dict)
                else salt_materialize
            )
            if n_salt:
                from xdump_spark.operators.skew import salted_join

                parts.append(
                    salted_join(base, keys, on=s.key_col,
                                n_salt=n_salt, how="left_semi")
                )
            else:
                if s.n_keys <= BROADCAST_KEY_LIMIT:
                    keys = F.broadcast(keys)
                parts.append(base.join(keys, on=s.key_col, how="left_semi"))
            # Seed rows are recovered by the pk semi-join (their keys were
            # added at init), so seeds need direct inclusion only for
            # tables nothing references.
        elif s.seed_dfs:
            acc = s.seed_dfs[0]
            for d in s.seed_dfs[1:]:
                acc = acc.unionByName(d)
            parts.append(acc.distinct())   # UNION-distinct (xdump/base.py:142-146)
        if parts:
            out[table] = parts[0]
    return out


def recursive_pull_sql(table: str, column: str, foreign_column: str, seed_sql: str) -> str:
    """Spark-SQL ``WITH RECURSIVE`` form of the reference's self-FK template
    (``RECURSIVE_QUERY_TEMPLATE``, xdump/base.py:253-262): the seed plus,
    transitively, every row it references through ``column`` →
    ``foreign_column``.

    Spark 4.x only supports UNION ALL in the recursive step
    (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), so the reference's UNION-distinct
    becomes an outer SELECT DISTINCT — equivalent on ACYCLIC self-FK data
    (manager chains). Cyclic graphs must use ``compute_closure``'s
    semi-naive loop, whose per-round anti-join terminates on cycles; the
    UNION ALL recursion would instead abort at
    ``spark.sql.cteRecursionLevelLimit``. Kept for SQL-surface parity and
    as the single-statement path Catalyst can plan end-to-end."""
    return (
        "WITH RECURSIVE __closure AS (\n"
        f"  SELECT * FROM ({seed_sql})\n"
        "  UNION ALL\n"
        f"  SELECT T.* FROM {table} T JOIN __closure ON __closure.{column} = T.{foreign_column}\n"
        ")\n"
        "SELECT DISTINCT * FROM __closure"
    )


def recursive_pull(
    spark: SparkSession, catalog: Catalog, table: str, seed_sql: str
) -> DataFrame:
    """Run ``recursive_pull_sql`` for every self-FK of ``table`` in
    sequence (the reference applies its template once per recursive FK,
    compounding the rewrites — xdump/base.py:131-136)."""
    catalog.register_views(spark)
    sql = seed_sql
    for fk in catalog.outgoing(table):
        if fk.is_recursive:
            sql = recursive_pull_sql(table, fk.column, fk.foreign_column, sql)
    return spark.sql(sql)


def recursive_ancestors_doubling(
    catalog: Catalog,
    table: str,
    seed_df: DataFrame,
    max_rounds: int = 64,
) -> DataFrame:
    """Ancestor closure over a single FUNCTIONAL self-FK in O(log depth)
    rounds by pointer jumping (path doubling): ``jump`` maps every key to
    its 2^r-th ancestor and squares each round; ``reached`` holds all
    ancestors within 2^r - 1 steps and extends by one jump per round.

    This is the deep-hierarchy twin of ``compute_closure``'s semi-naive
    loop: the loop does O(depth) rounds of tiny frontier joins — right
    for shallow graphs — while a 10^5-deep chain (linked-list-shaped
    hierarchies) finishes here in 17 rounds at O(n log depth) total rows
    shuffled (the squaring join touches the full edge set per round; at
    scale pre-bucket the table by key so those joins co-locate).
    Functional means one recursive edge whose child column holds at most
    one parent per row — exactly Spark-representable self-FKs. Cycles
    terminate: ``reached`` saturates and the round adds nothing new.

    Semantics match the reference's recursive pull (xdump/base.py:253-262)
    = ``compute_closure`` on the same single-edge catalog; equivalence is
    pinned in tests and by the shared WITH RECURSIVE oracle."""
    edges = [fk for fk in catalog.outgoing(table) if fk.is_recursive]
    if len(edges) != 1:
        raise ValueError(
            f"pointer doubling needs exactly one self-FK on {table!r}; "
            f"got {len(edges)} — use compute_closure for multi-edge recursion"
        )
    fk = edges[0]
    key, child = fk.foreign_column, fk.column
    base = catalog.tables[table]
    jump = (
        base.select(F.col(key).alias("src"), F.col(child).alias("dst"))
        .where(F.col(child).isNotNull())
        .localCheckpoint(eager=True)
    )
    reached = (
        seed_df.select(F.col(key).alias("src")).distinct().localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        nxt = (
            reached.join(jump, "src")
            .select(F.col("dst").alias("src"))
            .distinct()
            .join(reached, "src", "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.count() == 0:
            break
        reached = reached.union(nxt).localCheckpoint(eager=True)
        a, b = jump.alias("a"), jump.alias("b")
        jump = (
            a.join(b, F.col("a.dst") == F.col("b.src"))
            .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
            .localCheckpoint(eager=True)
        )
    else:
        raise RuntimeError(f"doubling did not converge within {max_rounds} rounds")
    keys = reached.withColumnRenamed("src", key)
    if reached.count() <= BROADCAST_KEY_LIMIT:
        keys = F.broadcast(keys)
    return base.join(keys, on=key, how="left_semi")
