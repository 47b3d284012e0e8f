"""Dump/load orchestration — the reference's top-level ``backend.dump`` /
``backend.load`` lifecycle (xdump/base.py:87-106, 220-250) on Spark.

dump(): validate → FK-closure over seeds → each table to the driver as
one bounded Arrow transfer, the tables' jobs submitted together → per
table, on the calling thread, a columnar CSV encode and the max serial
key (the sequence state) → schema manifest + sequences + CSVs into a zip.
load(): schema manifest (optional) → ``pyarrow.csv`` parse → Arrow tables
typed by the manifest → DataFrames (JVM local relations, cut into the
partitions a file scan of as many bytes would have) → replay: parquet tables
written together, JDBC tables one by one in FK-topological order. No
Python object is built per row on either side, only per distinct value
of the types without a vectorized text form (archive.py).

The driver-side transfer is intentional for the dump path: partial
dumps are small by construction (the reference streams straight into a
zip on one machine too). For big exports use ``dump_distributed`` which
writes spark-native partitioned parquet/CSV instead.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from datetime import date, datetime, timezone
from decimal import Decimal

import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from xdump_spark.archive import DumpArchive, parse_csv_bytes, per_distinct, rows_to_csv
from xdump_spark.catalog import Catalog, ForeignKey
from xdump_spark.cutover import bounded_collect
from xdump_spark.operators.concurrency import overlap
from xdump_spark.operators.sizing import ScanSplit
from xdump_spark.planner.closure import compute_closure, validate_tables
from xdump_spark.timing import log_time, logger


def toposort_tables(tables: list[str], fks: list[ForeignKey]) -> list[str]:
    """Parents before children so FK-constrained inserts succeed — an
    improvement over the reference, which relies on archive member order
    plus in-transaction FK deferral (xdump/base.py:104-106,239-246).
    Self-FK edges are ignored (unsortable; handled by the target DB)."""
    deps: dict[str, set[str]] = {t: set() for t in tables}
    for fk in fks:
        if fk.table in deps and fk.foreign_table in deps and not fk.is_recursive:
            deps[fk.table].add(fk.foreign_table)
    out: list[str] = []
    remaining = dict(deps)
    while remaining:
        ready = sorted(t for t, d in remaining.items() if not (d & set(remaining)))
        if not ready:
            # FK cycle across tables: fall back to name order (the
            # reference would livelock here too; document rather than die)
            out.extend(sorted(remaining))
            break
        out.extend(ready)
        for t in ready:
            del remaining[t]
    return out


_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _serial_key(catalog: Catalog, table: str, schema: T.StructType) -> str | None:
    """The table's primary key when it carries a counter to restore:
    integral, or decimal with scale 0. String/uuid keys carry no counter.
    JDBC sources commonly surface serial keys as DecimalType(p, 0)
    (PostgreSQL numeric, Oracle NUMBER(10,0)) — those ARE integral."""
    pk = catalog.primary_key(table)
    if pk is None or pk not in schema.names:
        return None
    dt = schema[pk].dataType
    if isinstance(dt, _INTEGRAL) or (isinstance(dt, T.DecimalType) and dt.scale == 0):
        return pk
    return None


def sequence_state(selections: dict[str, DataFrame], catalog: Catalog) -> dict[str, int]:
    """Per-table max serial-key — the analog of dumping PostgreSQL
    sequence positions so a loaded database continues numbering correctly
    (reference: xdump/postgresql.py:136-146). Covers LEAF tables through
    the catalog's explicit primary keys.

    Only a schema-only dump (``dump_data=False``) calls this: a data dump
    takes the same maxima from the rows it already collected, at no Spark
    job. Here each table's max is an aggregate over its closure plan, so
    every selection's plan runs again — one Spark job or more per table,
    even though the legs are unioned into one collect."""
    parts: list[DataFrame] = []
    for table, df in sorted(selections.items()):
        pk = _serial_key(catalog, table, df.schema)
        if pk is None:
            continue
        parts.append(
            df.agg(
                F.lit(table).alias("table_name"),
                # decimal(38,0), not long: a decimal(38,0) serial key can
                # exceed the long range, where a long cast overflows
                # (ANSI error) or silently nulls the sequence out
                F.max(pk).cast(T.DecimalType(38, 0)).alias("max_key"),
            )
        )
    if not parts:
        return {}
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    return {
        r["table_name"]: int(r["max_key"])   # exact: Python ints are unbounded
        for r in merged.collect()
        if r["max_key"] is not None
    }


@dataclass
class _Exported:
    """One table's export: only these outlive the transferred table."""

    csv: bytes
    rows: int
    max_key: int | None       # the table's sequence state, None if it has none


class SparkDumpEngine:
    """The engine façade: a Catalog plus dump/load entry points."""

    def __init__(self, spark: SparkSession, catalog: Catalog):
        self.spark = spark
        self.catalog = catalog

    # ------------------------------------------------------------- dump --
    def _select(self, full_tables, partial_tables) -> dict[str, DataFrame]:
        validate_tables(self.catalog, full_tables, partial_tables or {})
        return compute_closure(
            self.catalog, tuple(full_tables), dict(partial_tables or {}), spark=self.spark
        )

    def dump(
        self,
        filename: str,
        full_tables: list[str] | tuple[str, ...] = (),
        partial_tables: dict[str, DataFrame | str] | None = None,
        dump_schema: bool = True,
        dump_data: bool = True,
        compression: str = "deflated",
        max_driver_rows: int | None = 1_000_000,
    ) -> dict[str, int]:
        """Write the closure of (full_tables, partial_tables) as a zip.
        Returns {table: rows written}. Mirrors backend.dump flags
        (reference: xdump/base.py:87-106; tests/test_backend.py:142-162).
        Total and per-table wall time is logged like the reference's
        verbosity surface (xdump/base.py:24-35,98).

        Archive dumps bring each selected table to the driver as Arrow —
        valid because partial dumps are small by construction, and
        ENFORCED by ``max_driver_rows``: each table crosses through
        ``cutover.bounded_collect`` (``limit(max_driver_rows + 1)``), so
        the driver never holds more than that many rows of one table,
        and a table that fills the limit raises before any archive is
        written. The tables are transferred concurrently, so at most that
        many rows per table are held at once. Use ``dump_distributed``
        for large selections, or pass ``max_driver_rows=None`` to opt out
        (a plain ``toArrow()``).

        Sequence state (``dump_schema``) is each table's max serial key,
        taken from the transferred tables at no Spark job; with
        ``dump_data=False`` nothing is collected and ``sequence_state``
        runs instead."""
        with log_time("total dump"):
            return self._dump(
                filename, full_tables, partial_tables, dump_schema, dump_data,
                compression, max_driver_rows,
            )

    def _dump(
        self, filename, full_tables, partial_tables, dump_schema, dump_data,
        compression, max_driver_rows=None,
    ) -> dict[str, int]:
        selections = self._select(full_tables, partial_tables)
        return self._write_archive(
            filename, selections, dump_schema, dump_data, compression, max_driver_rows
        )

    def _export(self, table: str, df: DataFrame, max_driver_rows) -> pa.Table:
        """One table on the driver as Arrow, refused over
        ``max_driver_rows``. Only the transfer: the caller encodes."""
        with log_time(f"export {table}", level=10):
            if max_driver_rows is None:
                return df.toArrow()
            tbl = bounded_collect(df, max_driver_rows, f"dump.export.{table}", over="refused")
        if tbl is None:
            raise ValueError(
                f"dump() collects to the driver and the selection for "
                f"table {table!r} exceeds max_driver_rows="
                f"{max_driver_rows}; use dump_distributed() for large "
                "selections (executors write partitioned parquet/CSV) "
                "or raise max_driver_rows explicitly"
            )
        return tbl

    def _encode(self, table: str, schema: T.StructType, tbl: pa.Table) -> _Exported:
        """The table's CSV, row count and max serial key."""
        logger.debug("%s: %d rows", table, tbl.num_rows)
        pk = _serial_key(self.catalog, table, schema)
        max_key = None if pk is None else pc.max(tbl[pk]).as_py()
        return _Exported(
            rows_to_csv(tbl),
            tbl.num_rows,
            None if max_key is None else int(max_key),   # exact for decimal(38,0)
        )

    def _write_archive(
        self, filename, selections, dump_schema, dump_data, compression,
        max_driver_rows=None, omit_empty=False,
    ) -> dict[str, int]:
        """``omit_empty``: leave out every table that collected no row —
        from the data, the schema and the sequence state (a delta dump's
        unchanged tables)."""
        exported: dict[str, _Exported] = {}
        if dump_data:
            # The per-table jobs are tiny and independent: submit them
            # together. A table over max_driver_rows raises out of
            # overlap() after its siblings' jobs are cancelled and have
            # stopped, before any archive is written. The encoding runs
            # here, one table at a time, each table dropped once encoded.
            tables = overlap(*[
                lambda t=t, df=df: self._export(t, df, max_driver_rows)
                for t, df in selections.items()
            ])
            for t, df in selections.items():
                exported[t] = self._encode(t, df.schema, tables.pop(0))
            if omit_empty:
                exported = {t: e for t, e in exported.items() if e.rows}
                selections = {t: selections[t] for t in exported}
        schema = None
        sequences = None
        if dump_schema:
            schema = {
                "tables": {
                    name: {"spark_schema": df.schema.jsonValue()}
                    for name, df in selections.items()
                },
                "foreign_keys": [
                    fk.to_dict()
                    for fk in self.catalog.foreign_keys
                    if fk.table in selections and fk.foreign_table in selections
                ],
            }
            if dump_data:
                sequences = {
                    t: exported[t].max_key
                    for t in sorted(exported)
                    if exported[t].max_key is not None
                }
            else:
                sequences = sequence_state(selections, self.catalog)
        data = {t: e.csv for t, e in exported.items()}
        DumpArchive(filename).write(schema, sequences, data, compression)
        return {t: e.rows for t, e in exported.items()}

    def dump_incremental(
        self,
        filename: str,
        since: str,
        full_tables: list[str] | tuple[str, ...] = (),
        partial_tables: dict[str, DataFrame | str] | None = None,
        dump_schema: bool = True,
        dump_data: bool = True,
        compression: str = "deflated",
        max_driver_rows: int | None = 1_000_000,
    ) -> dict[str, int]:
        """Delta dump: the ``dump`` selection MINUS every row already
        captured by the ``since`` archive — the scale extension of the
        reference's snapshot dump (re-exporting a 100 TB source per run
        is not a plan; exporting the day's delta is).

        New rows are identified per table by serial key: key > the
        since-archive's recorded sequence position (the reference dumps
        exactly this state to continue numbering after load,
        xdump/postgresql.py:136-146 — reused here as a high-watermark, so
        the filter PUSHES DOWN to the scan and old rows are never read).
        Tables without a recorded counter (no single serial key, e.g. a
        composite-key fact table) fall back to an exact full-row
        anti-join against the since-archive's rows.

        Tables with no new rows are OMITTED from the archive; the load
        path's skip-if-absent rule makes the delta loadable standalone
        onto a previously-loaded target (append). Referential integrity
        of the union holds by construction: a new child may reference an
        old parent, and the old parent is already in the target.
        """
        prev = DumpArchive(since)
        prev_seq = prev.read_sequences()
        prev_loaded: LoadedDump | None = None
        selections = self._select(full_tables, partial_tables or {})
        delta: dict[str, DataFrame] = {}
        for table, df in selections.items():
            pk = self.catalog.primary_key(table)
            if pk is not None and table in prev_seq:
                delta[table] = df.filter(F.col(pk) > int(prev_seq[table]))
            else:
                if prev_loaded is None:
                    prev_loaded = self.load(since)
                if table in prev_loaded.frames:
                    delta[table] = df.join(
                        prev_loaded.frames[table], on=list(df.columns), how="left_anti"
                    )
                else:
                    delta[table] = df
        if not dump_data:
            # no collected rows to tell an empty delta by
            delta = {t: d for t, d in delta.items() if d.limit(1).count() > 0}
        return self._write_archive(
            filename, delta, dump_schema, dump_data, compression, max_driver_rows,
            omit_empty=True,
        )

    def dump_distributed(
        self,
        out_dir: str,
        full_tables: list[str] | tuple[str, ...] = (),
        partial_tables: dict[str, DataFrame | str] | None = None,
        fmt: str = "parquet",
    ) -> list[str]:
        """Scale path: write each selected table as partitioned parquet/CSV
        under ``out_dir/<table>/`` with executors doing the IO (no driver
        collect). Schema/FK manifest goes to ``out_dir/manifest.json``."""
        import json

        selections = self._select(full_tables, partial_tables)
        for table, df in selections.items():
            writer = df.write.mode("overwrite")
            if fmt == "csv":
                writer.option("header", True).option("nullValue", "").csv(
                    os.path.join(out_dir, table)
                )
            else:
                writer.parquet(os.path.join(out_dir, table))
        manifest = {
            "format": fmt,
            "tables": {name: df.schema.jsonValue() for name, df in selections.items()},
            "foreign_keys": [
                fk.to_dict()
                for fk in self.catalog.foreign_keys
                if fk.table in selections and fk.foreign_table in selections
            ],
        }
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=2)
        return sorted(selections)

    def load_distributed(self, out_dir: str) -> "LoadedDump":
        """Read a ``dump_distributed`` directory back: typed frames come
        straight off the partitioned parquet/CSV parts (executors do the
        IO — the scale twin of ``load``, which parses driver-side CSV)."""
        import json

        with open(os.path.join(out_dir, "manifest.json")) as f:
            manifest = json.load(f)
        frames: dict[str, DataFrame] = {}
        for table, schema_json in manifest["tables"].items():
            st = T.StructType.fromJson(schema_json)
            path = os.path.join(out_dir, table)
            if manifest.get("format") == "csv":
                frames[table] = (
                    self.spark.read.option("header", True)
                    .option("nullValue", "")
                    .schema(st)
                    .csv(path)
                )
            else:
                frames[table] = self.spark.read.parquet(path)
        fks = [ForeignKey.from_dict(d) for d in manifest.get("foreign_keys", [])]
        return LoadedDump(frames, fks, {})

    # ------------------------------------------------------------- load --
    def load(self, filename: str) -> "LoadedDump":
        """Parse an archive back into typed DataFrames (schema from the
        manifest when present, else all-string columns — the reference
        likewise loads without schema when schema.sql is absent,
        docs/changelog.rst:26)."""
        with log_time("total load"):
            return self._load(filename)

    def _load(self, filename: str) -> "LoadedDump":
        arc = DumpArchive(filename)
        schema = arc.read_schema()
        sequences = arc.read_sequences()
        data = arc.read_data()
        split = ScanSplit.of(self.spark)
        frames: dict[str, DataFrame] = {}
        for table, csv_bytes in data.items():
            text = parse_csv_bytes(csv_bytes)
            if schema and table in schema["tables"]:
                st = T.StructType.fromJson(schema["tables"][table]["spark_schema"])
            else:
                st = T.StructType(
                    [T.StructField(c, T.StringType(), True) for c in text.column_names]
                )
            frames[table] = self._frame(typed_table(text, st), st, split)
        fks = (
            [ForeignKey.from_dict(d) for d in schema.get("foreign_keys", [])]
            if schema
            else []
        )
        return LoadedDump(frames, fks, sequences)

    def _frame(self, tbl: pa.Table, st: T.StructType, split: ScanSplit) -> DataFrame:
        """The typed table as a JVM LocalRelation (the replay's writes read
        it without Python workers; a list of tuples would be a LogicalRDD
        of pickled rows), in as many partitions as a file scan would cut
        from a file of its Arrow bytes (``ScanSplit.max_split_bytes``): one
        per ``openCostInBytes``, so a small table replays as one file and
        over one JDBC connection, not ``defaultParallelism`` of them, and
        from ``openCostInBytes × defaultParallelism`` bytes on all the
        LocalRelation's ``defaultParallelism`` partitions."""
        n = -(-tbl.nbytes // split.max_split_bytes(tbl.nbytes, 1))
        return self.spark.createDataFrame(tbl, st).coalesce(max(1, n))


def typed_table(text: pa.Table, st: T.StructType) -> pa.Table:
    """An all-string table from ``parse_csv_bytes`` typed by ``st``, in
    ``st``'s Arrow types: integers and floats by a vectorized cast,
    strings as they are, every other type through ``_parser`` once per
    distinct value."""
    arrow_schema = to_arrow_schema(st)
    columns = []
    for col, field, dt in zip(text.columns, arrow_schema, (f.dataType for f in st.fields)):
        if isinstance(dt, _INTEGRAL):
            columns.append(col.cast(field.type))
        elif isinstance(dt, (T.DoubleType, T.FloatType)):
            # through float64, as float() read it: a float32 text is the
            # shortest double of the float32 value
            columns.append(col.cast(pa.float64()).cast(field.type))
        elif isinstance(dt, T.StringType):
            columns.append(col)
        else:
            parse = _parser(dt)
            columns.append(pa.chunked_array(
                [per_distinct(c, parse, field.type) for c in col.chunks], field.type
            ))
    return pa.Table.from_arrays(columns, schema=arrow_schema)


def _local_timestamp(v: str) -> datetime:
    """A TimestampType cell: ``collect()`` hands these out as naive
    wall-clock times in the process's local zone, and that is how the
    archive holds them. Pinned to UTC here: the Arrow path would read a
    naive value in the session time zone instead of the local one."""
    return datetime.fromisoformat(v).astimezone(timezone.utc)


def _binary(v: str) -> bytes:
    # format_csv_value writes bytes PG-COPY-style as \x<hex>
    if v.startswith("\\x"):
        return bytes.fromhex(v[2:])
    return v.encode("utf-8")


def _parser(dt: T.DataType):
    """The parser of one non-null CSV cell of type ``dt``."""
    if isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
        # complex cells are embedded as JSON by format_csv_value
        return lambda v: _from_jsonable(json.loads(v), dt)
    if isinstance(dt, _INTEGRAL):
        return int
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return float
    if isinstance(dt, T.BooleanType):
        return lambda v: v == "true"
    if isinstance(dt, T.TimestampType):
        return _local_timestamp
    if isinstance(dt, T.TimestampNTZType):
        return datetime.fromisoformat
    if isinstance(dt, T.DateType):
        return date.fromisoformat
    if isinstance(dt, T.DecimalType):
        return Decimal
    if isinstance(dt, T.BinaryType):
        return _binary
    return str


def _from_jsonable(o, dt: T.DataType):
    """Type a JSON-decoded complex cell back to what createDataFrame
    expects for ``dt`` (inverse of archive._to_jsonable): containers
    recurse; scalar leaves arrive either natively typed from JSON
    (int/float/bool) or as the string encodings _parser already parses
    (temporals, decimals, bytes)."""
    if o is None:
        return None
    if isinstance(dt, T.ArrayType):
        return [_from_jsonable(x, dt.elementType) for x in o]
    if isinstance(dt, T.MapType):
        return {_parser(dt.keyType)(k): _from_jsonable(x, dt.valueType) for k, x in o.items()}
    if isinstance(dt, T.StructType):
        return {f.name: _from_jsonable(o.get(f.name), f.dataType) for f in dt.fields}
    if isinstance(o, str):
        return _parser(dt)(o)
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return float(o)
    if isinstance(dt, T.DecimalType):
        return Decimal(str(o))
    return o


class LoadedDump:
    """A parsed archive: typed frames + FK graph + sequence state, with
    helpers to replay into a target (the reference's load step,
    xdump/base.py:220-250)."""

    def __init__(self, frames: dict[str, DataFrame], fks: list[ForeignKey], sequences: dict):
        self.frames = frames
        self.foreign_keys = fks
        self.sequences = sequences

    def load_order(self) -> list[str]:
        return toposort_tables(sorted(self.frames), self.foreign_keys)

    def write_parquet_db(self, db_dir: str, mode: str = "errorifexists") -> list[str]:
        """Replay into a parquet-directory database. Parquet directories
        carry no FK constraints, so the per-table writes are submitted
        together; the returned order is still parents first. Dumped
        sequence state lands in the database's counter manifest
        (``sequences.json``) so ``ParquetDatabase.allocate_keys`` continues
        numbering after the load — the file-backend analog of the
        reference's sequences.sql replay (xdump/base.py:227-237)."""
        order = self.load_order()
        overlap(*[
            lambda t=t: self.frames[t].write.mode(mode).parquet(os.path.join(db_dir, t))
            for t in order
        ])
        if self.sequences:
            from xdump_spark.sources.parquet_db import ParquetDatabase

            ParquetDatabase(None, db_dir).write_sequences(
                {t: int(v) for t, v in self.sequences.items()}
            )
        return order

    def write_jdbc(
        self, url: str, properties: dict, mode: str = "append",
        apply_sequences: bool = True,
    ) -> list[str]:
        """Replay into a JDBC database in FK order, then restart the
        target's serial counters at max_key + 1 (``apply_sequences_jdbc``)
        so post-load inserts continue numbering — the reference applies
        sequences.sql on load and verifies currval advanced
        (xdump/base.py:227-237, tests/test_backend.py:138-140).

        PostgreSQL targets and ``search_path`` (CVE-2018-1058 context): the
        reference saves/restores ``search_path`` around schema replay because
        ``pg_dump`` emits ``SELECT pg_catalog.set_config('search_path', '',
        false)`` (xdump/postgresql.py:179-188). This path writes bare table
        names, so each JDBC connection resolves them through the connecting
        role's ``search_path``. Against a hardened PG target whose
        search_path was emptied, qualify the names (``schema.table``) or set
        ``currentSchema=<schema>`` in the JDBC url — the engine deliberately
        does not override the connection's resolution rules."""
        order = self.load_order()
        for table in order:
            self.frames[table].write.jdbc(url, table, mode=mode, properties=properties)
        if apply_sequences and self.sequences:
            from xdump_spark.sources.jdbc import apply_sequences_jdbc

            spark = next(iter(self.frames.values())).sparkSession
            apply_sequences_jdbc(spark, url, self.sequences, properties)
        return order
