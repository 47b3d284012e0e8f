"""Dump-archive format: the Spark analog of the reference's zip layout
(``dump/schema.sql`` + ``dump/sequences.sql`` + ``dump/data/<table>.csv``,
reference: xdump/base.py:14-16).

Schema DDL was opaque text from pg_dump/sqlite3 in the reference
(xdump/postgresql.py:129-134, xdump/sqlite.py:94-95); here the manifest is
structured: StructType JSON per table, the FK edge list, and per-table
sequence state (max key) — everything needed to reload with exact types
and FK-topological insert order.

CSV bytes follow PostgreSQL COPY ... CSV semantics (the reference's export,
xdump/postgresql.py:173-177): header row, ``\n`` terminator, NULL as an
unquoted empty field, empty string quoted as ``""``, quotes doubled.

The codec is columnar. ``rows_to_csv`` encodes a ``pa.Table`` column by
column with Arrow kernels: integers by a cast, strings by vectorized COPY
quoting, floats as Arrow's shortest text laid out as ``repr`` lays it out.
The other types (temporals, decimals, bool, binary, complex) keep the
scalar ``format_csv_value`` as their definition, applied to the value
``collect()`` would give, once per distinct value. The bytes are those of
``format_csv_value`` over the collected rows, except that a map's
entries keep the order Spark stores them in. ``parse_csv_bytes`` reads a
member back with ``pyarrow.csv`` into an all-string table; the engine
types it by the manifest schema (``engine.typed_table``).
"""

from __future__ import annotations

import csv
import io
import json
import zipfile
from datetime import date, datetime, timedelta, timezone
from decimal import Decimal

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv

SCHEMA_MEMBER = "dump/schema.json"
SEQUENCES_MEMBER = "dump/sequences.json"
DATA_DIR = "dump/data/"

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
_MICROSECOND = timedelta(microseconds=1)
_INT32_MAX = 2**31 - 1   # the largest block pyarrow.csv takes

COMPRESSION = {
    # mirrors the reference CLI's choices (xdump/cli/dump.py:32-38)
    "stored": zipfile.ZIP_STORED,
    "deflated": zipfile.ZIP_DEFLATED,
    "bzip2": zipfile.ZIP_BZIP2,
    "lzma": zipfile.ZIP_LZMA,
}


def _key_to_str(k) -> str:
    """Map keys as JSON object keys, using the SAME scalar encodings as
    values so the load-side coercion round-trips them: str(True) would
    load as False ('true' is the boolean encoding) and str(b'..') would
    load as the bytes of a Python repr."""
    if isinstance(k, bool):
        return "true" if k else "false"
    if isinstance(k, datetime):
        return k.isoformat(sep=" ")
    if isinstance(k, date):
        return k.isoformat()
    if isinstance(k, (bytes, bytearray)):
        return "\\x" + bytes(k).hex()
    return str(k)


def _to_jsonable(v):
    """Recursively convert a Spark-collected cell (lists, Rows, dicts,
    temporals, bytes, Decimals) to a JSON-serializable shape. Scalar
    encodings match the top-level CSV ones so the load path can reuse one
    string-coercion routine per element."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "\\x" + bytes(v).hex()
    if hasattr(v, "asDict"):   # pyspark Row (struct cell) without importing pyspark
        return {k: _to_jsonable(x) for k, x in v.asDict().items()}
    if isinstance(v, dict):
        return {_key_to_str(k): _to_jsonable(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_to_jsonable(x) for x in v]
    return str(v)   # Decimal and anything else with a faithful str form


def format_csv_value(v) -> str:
    """One CSV field, COPY-style: None → empty (unquoted), empty string →
    '""', quoting only when needed, internal quotes doubled. Complex cells
    (array/struct/map) are embedded as JSON — a bare str() would emit
    Python reprs the load side cannot type back."""
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (datetime, date)):
        s = v.isoformat(sep=" ") if isinstance(v, datetime) else v.isoformat()
    elif isinstance(v, float):
        s = repr(v)
    elif isinstance(v, (bytes, bytearray)):
        s = "\\x" + bytes(v).hex()   # PG COPY bytea encoding
    elif isinstance(v, (list, tuple, dict)) or hasattr(v, "asDict"):
        s = json.dumps(_to_jsonable(v), separators=(",", ":"))
    else:
        s = str(v)
    if s == "":
        return '""'
    if any(c in s for c in (",", '"', "\n", "\r")):
        return '"' + s.replace('"', '""') + '"'
    return s


def _collected(v, t: pa.DataType):
    """An Arrow cell as ``collect()`` gives it, for ``format_csv_value``:
    a tz-aware instant becomes the naive wall-clock time in the process's
    local zone (``TimestampType.fromInternal``); a decimal is re-read
    from its engineering string, as the JVM pickles it (``1E-10`` at
    scale 10 collects as ``Decimal('100E-12')``, which prints
    ``1.00E-10``); a map's entry list becomes a dict; containers recurse."""
    if v is None:
        return None
    if pa.types.is_decimal(t):
        return Decimal(v.to_eng_string())
    if pa.types.is_timestamp(t):
        if t.tz is None:
            return v
        us = (v - _EPOCH) // _MICROSECOND
        return datetime.fromtimestamp(us // 1_000_000).replace(microsecond=us % 1_000_000)
    if pa.types.is_map(t):
        return {_collected(k, t.key_type): _collected(x, t.item_type) for k, x in v}
    if pa.types.is_struct(t):
        return {f.name: _collected(v[f.name], f.type) for f in t}
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return [_collected(x, t.value_type) for x in v]
    return v


def per_distinct(arr: pa.Array, fn, out_type: pa.DataType) -> pa.Array:
    """``fn`` over ``arr``'s non-null cells as an array of ``out_type``,
    called once per distinct value and spread back with ``take``. Types
    Arrow cannot dictionary-encode (nested, null) go cell by cell."""
    if pa.types.is_nested(arr.type) or pa.types.is_null(arr.type):
        return pa.array([None if v is None else fn(v) for v in arr.to_pylist()], out_type)
    enc = arr.dictionary_encode()
    return pa.array([fn(v) for v in enc.dictionary.to_pylist()], out_type).take(enc.indices)


def _float_text(arr: pa.Array) -> pa.Array:
    """``repr`` of each float: Arrow's shortest digits, ``.0`` appended to
    an integral text, and ``repr`` itself where Python's layout differs
    (an exponent outside [1e-4, 1e16), or one Arrow writes inside it)."""
    x = arr.cast(pa.float64())   # a float32 reads as the double collect() gives
    text = pc.cast(x, pa.string())
    text = pc.if_else(
        pc.match_substring_regex(text, r"^-?[0-9]+$"),
        pc.binary_join_element_wise(text, ".0", ""),
        text,
    )
    mag = pc.abs(x)
    odd = pc.fill_null(pc.or_(
        pc.or_(pc.greater_equal(mag, 1e16), pc.and_(pc.less(mag, 1e-4), pc.greater(mag, 0.0))),
        pc.match_substring(text, "e"),
    ), False)
    if pc.any(odd).as_py():
        reprs = pa.array([repr(v) for v in x.filter(odd).to_pylist()], pa.string())
        text = pc.replace_with_mask(text, odd, reprs)
    return text


def _string_text(arr: pa.Array) -> pa.Array:
    """COPY quoting: an empty value, or one holding a comma, a quote, CR
    or LF, is quoted with its quotes doubled."""
    special = pc.or_(
        pc.match_substring_regex(arr, '[,"\r\n]'), pc.equal(pc.binary_length(arr), 0)
    )
    quoted = pc.binary_join_element_wise('"', pc.replace_substring(arr, '"', '""'), '"', "")
    return pc.if_else(special, quoted, arr)


def _column_text(arr: pa.Array) -> pa.Array:
    """One column's CSV fields, NULL as the empty string."""
    t = arr.type
    if pa.types.is_integer(t):
        text = pc.cast(arr, pa.string())
    elif pa.types.is_floating(t):
        text = _float_text(arr)
    elif pa.types.is_string(t):
        text = _string_text(arr)
    else:
        text = per_distinct(arr, lambda v: format_csv_value(_collected(v, t)), pa.string())
    return pc.fill_null(text, "")


def rows_to_csv(table: pa.Table) -> bytes:
    """The table's rows as COPY-style CSV bytes with a header row, encoded
    column by column (the bytes ``format_csv_value`` gives per cell of
    the table's collected rows). No Python string is built per row: each
    record batch's lines are joined in Arrow and sliced from its buffer."""
    # column names go through the same escaping as data fields — Spark
    # allows commas/quotes in names (e.g. an unaliased `round(sum(x), 2)`)
    out = [(",".join(format_csv_value(c) for c in table.column_names) + "\n").encode("utf-8")]
    for batch in table.to_batches():
        if not batch.num_rows:
            continue
        rows = pc.binary_join_element_wise(*map(_column_text, batch.columns), ",")
        lines = pc.binary_join_element_wise(rows, "", "\n")
        _, offsets, data = lines.buffers()
        out.append(data[: memoryview(offsets).cast("i")[len(lines)]].to_pybytes())
    return b"".join(out)


def parse_csv_bytes(data: bytes) -> pa.Table:
    """Inverse of rows_to_csv, as an all-string table named by the header:
    unquoted empty → null, quoted '""' → ''. An empty line is a row (a
    one-column table's NULL)."""
    # the header alone through the csv module: read_csv has no all-string
    # switch, only per-name column types
    header = next(csv.reader(io.TextIOWrapper(io.BytesIO(data), "utf-8", newline="")))
    # one block for the whole member (it is in memory already): read_csv
    # refuses a record that crosses a block boundary, so its default 1 MiB
    # blocks would refuse any cell of a MiB or more
    block_size = min(len(data) + 1, _INT32_MAX)
    return pacsv.read_csv(
        io.BytesIO(data),
        read_options=pacsv.ReadOptions(use_threads=False, block_size=block_size),
        parse_options=pacsv.ParseOptions(newlines_in_values=True, ignore_empty_lines=False),
        convert_options=pacsv.ConvertOptions(
            column_types={c: pa.string() for c in header},
            strings_can_be_null=True,
            null_values=[""],
            quoted_strings_can_be_null=False,
        ),
    )


class DumpArchive:
    """Writer/reader for the dump zip."""

    def __init__(self, path: str):
        self.path = path

    # -- write ------------------------------------------------------------
    def write(
        self,
        schema: dict | None,
        sequences: dict | None,
        data: dict[str, bytes] | None,
        compression: str = "deflated",
    ) -> None:
        comp = COMPRESSION[compression]
        with zipfile.ZipFile(self.path, "w", compression=comp) as zf:
            if schema is not None:
                zf.writestr(SCHEMA_MEMBER, json.dumps(schema, indent=2))
                zf.writestr(SEQUENCES_MEMBER, json.dumps(sequences or {}, indent=2))
            if data:
                for table, csv_bytes in data.items():
                    zf.writestr(f"{DATA_DIR}{table}.csv", csv_bytes)

    # -- read -------------------------------------------------------------
    def namelist(self) -> list[str]:
        with zipfile.ZipFile(self.path) as zf:
            return zf.namelist()

    def read_schema(self) -> dict | None:
        """None when the archive was written with dump_schema=False — the
        load path must tolerate that (reference changelog #39,
        docs/changelog.rst:26)."""
        with zipfile.ZipFile(self.path) as zf:
            if SCHEMA_MEMBER not in zf.namelist():
                return None
            return json.loads(zf.read(SCHEMA_MEMBER))

    def read_sequences(self) -> dict:
        with zipfile.ZipFile(self.path) as zf:
            if SEQUENCES_MEMBER not in zf.namelist():
                return {}
            return json.loads(zf.read(SEQUENCES_MEMBER))

    def read_data(self) -> dict[str, bytes]:
        out: dict[str, bytes] = {}
        with zipfile.ZipFile(self.path) as zf:
            for name in zf.namelist():
                if name.startswith(DATA_DIR) and name.endswith(".csv"):
                    out[name[len(DATA_DIR) : -4]] = zf.read(name)
        return out
