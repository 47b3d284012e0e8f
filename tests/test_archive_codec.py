"""Property tests of the archive's columnar CSV codec against its per-cell
definition: ``rows_to_csv(df.toArrow())`` is, byte for byte, what
``format_csv_value`` gives over the cells of ``df.collect()``, and
``parse_csv_bytes`` + ``typed_table`` give the same Arrow table back.

Everything runs under ``TZ=America/New_York``: ``collect()`` hands
``TimestampType`` values out as wall-clock times in the process's local
zone, and the archive holds them so."""

import os
import random
import time
from datetime import date, datetime, timedelta, timezone
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from xdump_spark.archive import format_csv_value, parse_csv_bytes, rows_to_csv
from xdump_spark.engine import typed_table

N_BITS = 10_000          # random bit patterns per float width
RNG_SEED = 20240115


@pytest.fixture(autouse=True)
def new_york():
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    yield
    if old is None:
        del os.environ["TZ"]
    else:
        os.environ["TZ"] = old
    time.tzset()


def _stored_order(v, a, dt: T.DataType):
    """A collected cell with each map's entries in the order Spark stores
    them, which is the order of ``a``, the cell's ``toArrow()`` value.
    ``collect()`` hands maps over through a JVM ``HashMap``, so its dicts
    iterate in hash order, which for binary keys (identity hashes) is not
    even repeatable; the archive writes the stored order."""
    if v is None:
        return v
    if isinstance(dt, T.MapType):
        return {k: _stored_order(v[k], x, dt.valueType) for k, x in a}
    if isinstance(dt, T.ArrayType):
        return [_stored_order(x, y, dt.elementType) for x, y in zip(v, a)]
    if isinstance(dt, T.StructType):
        return {f.name: _stored_order(v[f.name], a[f.name], f.dataType) for f in dt.fields}
    return v


def _per_cell(df) -> bytes:
    """The archive CSV as the per-cell codec wrote it from collected rows."""
    fields = df.schema.fields
    lines = [",".join(format_csv_value(c) for c in df.columns)]
    for row, arrow_row in zip(df.collect(), df.toArrow().to_pylist()):
        cells = [_stored_order(v, arrow_row[f.name], f.dataType) for v, f in zip(row, fields)]
        lines.append(",".join(format_csv_value(v) for v in cells))
    return ("\n".join(lines) + "\n").encode("utf-8")


def _canonical(tbl: pa.Table) -> pa.Table:
    """Top-level floats as their bit patterns, every NaN as one NaN, so
    that -0.0 and 0.0 differ and NaN equals NaN."""
    cols = []
    for col in tbl.combine_chunks().columns:
        if pa.types.is_floating(col.type):
            nan = pa.scalar(float("nan"), col.type)
            col = pc.if_else(pc.is_nan(col), nan, col).combine_chunks()
            col = col.view(pa.int64() if col.type == pa.float64() else pa.int32())
        cols.append(col)
    return pa.Table.from_arrays(cols, names=tbl.column_names)


def _check(df, roundtrip: bool = True) -> bytes:
    arrow = df.toArrow()
    encoded = rows_to_csv(arrow)
    assert encoded == _per_cell(df)
    if roundtrip:
        back = typed_table(parse_csv_bytes(encoded), df.schema)
        want = arrow.cast(to_arrow_schema(df.schema))
        assert back.schema == want.schema
        assert _canonical(back).equals(_canonical(want))
    return encoded


def _frame(spark, st: T.StructType, rows):
    # stored once: each scan of Python rows rebuilds their maps through a
    # JVM HashMap, and binary keys would come out in a new order each time
    return spark.createDataFrame(rows, st).localCheckpoint()


def test_integer_columns(spark):
    rng = random.Random(RNG_SEED)
    bounds = {T.ByteType(): 7, T.ShortType(): 15, T.IntegerType(): 31, T.LongType(): 63}
    st = T.StructType([T.StructField(f"c{i}", t, True) for i, t in enumerate(bounds)])
    rows = [tuple(-(2 ** b) for b in bounds.values()), tuple(2 ** b - 1 for b in bounds.values())]
    rows += [(None,) * 4, (0,) * 4]
    for _ in range(500):
        rows.append(tuple(
            None if rng.random() < 0.1 else rng.randint(-(2 ** b), 2 ** b - 1)
            for b in bounds.values()
        ))
    _check(_frame(spark, st, rows))


SPECIAL_FLOATS = [
    float("nan"), float("inf"), float("-inf"), -0.0, 0.0, 5e-324, 1e-4, 1e15, 1e16,
    9999999999999998.0, 1e-5, 0.1, 1.5, 123456789.125, -2.5e-4, 1e300, 2.0 ** 53,
]


def _random_doubles(rng: np.random.Generator) -> np.ndarray:
    bits = rng.integers(0, 2 ** 64, size=N_BITS, dtype=np.uint64).view(np.float64)
    # the fixed-notation range repr and Arrow share, decade by decade
    decades = 10.0 ** rng.uniform(-6, 18, size=N_BITS)
    signs = rng.choice([-1.0, 1.0], size=N_BITS)
    integral = rng.integers(-(2 ** 53), 2 ** 53, size=N_BITS).astype(np.float64)
    return np.concatenate([bits, decades * signs, integral, np.array(SPECIAL_FLOATS)])


def _random_floats(rng: np.random.Generator) -> np.ndarray:
    bits = rng.integers(0, 2 ** 32, size=N_BITS, dtype=np.uint64).astype(np.uint32)
    decades = (10.0 ** rng.uniform(-6, 18, size=N_BITS)).astype(np.float32)
    with np.errstate(over="ignore"):
        specials = np.array(SPECIAL_FLOATS).astype(np.float32)
    return np.concatenate([bits.view(np.float32), decades, specials])


def test_float_and_double_columns(spark):
    rng = np.random.default_rng(RNG_SEED)
    doubles = _random_doubles(rng)
    floats = _random_floats(rng)
    for name, values, dt in (("d", doubles, T.DoubleType()), ("f", floats, T.FloatType())):
        arr = pa.array(values)
        with_nulls = pa.concat_arrays([arr, pa.nulls(3, arr.type)])
        st = T.StructType([T.StructField(name, dt, True)])
        df = spark.createDataFrame(pa.table({name: with_nulls}), st)
        encoded = _check(df)
        assert encoded.count(b"\n") == len(with_nulls) + 1


def test_decimal_and_bool_columns(spark):
    rng = random.Random(RNG_SEED)
    st = T.StructType([
        T.StructField("d2", T.DecimalType(10, 2), True),
        T.StructField("d10", T.DecimalType(38, 10), True),
        T.StructField("d0", T.DecimalType(38, 0), True),
        T.StructField("b", T.BooleanType(), True),
    ])
    rows = [
        (Decimal("0.00"), Decimal("0E-10"), Decimal(0), True),
        (Decimal("-99999999.99"), Decimal("1E-10"), Decimal(2 ** 100), False),
        (None, None, None, None),
    ]
    for _ in range(300):
        rows.append((
            Decimal(rng.randint(-(10 ** 10) + 1, 10 ** 10 - 1)).scaleb(-2),
            Decimal(rng.randint(-(10 ** 20), 10 ** 20)).scaleb(-10),
            Decimal(rng.randint(-(10 ** 30), 10 ** 30)),
            rng.choice([True, False, None]),
        ))
    _check(_frame(spark, st, rows))


def test_string_and_binary_columns(spark):
    rng = random.Random(RNG_SEED)
    alphabet = ['a', 'Z', ' ', ',', '"', '\n', '\r', 'é', '中', 'x', '\\', "'"]
    st = T.StructType([
        T.StructField("s", T.StringType(), True),
        T.StructField("b", T.BinaryType(), True),
    ])
    rows = [("", b""), (None, None), ('"', b","), ("\r\n", b"\n"), ("nan", b"\x00"),
            ("NULL", b'"'), ("a,b", bytes(range(256)))]
    for _ in range(500):
        s = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 12)))
        b = bytes(rng.randrange(256) for _ in range(rng.randint(0, 12)))
        rows.append((s if rng.random() > 0.05 else None, b if rng.random() > 0.05 else None))
    _check(_frame(spark, st, rows))


def _instants(rng: random.Random, n: int) -> list[datetime]:
    """Random instants, every other one with microseconds, none in the
    second pass of a fall-back hour (that one is tested on its own)."""
    lo = datetime(1950, 1, 1, tzinfo=timezone.utc)
    out = []
    while len(out) < n:
        t = lo + timedelta(seconds=rng.randrange(100 * 365 * 86400))
        if len(out) % 2:
            t = t.replace(microsecond=rng.randrange(1, 1_000_000))
        if t.astimezone().replace(tzinfo=None).astimezone(timezone.utc) == t:
            out.append(t)
    return out


TEMPORALS = T.StructType([
    T.StructField("d", T.DateType(), True),
    T.StructField("ts", T.TimestampType(), True),
    T.StructField("ntz", T.TimestampNTZType(), True),
])
# 05:30 and 06:30 UTC on 2024-11-03 are both 01:30 in New York
FALL_BACK = [datetime(2024, 11, 3, h, 30, tzinfo=timezone.utc) for h in (5, 6)]


def test_date_and_timestamp_columns(spark):
    rng = random.Random(RNG_SEED)
    st = TEMPORALS
    rows = [
        (date(1, 1, 1), datetime(2024, 3, 10, 7, 30, tzinfo=timezone.utc),  # 03:30 EDT
         datetime(1, 1, 1)),
        (date(9999, 12, 31), datetime(2024, 1, 15, 11, 30, tzinfo=timezone.utc),
         datetime(9999, 12, 31, 23, 59, 59, 999999)),
        (None, None, None),
    ]
    for t in _instants(rng, 400):
        rows.append((t.date(), t, t.replace(tzinfo=None)))
    _check(_frame(spark, st, rows))
    # The fall-back hour encodes as collect() gives it; its round trip is
    # test_fall_back_hour_roundtrip.
    ambiguous = [(None, t, None) for t in FALL_BACK]
    encoded = _check(_frame(spark, st, ambiguous), roundtrip=False)
    assert encoded.splitlines()[1:] == [b",2024-11-03 01:30:00,"] * 2


@pytest.mark.xfail(
    strict=True,
    reason="the archive holds a TimestampType value as local wall-clock time "
    "without an offset, and the load reads 01:30 in the fall-back hour as its "
    "first pass: 06:30 UTC loads as 05:30 UTC, one hour early, without an error",
)
def test_fall_back_hour_roundtrip(spark):
    df = _frame(spark, TEMPORALS, [(None, t, None) for t in FALL_BACK])
    back = typed_table(parse_csv_bytes(rows_to_csv(df.toArrow())), TEMPORALS)
    assert back.column("ts").to_pylist() == FALL_BACK


def test_complex_columns(spark):
    rng = random.Random(RNG_SEED)
    inner = T.StructType([
        T.StructField("t", T.TimestampType(), True),
        T.StructField("x", T.FloatType(), True),
        T.StructField("s", T.StringType(), True),
        T.StructField("p", T.DecimalType(12, 4), True),
    ])
    st = T.StructType([
        T.StructField("ts_list", T.ArrayType(T.TimestampType()), True),
        T.StructField("flags", T.MapType(T.BooleanType(), T.LongType()), True),
        T.StructField("by_bytes", T.MapType(T.BinaryType(), T.TimestampType()), True),
        T.StructField("rec", inner, True),
        T.StructField("recs", T.ArrayType(inner), True),
        T.StructField("days", T.MapType(T.StringType(), T.ArrayType(T.DateType())), True),
    ])
    rows = [
        ([], {}, {}, (None, None, None, None), [], {}),
        (None, None, None, None, None, None),
        ([None], {True: None}, {b"": None}, (None, float("inf"), "", Decimal("0E-4")), [None],
         {"": [None]}),
    ]
    for _ in range(150):
        ts = _instants(rng, 3)
        rows.append((
            ts,
            {True: rng.randint(-5, 5), False: rng.randint(-5, 5)},
            {bytes([rng.randrange(256)]): t for t in ts},
            (ts[0], rng.uniform(-1e3, 1e3), rng.choice(['a,"b', "c\nd", "é"]),
             Decimal(rng.randint(-(10 ** 8), 10 ** 8)).scaleb(-4)),
            [(t, 0.1, "x", Decimal("1.2500")) for t in ts[: rng.randint(0, 3)]],
            {"k": [t.date() for t in ts], "m": []},
        ))
    _check(_frame(spark, st, rows))
