"""The column-wise cursor encoder (`wire.encode_batch`) against the
value-at-a-time specification (`wire.encode_rows` / `encode_value`):
byte-identical payloads for every wire type, nulls everywhere, and the
same 512 KiB page cut and oversized-row error."""

from __future__ import annotations

import os
import random
import time
from datetime import date, datetime, timedelta, timezone
from decimal import Decimal

import pyarrow as pa
import pytest
from pyspark.sql import types as T

from nowdb_spark import wire
from nowdb_spark.results import CursorResult


def _page(rows, hints):
    """A cursor page as a row-at-a-time encoder cuts it: stop before
    the row that takes the payload past the cap (the first row always
    goes); a row the client cannot buffer is an error."""
    out, sent = bytearray(), 0
    for r in rows:
        n0 = len(out)
        for i, v in enumerate(r):
            wire.encode_value(v, out, hints[i])
        out.append(wire.EOR)
        if len(out) - n0 > wire.MAX_FRAME - 16:
            raise wire.RowTooBig(len(out) - n0)
        if len(out) > wire.CURSOR_CAP and sent > 0:
            del out[n0:]
            break
        sent += 1
    return bytes(out), sent


SCHEMA = T.StructType([
    T.StructField("big", T.LongType()),
    T.StructField("ubig", T.LongType()),
    T.StructField("stamp", T.LongType()),
    T.StructField("small", T.IntegerType()),
    T.StructField("dbl", T.DoubleType()),
    T.StructField("flt", T.FloatType()),
    T.StructField("txt", T.StringType()),
    T.StructField("flag", T.BooleanType()),
    T.StructField("day", T.DateType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("dec", T.DecimalType(12, 3)),
    T.StructField("arr", T.ArrayType(T.LongType())),
    T.StructField("mp", T.MapType(T.StringType(), T.DoubleType())),
    T.StructField("bin", T.BinaryType()),
])
HINTS = ["int", "uint", "time", "int", "float", "float", "text", "bool",
         None, None, "int", "int", "int", None]


def _spark_rows():
    big = [0, 1, -1, 2**63 - 1, -2**63, 123456789012]
    dbl = [0.0, -0.0, float("nan"), float("inf"), -float("inf"), 1e-300]
    txt = ["", "plain", "héllo wörld ✓", "日本語", "tab\tand\nnewline", "x"]
    rows = []
    for i in range(len(big)):
        rows.append((
            big[i], big[(i + 1) % 6], 1_600_000_000_123_456_789 + i,
            -7 * i, dbl[i], float(i) / 4, txt[i], i % 2 == 0,
            date(1969, 12, 31) + timedelta(days=400 * i),
            datetime(2020, 2, 29, 23, 59, 59, 999_999) + timedelta(days=i),
            Decimal("-12.345") * i, [i, -i], {"k": i / 3}, b"\x01a" * i))
    rows.append((None,) * len(SCHEMA.fields))
    return rows


@pytest.fixture
def utc():
    """Collected TIMESTAMPs are local naive datetimes, which
    encode_value reads as UTC: the two agree only in a UTC zone."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = "UTC"
    time.tzset()
    yield
    if old is None:
        del os.environ["TZ"]
    else:
        os.environ["TZ"] = old
    time.tzset()


def test_spark_cursor_batches_encode_like_encode_rows(spark, utc):
    """Every column type a cursor carries, nulls in every column, NaN,
    -0.0, ±inf, negative values under a uint hint: the Arrow batch the
    cursor serves encodes to exactly the bytes `encode_rows` gives for
    the rows Spark collects."""
    df = spark.createDataFrame(_spark_rows(), SCHEMA)
    want = [tuple(r) for r in df.collect()]
    cur = CursorResult(df)
    rb = cur.take(100)
    assert cur.take(100).num_rows == 0
    cur.release()
    got = cur.to_rows(rb)
    # the two reads come in the same partition order
    assert [repr(r) for r in got] == [repr(r) for r in want]
    payload, n = wire.encode_batch(rb, HINTS)
    assert n == len(want)
    assert payload == wire.encode_rows(want, HINTS)
    for k in range(1, len(want)):     # slices start mid-buffer
        sl = rb.slice(k, 3)
        assert (wire.encode_batch(sl, HINTS)[0]
                == wire.encode_rows(want[k:k + 3], HINTS))
    # no hints at all (ROW frames)
    assert wire.encode_batch(rb, None, cap=None)[0] == \
        wire.encode_rows(want)


def _random_batch(rng: random.Random, n: int):
    def maybe(v):
        return None if rng.random() < 0.15 else v
    epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)
    cols = {
        "i": [maybe(rng.randint(-2**63, 2**63 - 1)) for _ in range(n)],
        "u": [maybe(rng.randint(-5, 5)) for _ in range(n)],
        "f": [maybe(rng.choice([float("nan"), -0.0, float("inf"),
                                -float("inf"), rng.uniform(-1e9, 1e9)]))
              for _ in range(n)],
        "s": [maybe("".join(rng.choice("aé✓\x7f ") for _ in
                            range(rng.randint(0, 12)))) for _ in range(n)],
        "b": [maybe(rng.random() < 0.5) for _ in range(n)],
        "d": [maybe(date.fromordinal(rng.randint(640_000, 800_000)))
              for _ in range(n)],
        "t": [maybe(epoch + timedelta(microseconds=rng.randint(
            -2**50, 2**52))) for _ in range(n)],
        "y": [maybe(bytes(rng.randrange(1, 256) for _ in
                          range(rng.randint(0, 6)))) for _ in range(n)],
    }
    return pa.RecordBatch.from_pydict(cols), list(zip(*cols.values()))


@pytest.mark.parametrize("seed", range(5))
def test_random_batches_encode_like_encode_rows(seed):
    rng = random.Random(seed)
    rb, rows = _random_batch(rng, 400)
    hints = [rng.choice(["int", "uint", "time", None]), "uint", "float",
             "text", "bool", None, None, None]
    assert wire.encode_batch(rb, hints, cap=None)[0] == \
        wire.encode_rows(rows, hints)
    lo = rng.randrange(400)
    sl = rb.slice(lo, rng.randrange(1, 50))
    assert wire.encode_batch(sl, hints)[0] == \
        wire.encode_rows(rows[lo:lo + sl.num_rows], hints)


@pytest.mark.parametrize("width", [40_000, 100_000, 300_000, 600_000])
def test_page_cut_at_the_same_row(width):
    """A batch that crosses the 512 KiB cap is cut at the same row as
    the row-at-a-time encoder (a first row over the cap goes alone)."""
    rng = random.Random(width)
    rows = [(i, "y" * rng.randint(width // 2, width), None)
            for i in range(30)]
    rb = pa.RecordBatch.from_pylist(
        [dict(zip("abc", r)) for r in rows],
        pa.schema([("a", pa.int64()), ("b", pa.string()),
                   ("c", pa.float64())]))
    hints = ["int", "text", "float"]
    while rows:
        want, n = _page(rows, hints)
        got, m = wire.encode_batch(rb, hints)
        assert (m, got) == (n, want)
        assert 0 < m and len(got) <= max(wire.CURSOR_CAP, len(
            wire.encode_rows(rows[:1], hints)))
        rows, rb = rows[m:], rb.slice(m)


def test_row_too_big_raised_where_the_cut_meets_it():
    ok = "x" * 1000
    huge = "y" * (wire.MAX_FRAME + 1)
    schema = pa.schema([("s", pa.string())])
    rb = pa.RecordBatch.from_pylist([{"s": ok}, {"s": huge}], schema)
    with pytest.raises(wire.RowTooBig, match="row exceeds wire frame"):
        wire.encode_batch(rb, ["text"])
    with pytest.raises(wire.RowTooBig):
        _page([(ok,), (huge,)], ["text"])
    # past the cut it waits for its own page
    rows = [("z" * 300_000,), ("z" * 300_000,), (huge,)]
    rb = pa.RecordBatch.from_pylist([{"s": r[0]} for r in rows], schema)
    assert wire.encode_batch(rb, ["text"])[1] == _page(rows, ["text"])[1] == 1


def test_stamps_outside_int64_ns_are_refused():
    for v in (date(1600, 1, 1), datetime(2300, 1, 1, tzinfo=timezone.utc)):
        with pytest.raises(Exception):
            wire.encode_value(v, bytearray())
        with pytest.raises(OverflowError):
            wire.encode_batch(pa.RecordBatch.from_pylist([{"v": v}]))
