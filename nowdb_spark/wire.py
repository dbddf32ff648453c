"""The reference's binary wire protocol (server codec + client codec).

Frame layout (reference `src/nowdb/ifc/nowdb.c` sendOK/sendEOF/sendErr/
sendReport/sendRow/sendCursor, client `src/nowdbclient/nowdbclient.c`
readResult; marker bytes `src/nowdb/types/types.h:107-117`):

    handshake  client -> server: 8 bytes  b"SQL" + (LE|BE|TX) + (0|1) + b"  "
               with ack='1' the server echoes the 8 bytes and awaits a
               2-byte ack whose second byte is ACK (0x4f)
    request    [int32 LE size][sql utf-8 bytes]   (no NUL, no newline)
               cursor paging is plain SQL: "fetch <id>;" / "close <id>;"
    response   2 bytes [kind, ack] then kind-specific body:
      STATUS 0x21 ACK 0x4f                         -- ok, nothing follows
      STATUS 0x21 NOK 0x4e  [int16 err==8]         -- EOF, nothing follows
      STATUS 0x21 NOK 0x4e  [int16 err][int32 sz][details]
      REPORT 0x22 ACK       [u64 affected][u64 errors][u64 runtime_us]
      ROW    0x23 ACK       [int32 sz][payload]
      CURSOR 0x24 ACK       [u64 curid][int32 sz][payload]

Row payload: per field one type byte then the value --
    TEXT 1   NUL-terminated utf-8
    DATE 2 / TIME 3 / INT 5   int64 LE
    UINT 6   uint64 LE
    FLOAT 4  double LE
    BOOL 9   one byte
    NOTHING 0  one pad byte
each row terminated by EOR 0x0a.

All integers little-endian: the negotiated LE/BE/TX byte is stored by
the reference server but never consulted afterwards (ifc/nowdb.c keeps
`opt.rtype` write-only) -- every session gets native byte order, and
its client macro ships "SQLBE0  " on LE builds. We mirror that: accept
all three, always emit LE.
"""

from __future__ import annotations

import struct
from datetime import date, datetime, timedelta, timezone

import numpy as np
from numpy.lib.stride_tricks import as_strided

EOR = 0x0A
STATUS, REPORT, ROW, CURSOR = 0x21, 0x22, 0x23, 0x24
ACK, NOK = 0x4F, 0x4E
ERR_EOF = 8  # include/nowdb/errcode.h:17

T_NOTHING, T_TEXT, T_DATE, T_TIME, T_FLOAT, T_INT, T_UINT, T_BOOL = (
    0, 1, 2, 3, 4, 5, 6, 9)

# client receive buffer is 0x102000 with a 0x1000 guard
# (nowdbclient.c:43-44 readSize) -- never exceed it in one frame
MAX_FRAME = 0x102000 - 0x1000
# a cursor frame stops taking rows once its payload passes 512 KiB,
# well under the client's fixed 1 MB buffer (nowdbclient.c BUFSIZE)
CURSOR_CAP = 0x80000

_I32 = struct.Struct("<i")
_U64 = struct.Struct("<Q")
_I64 = struct.Struct("<q")
_F64 = struct.Struct("<d")

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
_US = timedelta(microseconds=1)


# --- value encoding ----------------------------------------------------

def encode_value(v, out: bytearray, hint: str | None = None) -> None:
    """Append one typed field. `hint` is the engine's nowdb type name
    for the column ('time'/'uint'/...) so int64-ns stamps go out as
    TIME and unsigned columns as UINT, like the reference projector."""
    if v is None:
        out.append(T_NOTHING)
        out.append(0)
    elif isinstance(v, bool):  # before int: bool is an int subclass
        out.append(T_BOOL)
        out.append(1 if v else 0)
    elif isinstance(v, int):
        if hint == "time":
            out.append(T_TIME)
        elif hint == "date":
            out.append(T_DATE)
        elif hint == "uint" and v >= 0:
            out.append(T_UINT)
            out += _U64.pack(v)
            return
        else:
            out.append(T_INT)
        out += _I64.pack(v)
    elif isinstance(v, float):
        out.append(T_FLOAT)
        out += _F64.pack(v)
    elif isinstance(v, str):
        out.append(T_TEXT)
        out += v.encode("utf-8") + b"\x00"
    elif isinstance(v, bytes):
        out.append(T_TEXT)
        out += v + b"\x00"
    elif isinstance(v, datetime):
        # engine timestamps that stayed native (TPC-H dates) -> TIME ns
        dt = v if v.tzinfo else v.replace(tzinfo=timezone.utc)
        # integer µs — total_seconds() is a float and silently loses
        # 1 µs on ~1% of post-2004 stamps (2^50-scale µs counts)
        ns = ((dt - _EPOCH) // _US) * 1000
        out.append(T_TIME)
        out += _I64.pack(ns)
    elif isinstance(v, date):
        days = (v - _EPOCH.date()).days
        out.append(T_DATE)
        out += _I64.pack(days * 86_400_000_000_000)
    else:
        # arrays/maps/decimals have no wire type in the reference --
        # ship their textual form rather than refuse the row
        out.append(T_TEXT)
        out += str(v).encode("utf-8") + b"\x00"


def encode_rows(rows, hints=None) -> bytes:
    out = bytearray()
    for r in rows:
        for i, v in enumerate(r):
            encode_value(v, out, hints[i] if hints else None)
        out.append(EOR)
    return bytes(out)


# --- column-wise batch encoding ----------------------------------------

class RowTooBig(ValueError):
    """A single encoded row exceeds the client's fixed frame buffer."""


_B8 = np.arange(8)
_DAY_NS = 86_400_000_000_000
_TS_NS = {"s": 1_000_000_000, "ms": 1_000_000, "us": 1000}


def encode_batch(rb, hints=None, cap: int | None = CURSOR_CAP
                 ) -> tuple[bytes, int]:
    """Encode the rows of an Arrow record batch one column at a time,
    byte-identical to `encode_rows` over the same values (encode_value
    is the specification).

    Rows stop at the first one that would take the payload past `cap`
    bytes (the first row always goes); returns (payload, rows encoded)
    and the caller keeps the rest for the next frame. A row the
    client's buffer cannot hold raises RowTooBig. `cap=None` encodes
    every row."""
    n = rb.num_rows
    if n == 0:
        return b"", 0
    cols = [_column(rb.column(j), hints[j] if hints else None)
            for j in range(rb.num_columns)]
    rowlen = sum((c[0] for c in cols), np.ones(n, np.int64))  # + EOR
    end = np.cumsum(rowlen)
    k = n
    if cap is not None:
        k = min(n, max(1, int(np.searchsorted(end, cap, side="right"))))
        # rows up to the first one left out are checked, as a
        # row-at-a-time encoder would meet them
        big = np.flatnonzero(rowlen[:k + 1] > MAX_FRAME - 16)
        if big.size:
            raise RowTooBig(f"row exceeds wire frame limit "
                            f"({int(rowlen[big[0]])} bytes)")
    # zeros: a null field (T_NOTHING, pad) and every text NUL are free
    out = np.zeros(int(end[k - 1]), np.uint8)
    out[end[:k] - 1] = EOR
    pos = end[:k] - rowlen[:k]
    for lens, write in cols:
        write(out, pos, k)
        pos = pos + lens[:k]
    return out.tobytes(), k


def _column(arr, hint):
    """(per-row field lengths, writer) for one Arrow column; the
    writer puts the first k fields at the byte offsets `pos`."""
    import pyarrow as pa
    import pyarrow.compute as pc

    t = arr.type
    n = len(arr)
    valid = (np.ones(n, bool) if arr.null_count == 0 else
             np.asarray(arr.is_valid().to_numpy(zero_copy_only=False),
                        bool))
    if pa.types.is_string(t) or pa.types.is_large_string(t) \
            or pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return _text(arr, valid)
    if pa.types.is_boolean(t):
        vals = np.asarray(pc.fill_null(arr, False)
                          .to_numpy(zero_copy_only=False), np.uint8)

        def write_bool(out, pos, k):
            p = pos[valid[:k]]
            out[p] = T_BOOL
            out[p + 1] = vals[:k][valid[:k]]
        return np.full(n, 2), write_bool
    if pa.types.is_integer(t) and t != pa.uint64():
        vals = pc.fill_null(arr, 0).to_numpy().astype("<i8")
        if hint == "uint":
            code = np.where(vals >= 0, T_UINT, T_INT).astype(np.uint8)
        else:
            code = {"time": T_TIME, "date": T_DATE}.get(hint, T_INT)
    elif pa.types.is_floating(t):
        vals = pc.fill_null(arr, 0).to_numpy().astype("<f8")
        code = T_FLOAT
    elif pa.types.is_timestamp(t) and t.unit in _TS_NS:
        # the UTC instant, whatever the server's local zone
        vals = _to_ns(pc.fill_null(arr.cast(pa.int64()), 0).to_numpy(),
                      _TS_NS[t.unit])
        code = T_TIME
    elif pa.types.is_date32(t):
        vals = _to_ns(pc.fill_null(arr.cast(pa.int32()), 0).to_numpy(),
                      _DAY_NS)
        code = T_DATE
    else:
        return _fallback(arr, hint)
    raw = vals.view(np.uint8).reshape(-1, 8)

    def write8(out, pos, k):
        v = valid[:k]
        step = np.diff(pos)
        if v.all() and k > 1 and (step == step[0]).all():
            # rows of one length: the fields form a strided (k, 9) view
            field = as_strided(out[pos[0]:], (k, 9), (int(step[0]), 1))
            field[:, 0] = code if np.ndim(code) == 0 else code[:k]
            field[:, 1:] = raw[:k]
            return
        p = pos[v]
        out[p] = code if np.ndim(code) == 0 else code[:k][v]
        out[(p + 1)[:, None] + _B8] = raw[:k][v]
    return np.where(valid, 9, 2), write8


def _to_ns(counts, unit_ns: int):
    """int64 ns from counts of `unit_ns`; like encode_value, refuse
    what int64 ns cannot hold (before 1677 or after 2262)."""
    counts = counts.astype("<i8")
    if counts.size and np.abs(counts).max() > (2**63 - 1) // unit_ns:
        raise OverflowError("stamp outside the int64 ns range")
    return counts * unit_ns


def _text(arr, valid):
    """TEXT fields straight from the Arrow offsets and data buffers."""
    import pyarrow as pa

    n = len(arr)
    _, offsets, data = arr.buffers()
    wide = pa.types.is_large_string(arr.type) \
        or pa.types.is_large_binary(arr.type)
    off = np.frombuffer(offsets, np.int64 if wide else np.int32)[
        arr.offset:arr.offset + n + 1].astype(np.int64)
    data = np.frombuffer(data or b"", np.uint8)
    size = np.where(valid, np.diff(off), 0)

    def write_text(out, pos, k):
        v = valid[:k]
        p = pos[v]
        out[p] = T_TEXT
        sz = size[:k][v]
        total = int(sz.sum())
        if total:
            # byte i of a field sits at its start + i on both sides
            i = np.arange(total) - np.repeat(np.cumsum(sz) - sz, sz)
            out[np.repeat(p + 1, sz) + i] = data[np.repeat(off[:k][v], sz)
                                                 + i]
    return np.where(valid, size + 2, 2), write_text


def _fallback(arr, hint):
    """Columns with no wire type (decimal, array, map, struct, ...):
    the Python values the rows of a Spark cursor carry, each through
    encode_value."""
    import pyarrow as pa
    from pyspark.sql.conversion import ArrowTableToRowsConversion
    from pyspark.sql.pandas.types import from_arrow_type
    from pyspark.sql.types import StructField, StructType

    schema = StructType([StructField("v", from_arrow_type(arr.type))])
    rows = ArrowTableToRowsConversion.convert(
        pa.table({"v": arr}), schema, return_as_tuples=True)
    fields = []
    for (v,) in rows:
        b = bytearray()
        encode_value(v, b, hint)
        fields.append(np.frombuffer(bytes(b), np.uint8))

    def write_values(out, pos, k):
        for p, f in zip(pos.tolist(), fields[:k]):
            out[p:p + len(f)] = f
    return np.array([len(f) for f in fields], np.int64), write_values


# --- server frames -----------------------------------------------------

def frame_ok() -> bytes:
    return bytes((STATUS, ACK))


def frame_eof() -> bytes:
    return bytes((STATUS, NOK)) + struct.pack("<h", ERR_EOF)


def frame_err(code: int, details: str) -> bytes:
    d = details.encode("utf-8", "replace")[: MAX_FRAME - 1]
    code = code if 0 < code < 32768 else 74  # usrerr fallback
    return (bytes((STATUS, NOK)) + struct.pack("<h", code)
            + _I32.pack(len(d)) + d)


def frame_report(affected: int, errors: int, runtime_us: int) -> bytes:
    return (bytes((REPORT, ACK))
            + _U64.pack(affected) + _U64.pack(errors)
            + _U64.pack(runtime_us))


def frame_row(payload: bytes) -> bytes:
    return bytes((ROW, ACK)) + _I32.pack(len(payload)) + payload


def frame_cursor(curid: int, payload: bytes) -> bytes:
    return (bytes((CURSOR, ACK)) + _U64.pack(curid)
            + _I32.pack(len(payload)) + payload)


# --- client-side reader ------------------------------------------------

def read_exact(sock, n: int) -> bytes:
    buf = bytearray()
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("socket closed mid-frame")
        buf += chunk
    return bytes(buf)


class Frame:
    __slots__ = ("rtype", "status", "err", "curid", "payload",
                 "affected", "errors", "runtime")

    def __init__(self):
        self.rtype = 0
        self.status = -1
        self.err = 0
        self.curid = 0
        self.payload = b""
        self.affected = self.errors = self.runtime = 0

    @property
    def ok(self) -> bool:
        return self.status == 0

    @property
    def eof(self) -> bool:
        return self.status != 0 and self.err == ERR_EOF


def read_frame(sock) -> Frame:
    """Client-side readResult (nowdbclient.c:260-325), shared by the
    pure-python client and the libnowdbclient ABI shim."""
    f = Frame()
    hdr = read_exact(sock, 2)
    f.rtype = hdr[0]
    if hdr[1] == ACK:
        f.status = 0
        if f.rtype == STATUS:
            return f
    elif f.rtype == STATUS:
        if hdr[1] != NOK:
            raise ConnectionError("protocol error: bad status byte")
        f.err = struct.unpack("<h", read_exact(sock, 2))[0]
        if f.err == ERR_EOF:
            return f
    if f.rtype == REPORT:
        body = read_exact(sock, 24)
        f.affected, f.errors, f.runtime = struct.unpack("<QQQ", body)
        return f
    if f.rtype == CURSOR:
        f.curid = _U64.unpack(read_exact(sock, 8))[0]
    sz = _I32.unpack(read_exact(sock, 4))[0]
    if sz > MAX_FRAME:
        raise ConnectionError(f"frame too big: {sz}")
    f.payload = read_exact(sock, sz) if sz > 0 else b""
    return f


def send_stmt(sock, sql: str) -> None:
    b = sql.encode("utf-8")
    sock.sendall(_I32.pack(len(b)) + b)


# --- payload decoding (client side / tests) ----------------------------

def decode_rows(payload: bytes) -> list[list]:
    """Decode a row payload into python values (typedField parity:
    TIME/DATE/INT all come back as int64)."""
    rows, row, i, n = [], [], 0, len(payload)
    while i < n:
        t = payload[i]
        i += 1
        if t == EOR:
            rows.append(row)
            row = []
        elif t == T_TEXT:
            j = payload.index(0, i)
            row.append(payload[i:j].decode("utf-8"))
            i = j + 1
        elif t in (T_DATE, T_TIME, T_INT):
            row.append(_I64.unpack_from(payload, i)[0])
            i += 8
        elif t == T_UINT:
            row.append(_U64.unpack_from(payload, i)[0])
            i += 8
        elif t == T_FLOAT:
            row.append(_F64.unpack_from(payload, i)[0])
            i += 8
        elif t == T_BOOL:
            row.append(payload[i] != 0)
            i += 1
        elif t == T_NOTHING:
            row.append(None)
            i += 1
        else:
            raise ValueError(f"bad field type byte {t} at {i - 1}")
    return rows
