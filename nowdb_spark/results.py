"""Result objects mirroring the reference Python client's semantics
(pynow/now.py:178-628): every execute() returns a Result with
ok()/code()/details(); row-bearing results iterate and expose
field(i); cursors fetch lazily.

Wire kinds (types/types.h:107-117): STATUS, REPORT, ROW, CURSOR.
Here a cursor wraps an unexecuted DataFrame whose rows arrive as one
Arrow stream, a partition at a time (the moral equivalent of FETCH
paging on a server-side cursor id).
"""

from __future__ import annotations

import functools
from typing import Iterator, Optional

import pyarrow as pa

OK = 0

# numeric result kinds (reference types/types.h:109-112 NOWDB_STATUS
# 0x21 / REPORT 0x22 / ROW 0x23 / CURSOR 0x24; NOTHING 0 per
# lua/nowdb.lua:61)
NOTHING, STATUS, REPORT, ROW, CURSOR = 0, 0x21, 0x22, 0x23, 0x24
_KIND_CODES = {"status": STATUS, "report": REPORT,
               "row": ROW, "cursor": CURSOR}


class Result:
    kind = "status"

    def __init__(self, code: int = OK, details: str = "OK"):
        self._code = code
        self._details = details

    def resulttype(self) -> int:
        """Numeric result-kind code (lua r.resulttype() parity)."""
        return _KIND_CODES.get(self.kind, NOTHING)

    def errcode(self) -> int:
        return self._code

    def errdetails(self) -> str:
        return self._details

    def ok(self) -> bool:
        return self._code == OK

    def code(self) -> int:
        return self._code

    def details(self) -> str:
        return self._details

    # context-manager parity with pynow (with con.execute(...) as r:)
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.release()
        return False

    def release(self) -> None:
        pass


class StatusResult(Result):
    kind = "status"


class ErrorResult(Result):
    kind = "status"

    def __init__(self, code: int, details: str):
        super().__init__(code, details)


class ReportResult(Result):
    """LOAD reports: affected / errors / runtime (pynow report kind)."""
    kind = "report"

    def __init__(self, affected: int, errors: int = 0,
                 runtime_us: int = 0):
        super().__init__()
        self.affected = affected
        self.errors = errors
        self.runtime = runtime_us


class RowResult(Result):
    """A fully materialized row set (SHOW/DESC/select-only)."""
    kind = "row"

    def __init__(self, columns: list[str], rows: list[tuple],
                 batch=None):
        super().__init__()
        self.columns = columns
        self._rows = rows
        # the Arrow batch the rows were derived from (FETCH of a
        # cursor): the wire encodes it, so stamps keep their instant
        self.batch = batch
        self._cur = 0

    def __iter__(self) -> Iterator["RowResult"]:
        for i in range(len(self._rows)):
            self._cur = i
            yield self

    def row(self) -> Optional[tuple]:
        return self._rows[self._cur] if self._rows else None

    def field(self, i: int):
        return self._rows[self._cur][i]

    def count(self) -> int:
        return len(self._rows)


class CursorResult(Result):
    """Lazy cursor over a DataFrame (DQL results).

    The rows come from one Arrow stream: the JVM builds the record
    batches (`toArrowBatchRdd`) and serves them a partition at a time
    (`PythonRDD.toLocalIteratorAndServe`), so the Python side holds at
    most one partition, never the whole result. The wire encoder takes
    the batches as they are (`batch`/`advance`); `fetch(n)` and
    iteration derive row tuples from the same batches. Iterating
    yields the cursor itself positioned on each row — exactly how
    pynow's Result iterates.
    """
    kind = "cursor"

    def __init__(self, df, source_types: Optional[dict] = None):
        super().__init__()
        self.df = df
        self.columns = df.columns
        # DECLARED nowdb type of the source columns (bind time)
        self.source_types = source_types or {}
        self._row = None
        self._stream: Optional[_ArrowStream] = None
        self._head: list = []      # batches read but not yet consumed

    @functools.cached_property
    def hints(self) -> list:
        """Wire type hint per column, computed once per cursor:
        columns the engine DECLARED as time go out with the TIME type
        byte when they are physically int64 ns stamps; computed
        aliases fall back to physical inference."""
        from nowdb_spark.engine import _infer_nowdb_types
        t = _infer_nowdb_types(self.df)
        return [("time" if self.source_types.get(c) == "time"
                 and t.get(c) == "int" else t.get(c))
                for c in self.columns]

    def batch(self, n: int):
        """The next (up to) n rows as one Arrow record batch, without
        consuming them; an empty batch once the cursor is exhausted."""
        if self._stream is None:
            self._stream = _ArrowStream(self.df)
        have = sum(b.num_rows for b in self._head)
        while have < n:
            part = self._stream.next_partition()
            if part is None:
                break
            self._head += [b for b in part if b.num_rows]
            have += sum(b.num_rows for b in part)
        if not self._head:
            return pa.RecordBatch.from_pylist([], self._stream.schema)
        if len(self._head) == 1 or self._head[0].num_rows >= n:
            return self._head[0].slice(0, n)
        return (pa.Table.from_batches(self._head).slice(0, n)
                .combine_chunks().to_batches()[0])

    def advance(self, k: int) -> None:
        """Consume the first k rows of what `batch` returned."""
        while k:
            b = self._head[0]
            if b.num_rows > k:
                self._head[0] = b.slice(k)
                return
            k -= b.num_rows
            self._head.pop(0)

    def take(self, n: int):
        """The next (up to) n rows as one Arrow record batch, consumed."""
        rb = self.batch(n)
        self.advance(rb.num_rows)
        return rb

    def to_rows(self, rb) -> list[tuple]:
        """Row tuples of a batch, with the Python values a Spark
        collect gives (local naive datetimes, Decimal, list, dict...)."""
        from pyspark.sql.conversion import ArrowTableToRowsConversion
        return ArrowTableToRowsConversion.convert(
            pa.Table.from_batches([rb]), self.df.schema,
            return_as_tuples=True)

    def fetch(self, n: int = 1000) -> list[tuple]:
        """Fetch the next n rows as tuples (FETCH statement parity)."""
        return self.to_rows(self.take(n))

    def __iter__(self):
        self.release()
        while True:
            rows = self.fetch(4096)
            for row in rows:
                self._row = row
                yield self
            if not rows:
                return

    def row(self):
        return self._row

    def field(self, i: int):
        return self._row[i]

    def to_pandas(self):
        return self.df.toPandas()

    def release(self) -> None:
        """Stop the JVM-side iterator; the cursor can start over."""
        if self._stream is not None:
            self._stream.close()
        self._stream = None
        self._head = []


class _ArrowStream:
    """The Arrow record batches of one query, one partition per
    request: the JVM runs one job per partition as it is asked for,
    exactly like `toLocalIterator`."""

    def __init__(self, df):
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.util import _create_local_socket
        spark = df.sparkSession
        self.schema = to_arrow_schema(
            df.schema,
            prefers_large_types=spark._jconf.arrowUseLargeVarTypes())
        port, secret, self._server = \
            spark._jvm.PythonRDD.toLocalIteratorAndServe(
                df._jdf.toArrowBatchRdd(), False)
        self._sock = _create_local_socket((port, secret))

    def next_partition(self) -> Optional[list]:
        """The next partition's record batches; None at the end."""
        from pyspark.serializers import NoOpSerializer, read_int, write_int
        if self._sock is None:
            return None
        write_int(1, self._sock)
        self._sock.flush()
        status = read_int(self._sock)
        if status == 1:
            return [pa.ipc.read_record_batch(pa.py_buffer(b), self.schema)
                    for b in NoOpSerializer().load_stream(self._sock)]
        self._sock.close()
        self._sock = None
        if status == -1:
            self._server.getResult()   # raises the job's error
        return None

    def close(self) -> None:
        """Tell the JVM to stop serving (it is waiting for the next
        request) and drop the socket."""
        from pyspark.serializers import write_int
        if self._sock is None:
            return
        try:
            write_int(0, self._sock)
            self._sock.flush()
        except OSError:
            pass
        self._sock.close()
        self._sock = None
