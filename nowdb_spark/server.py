"""Network session layer — the Spark image of the reference's server
(ifc/nowdb.c: one session thread per connection, streaming statement
execution, server-side cursors driven by FETCH/CLOSE).

TWO protocols share the port, sniffed from the first bytes of each
connection:

1. The reference's BINARY wire protocol (types/types.h:107-117
   markers, ifc/nowdb.c sendOK/sendErr/sendReport/sendRow/sendCursor,
   framing in `nowdb_spark.wire`). A session opens with the 8-byte
   option string b"SQL(LE|BE|TX)(0|1)  " (nowdbclient.c
   sendSessionOpts) — the reference's own client library, and
   therefore its unmodified pynow/now.py, can connect, execute, and
   page cursors with "fetch <id>;"/"close <id>;" statements.
   tests/test_reference_client.py drives exactly that file against
   this server.

2. Newline-delimited JSON (anything not starting with "SQL") — the
   repo's own client.py/dbapi.py transport; same result kinds:

    → {"op": "execute", "sql": "..."}
    ← {"kind": "status", "ok": true, "code": 0, "details": "OK"}
    ← {"kind": "report", "ok": true, "affected": 10, "errors": 0}
    ← {"kind": "row", "ok": true, "columns": [...], "rows": [[...]]}
    ← {"kind": "cursor", "ok": true, "cursor": "3", "columns": [...]}
    → {"op": "fetch", "cursor": "3", "n": 100}
    ← {"kind": "row", "ok": true, "columns": [...], "rows": [[...]],
       "eof": false}
    → {"op": "close", "cursor": "3"}    → {"op": "bye"}

One Engine is shared across sessions (the SparkSession is one JVM);
cursor ids are engine-global like the reference's server-side cursor
registry. Statement execution is serialized with a lock — Spark job
submission itself is thread-safe, but catalog mutations are not.

A cursor's source is one Arrow stream that the JVM serves a partition
at a time, so the server holds at most one partition of a result. A
binary cursor frame is that stream's next `cursor_batch_rows` rows,
encoded column by column (`wire.encode_batch`); the JSON protocol and
FETCH statements get row tuples from the same batches. Cursors a
session leaves open are released when it disconnects.
"""

from __future__ import annotations

import json
import socket
import socketserver
import threading

from nowdb_spark.engine import Engine
from nowdb_spark.results import (
    CursorResult,
    ReportResult,
    Result,
    RowResult,
)


def _json_safe(v):
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    return str(v)


def _serialize(res: Result) -> dict:
    base = {"ok": res.ok(), "code": res.code(), "details": res.details()}
    if isinstance(res, CursorResult):
        return {"kind": "cursor", "cursor": getattr(res, "cursor_id", None),
                "columns": res.columns, **base}
    if isinstance(res, RowResult):
        return {"kind": "row", "columns": res.columns,
                "rows": [[_json_safe(v) for v in r] for r in res._rows],
                **base}
    if isinstance(res, ReportResult):
        return {"kind": "report", "affected": res.affected,
                "errors": res.errors, "runtime": res.runtime, **base}
    return {"kind": "status", **base}


class _Session(socketserver.StreamRequestHandler):
    def handle(self):  # one thread per session (reference parity)
        eng: Engine = self.server.engine
        lock: threading.Lock = self.server.exec_lock
        self._opened: list[str] = []   # open cursors this session made
        try:
            self._dispatch(eng, lock)
        finally:
            # cursors the client never closed die with its session
            if any(c in eng._cursors for c in self._opened):
                with lock:
                    for cid in self._opened:
                        eng.drop_cursor(cid)

    def _dispatch(self, eng: Engine, lock: threading.Lock) -> None:
        # sniff ONE byte: only a binary session can start with 'S'
        # (JSON requests are '{'-led lines); reading 3 up front
        # deadlocked any JSON client whose first line was < 3 bytes
        head = self.rfile.read(1)
        if not head:
            return
        if head == b"S":
            rest = self.rfile.read(2)
            if rest == b"QL":
                self._handle_binary(eng, lock)
                return
            head += rest
        self._pushback = head
        self._handle_json(eng, lock)

    def _execute(self, eng: Engine, sql: str) -> Result:
        res = eng.execute(sql)
        if isinstance(res, CursorResult):
            self._opened = [c for c in self._opened if c in eng._cursors]
            self._opened.append(res.cursor_id)
        return res

    # --- binary session (reference wire protocol) -------------------
    def _handle_binary(self, eng: Engine, lock: threading.Lock) -> None:
        from nowdb_spark import wire

        # rest of the 8-byte option string: (LE|BE|TX)(0|1)"  "
        # (ifc/nowdb.c negotiate). rtype is accepted but, like the
        # reference, not acted on — results are native little-endian.
        opt = self.rfile.read(5)
        if len(opt) < 5 or opt[:2] not in (b"LE", b"BE", b"TX") \
                or opt[2:3] not in b"01" or opt[3:] != b"  ":
            return  # protocol error: reference just drops the session
        if opt[2:3] == b"1":  # ack'd channel: echo opts, await ack
            self.wfile.write(b"SQL" + opt)
            self.wfile.flush()
            ack = self.rfile.read(2)
            if len(ack) < 2 or ack[1] != wire.ACK:
                return
        import re as _re
        import struct as _struct
        batch = self.server.cursor_batch_rows
        while True:
            szb = self.rfile.read(4)
            if len(szb) < 4:
                break
            sz = _struct.unpack("<i", szb)[0]
            if sz <= 0 or sz > wire.MAX_FRAME:
                break
            sql = self.rfile.read(sz).decode("utf-8", "replace")
            m = _re.match(r"\s*(fetch|close)\s+(\d+)\s*;?\s*$", sql,
                          _re.IGNORECASE)
            with lock:
                if m and m.group(1).lower() == "fetch":
                    self._bin_fetch(eng, m.group(2))
                    continue
                res = self._execute(eng, sql)
                if isinstance(res, CursorResult):
                    # openCursor semantics (ifc/nowdb.c:1206): first
                    # batch rides with the cursor frame; an empty
                    # cursor is a bare EOF and is closed server-side
                    try:
                        payload = self._encode_batch(res, batch)
                    except wire.RowTooBig as e:
                        eng.drop_cursor(res.cursor_id)
                        self._send_raw(wire.frame_err(1, str(e)))
                        continue
                    if payload is None:
                        eng.drop_cursor(res.cursor_id)
                        self._send_raw(wire.frame_eof())
                        continue
                    self._send_raw(wire.frame_cursor(
                        int(res.cursor_id), payload))
                elif isinstance(res, RowResult):
                    payload = (wire.encode_rows(res._rows)
                               if res.batch is None else
                               wire.encode_batch(res.batch, cap=None)[0])
                    self._send_raw(wire.frame_row(payload))
                elif isinstance(res, ReportResult):
                    self._send_raw(wire.frame_report(
                        res.affected, res.errors, res.runtime))
                elif res.ok():
                    self._send_raw(wire.frame_ok())
                else:
                    self._send_raw(wire.frame_err(res.code(),
                                                  res.details()))

    def _bin_fetch(self, eng: Engine, cid: str) -> None:
        from nowdb_spark import wire
        cur = eng._cursors.get(cid)
        if cur is None:
            self._send_raw(wire.frame_err(1, "not an open cursor"))
            return
        try:
            payload = self._encode_batch(
                cur, self.server.cursor_batch_rows)
        except wire.RowTooBig as e:
            eng.drop_cursor(cid)
            self._send_raw(wire.frame_err(1, str(e)))
            return
        if payload is None:
            self._send_raw(wire.frame_eof())
            return
        self._send_raw(wire.frame_cursor(int(cid), payload))

    def _encode_batch(self, cur: CursorResult, batch: int):
        """Encode the cursor's next `batch` rows, cut where the payload
        would pass 512 KiB (wire.CURSOR_CAP); rows past the cut stay
        on the cursor for the next fetch. None = cursor exhausted."""
        from nowdb_spark import wire
        payload, sent = wire.encode_batch(cur.batch(batch), cur.hints)
        if not sent:
            return None
        cur.advance(sent)
        return payload

    def _send_raw(self, frame: bytes) -> None:
        self.wfile.write(frame)
        self.wfile.flush()

    # --- JSON session ----------------------------------------------
    def _handle_json(self, eng: Engine, lock: threading.Lock) -> None:
        left = getattr(self, "_pushback", b"")
        while True:
            if b"\n" in left:
                nl = left.index(b"\n") + 1
                line, left = left[:nl], left[nl:]
            else:
                line, left = left + self.rfile.readline(), b""
            if not line:
                break
            try:
                req = json.loads(line)
            except json.JSONDecodeError:
                self._send({"kind": "status", "ok": False, "code": 1,
                            "details": "bad request"})
                continue
            op = req.get("op")
            if op == "bye":
                break
            if op == "execute":
                with lock:
                    res = self._execute(eng, req.get("sql", ""))
                self._send(_serialize(res))
            elif op == "fetch":
                with lock:
                    cur = eng._cursors.get(str(req.get("cursor")))
                    if cur is None:
                        self._send({"kind": "status", "ok": False,
                                    "code": 1, "details": "no such cursor"})
                        continue
                    n = int(req.get("n", 1000))
                    rows = cur.fetch(n)
                self._send({"kind": "row", "ok": True, "code": 0,
                            "details": "OK", "columns": cur.columns,
                            "rows": [[_json_safe(v) for v in r]
                                     for r in rows],
                            "eof": len(rows) < n})
            elif op == "close":
                with lock:
                    eng.execute(f"close {req.get('cursor')}")
                self._send({"kind": "status", "ok": True, "code": 0,
                            "details": "OK"})
            elif op == "auth":
                # pynow connects with (usr, pwd); the session layer
                # has no account store — acknowledge the handshake so
                # ported clients work unmodified (auth hook point)
                self._send({"kind": "status", "ok": True, "code": 0,
                            "details": "OK"})
            else:
                self._send({"kind": "status", "ok": False, "code": 1,
                            "details": f"unknown op {op!r}"})

    def _send(self, doc: dict) -> None:
        self.wfile.write((json.dumps(doc) + "\n").encode())
        self.wfile.flush()


class NowServer(socketserver.ThreadingTCPServer):
    allow_reuse_address = True
    daemon_threads = True

    def __init__(self, engine: Engine, host: str = "127.0.0.1",
                 port: int = 0, cursor_batch_rows: int = 4096):
        super().__init__((host, port), _Session)
        self.engine = engine
        self.exec_lock = threading.Lock()
        # rows per binary-cursor frame; the reference pages by buffer
        # fill (~1 MB), we page by row count — tests shrink it to
        # force the client's fetch loop
        self.cursor_batch_rows = cursor_batch_rows

    @property
    def address(self) -> tuple[str, int]:
        return self.server_address

    def serve_in_background(self) -> threading.Thread:
        t = threading.Thread(target=self.serve_forever, daemon=True)
        t.start()
        return t
