"""The binary protocol end to end, without the reference client: a
NowServer with a 7-row cursor page driven with `wire.send_stmt` and
`wire.read_frame` (first batch on the cursor frame, FETCH paging to
EOF, CLOSE, empty results, oversized rows, unknown ids, cursors left
open at disconnect, stamps under a non-UTC local zone)."""

from __future__ import annotations

import os
import socket
import time

import pytest

from nowdb_spark import wire
from nowdb_spark.engine import Engine
from nowdb_spark.server import NowServer

PAGE = 7


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    eng = Engine(spark, tmp_path_factory.mktemp("wire_wh"))
    for stmt in ("create scope w", "use w",
                 "create type p (k uint pk, name text, v float)",
                 "create type big (k uint pk, blob text)",
                 "create type many (k uint pk, v float)"):
        assert eng.execute(stmt).ok(), stmt
    eng.insert_rows("p", [(i, f"n{i}", i / 2) for i in range(1, 21)])
    eng.insert_rows("big", [(1, "x" * (wire.MAX_FRAME + 10))])
    eng.insert_rows("many", [(i, float(i)) for i in range(10_000)])
    srv = NowServer(eng, cursor_batch_rows=PAGE)
    srv.serve_in_background()
    yield eng, srv.address
    srv.shutdown()


def _connect(addr) -> socket.socket:
    s = socket.create_connection(addr, timeout=120)
    s.sendall(b"SQLLE0  ")
    return s


def _ask(s, sql: str) -> wire.Frame:
    wire.send_stmt(s, sql)
    return wire.read_frame(s)


def _wait_for(cond, timeout=30.0) -> bool:
    end = time.monotonic() + timeout
    while time.monotonic() < end:
        if cond():
            return True
        time.sleep(0.05)
    return cond()


def test_cursor_pages_to_eof_then_close(served):
    eng, addr = served
    with _connect(addr) as s:
        f = _ask(s, "select k, name, v from p order by k")
        assert f.rtype == wire.CURSOR and f.ok
        cid = f.curid
        rows = wire.decode_rows(f.payload)
        assert rows == [[i, f"n{i}", i / 2] for i in range(1, PAGE + 1)]
        pages = [len(rows)]
        while True:
            f = _ask(s, f"fetch {cid};")
            if f.eof:
                break
            assert f.rtype == wire.CURSOR and f.curid == cid
            page = wire.decode_rows(f.payload)
            pages.append(len(page))
            rows += page
        assert pages == [7, 7, 6]
        assert [r[0] for r in rows] == list(range(1, 21))
        assert str(cid) in eng._cursors        # EOF leaves it open
        f = _ask(s, f"close {cid};")
        assert f.rtype == wire.STATUS and f.ok
        assert str(cid) not in eng._cursors
        f = _ask(s, f"fetch {cid};")
        assert not f.ok and b"not an open cursor" in f.payload


def test_empty_result_is_bare_eof(served):
    eng, addr = served
    before = set(eng._cursors)
    with _connect(addr) as s:
        f = _ask(s, "select k from p where k > 1000")
        assert f.rtype == wire.STATUS and f.eof
        assert set(eng._cursors) == before


def test_row_too_big_is_an_error_frame(served):
    eng, addr = served
    before = set(eng._cursors)
    with _connect(addr) as s:
        f = _ask(s, "select k, blob from big")
        assert f.rtype == wire.STATUS and not f.ok and not f.eof
        assert b"row exceeds wire frame limit" in f.payload
        assert set(eng._cursors) == before
        # the session survives it
        f = _ask(s, "select k from p where k = 3")
        assert wire.decode_rows(f.payload) == [[3]]
        _ask(s, f"close {f.curid};")


def test_fetch_unknown_cursor(served):
    _, addr = served
    with _connect(addr) as s:
        f = _ask(s, "fetch 987654;")
        assert f.rtype == wire.STATUS and not f.ok
        assert b"not an open cursor" in f.payload


def test_disconnect_releases_open_cursors(served):
    """Cursors a session leaves open are released when it goes: none
    stays in the engine and the server keeps answering."""
    eng, addr = served
    before = set(eng._cursors)
    with _connect(addr) as s:
        for _ in range(20):
            f = _ask(s, "select k, v from many")
            assert f.rtype == wire.CURSOR
            f = _ask(s, f"fetch {f.curid};")
            assert len(wire.decode_rows(f.payload)) == PAGE
        assert len(set(eng._cursors) - before) == 20
    assert _wait_for(lambda: set(eng._cursors) == before)
    with _connect(addr) as s:
        f = _ask(s, "select count(*) from many")
        assert wire.decode_rows(f.payload) == [[10_000]]
        _ask(s, f"close {f.curid};")


@pytest.fixture
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


def test_timestamps_keep_utc_instant_in_non_utc_zone(served, spark,
                                                     new_york):
    """A TIMESTAMP column goes out as its UTC ns on cursor frames and
    on ROW frames (FETCH ... LIMIT), whatever the server's zone."""
    eng, addr = served
    eng.register_procedure("stamps", lambda _s: spark.range(10).selectExpr(
        "timestamp'2020-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id)"
        " as t"))
    want = [(1_577_836_800 + i) * 10**9 for i in range(10)]
    with _connect(addr) as s:
        f = _ask(s, "exec stamps();")
        assert f.rtype == wire.CURSOR
        assert f.payload[0] == wire.T_TIME
        assert [r[0] for r in wire.decode_rows(f.payload)] == want[:PAGE]
        f2 = _ask(s, f"fetch {f.curid} limit 3;")
        assert f2.rtype == wire.ROW
        assert [r[0] for r in wire.decode_rows(f2.payload)] == want[PAGE:]
        _ask(s, f"close {f.curid};")
