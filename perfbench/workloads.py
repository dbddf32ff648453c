"""Load generator: protocol sessions and the three workloads.

Every workload is a set of sessions; a session runs *units* (one
statement, one drain, one ingest cycle) in a closed loop and appends
one sample per statement to its `samples` list. `drive` runs units
until the measured time is over; with tracing on it alternates traced
and untraced blocks, so the traced run also yields the tracing
overhead. Answers are checked against the generated data after the
run (`check`), so the oracle adds no time to the statements.
"""

from __future__ import annotations

import random
import socket
import threading
import time
from pathlib import Path

import numpy as np

from datagen import (DAY, EDGE_COLS, RowChecksum, Retail, iso,
                     write_edges_csv)
from nowdb_spark import wire
from nowdb_spark.client import connect

now = time.perf_counter


class StatementError(RuntimeError):
    """The server answered a statement with an error."""


def sample(kind, t_first, t_total, rows, traced, **extra) -> dict:
    return {"kind": kind, "first": t_first, "total": t_total, "rows": rows,
            "traced": traced, "ok": True, "decode": 0.0, **extra}


class BinarySession:
    """One connection on the binary protocol (nowdb_spark.wire
    framing; cursors paged with FETCH and closed with CLOSE, as the
    reference client's nowdb_cursor_fetch/nowdb_cursor_close do)."""

    def __init__(self, port: int):
        self.sock = socket.create_connection(("127.0.0.1", port))
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.sock.sendall(b"SQLLE0  ")

    def request(self, sql: str) -> wire.Frame:
        wire.send_stmt(self.sock, sql)
        return wire.read_frame(self.sock)

    def query(self, sql: str, sink) -> tuple:
        """Run a select and page it to EOF; each decoded frame goes to
        `sink`. Returns (first-frame s, complete s, decode s)."""
        t0 = now()
        f = self.request(sql)
        t_first = now() - t0
        decode = 0.0
        if f.rtype == wire.CURSOR:
            cid = f.curid
            while f.rtype == wire.CURSOR:
                td = now()
                rows = wire.decode_rows(f.payload)
                decode += now() - td
                sink(rows)
                f = self.request(f"fetch {cid};")
            self._expect_eof(f)
            c = self.request(f"close {cid};")
            if not c.ok:
                raise StatementError(c.payload.decode("utf-8", "replace"))
        else:
            self._expect_eof(f)
        return t_first, now() - t0, decode

    @staticmethod
    def _expect_eof(f: wire.Frame) -> None:
        if not f.eof:
            raise StatementError(
                f.payload.decode("utf-8", "replace") or f"frame {f.rtype}")

    def execute(self, sql: str) -> None:
        f = self.request(sql)
        if not f.ok:
            raise StatementError(f.payload.decode("utf-8", "replace"))

    def close(self) -> None:
        self.sock.close()


def drive(sessions: list, seconds: float, set_trace=None,
          block_s: float = 0.0) -> float:
    """Run every session's units until `seconds` have passed; returns
    the measured wall time. Each session runs at least one unit. With
    `set_trace`, alternate untraced and traced blocks of `block_s`
    seconds (at least one unit per session each, and at least one block
    of each kind), switching only while no statement is in flight."""
    t_start = now()
    deadline = t_start + seconds
    traced = False
    blocks = 0
    while (now() < deadline or blocks < 1
           or (set_trace is not None and blocks < 2)):
        blocks += 1
        if set_trace is not None:
            set_trace(traced)
            end = min(deadline, now() + block_s)
        else:
            end = deadline
        _run_block(sessions, end, traced)
        traced = set_trace is not None and not traced
    return now() - t_start


def _run_block(sessions: list, end: float, traced: bool) -> None:
    def loop(s):
        while True:
            s.unit(traced)
            if now() >= end:
                break
    if len(sessions) == 1:
        loop(sessions[0])
        return
    errors = []

    def guarded(s):
        try:
            loop(s)
        except BaseException as e:  # noqa: BLE001 - re-raised below
            errors.append(e)
    threads = [threading.Thread(target=guarded, args=(s,))
               for s in sessions]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def _failed(samples: list, kind: str, err: Exception, traced: bool):
    s = sample(kind, 0.0, 0.0, 0, traced, error=str(err)[:200])
    s["ok"] = False
    samples.append(s)


# --- point_read ------------------------------------------------------

# edges per (origin, day) an edge lookup asks for: a fixed result size
# keeps rows per statement the same in every run
LOOKUP_EDGES = 2


class PointSession:
    """Alternates a vertex lookup by primary key (product and client in
    turn) with one origin's edges over one day (period pruning
    applies). Sessions start at different points of the cycle, so the
    lock queue always holds both kinds."""

    def __init__(self, port: int, scope: str, data: Retail, seed: int,
                 phase: int, pairs: tuple):
        self.bin = BinarySession(port)
        self.bin.execute(f"use {scope}")
        self.data = data
        self.pairs = pairs
        self.rng = random.Random(seed)
        self.i = phase
        self.samples: list = []

    def unit(self, traced: bool) -> None:
        d, rng = self.data, self.rng
        step = self.i % 4
        self.i += 1
        if step == 0:
            k = rng.randint(1, len(d.prod_key))
            sql = ("select prod_key, prod_desc, prod_price from product "
                   f"where prod_key = {k}")
            check = ("product", k)
        elif step == 2:
            k = rng.randint(1, len(d.client_key))
            sql = ("select client_key, client_name from client "
                   f"where client_key = {k}")
            check = ("client", k)
        else:
            i = rng.randrange(len(self.pairs[0]))
            o, lo = int(self.pairs[0][i]), int(self.pairs[1][i])
            sql = (f"select {EDGE_COLS} from buys where origin = {o} "
                   f"and stamp >= '{iso(lo)}' and stamp < '{iso(lo + DAY)}'")
            check = ("edges", o, lo)
        got: list = []
        try:
            first, total, dec = self.bin.query(sql, got.extend)
        except (StatementError, ConnectionError, OSError) as e:
            _failed(self.samples, "lookup", e, traced)
            return
        self.samples.append(sample("lookup", first, total, len(got), traced,
                                   decode=dec, check=check, got=got))

    def check(self, s: dict) -> bool:
        c, d = s["check"], self.data
        got = [tuple(r) for r in s["got"]]
        if c[0] == "product":
            return got == [d.product_row(c[1])]
        if c[0] == "client":
            return got == [d.client_row(c[1])]
        return sorted(got) == d.edges_of(c[1], c[2], c[2] + DAY)


# --- cursor_drain ----------------------------------------------------

# window length in days, out of 60: ~200k of the 500k edge rows. One
# size for every drain keeps the first-frame samples alike.
DRAIN_DAYS = 24


class DrainSession:
    """Selects of DRAIN_DAYS of edges, paged to EOF and closed."""

    def __init__(self, port: int, scope: str, data: Retail, seed: int):
        self.bin = BinarySession(port)
        self.bin.execute(f"use {scope}")
        self.data = data
        self.rng = random.Random(seed)
        self.samples: list = []

    def unit(self, traced: bool) -> None:
        d = self.data
        days = max(1, DRAIN_DAYS * d.days // 60)
        start = self.rng.randint(0, d.days - days)
        lo = int(d.t_end) - (d.days - start) * DAY
        hi = lo + days * DAY
        sql = (f"select {EDGE_COLS} from buys where stamp >= '{iso(lo)}' "
               f"and stamp < '{iso(hi)}'")
        acc = RowChecksum()
        try:
            first, total, dec = self.bin.query(sql, acc.add)
        except (StatementError, ConnectionError, OSError) as e:
            _failed(self.samples, "drain", e, traced)
            return
        self.samples.append(sample("drain", first, total, acc.n, traced,
                                   decode=dec, check=(lo, hi),
                                   got=acc.value()))

    def check(self, s: dict) -> bool:
        lo, hi = s["check"]
        return s["got"] == self.data.window_checksum(lo, hi)


# --- ingest_mix ------------------------------------------------------

INSERT_ROWS = 10
LOAD_EVERY = 3          # insert+read cycles per LOAD
CYCLE_NS = 60 * 1_000_000_000


class IngestSession:
    """JSON protocol. A cycle inserts a small multi-row VALUES batch
    stamped at the feed's clock ("now"), then reads an aggregate over
    the most recent day (read-your-writes); after every LOAD_EVERY
    cycles it LOADs a generated CSV batch of recent edges. Origins favour a
    small hot set, as recent keys do in a time-series feed."""

    def __init__(self, port: int, scope: str, data: Retail, seed: int,
                 batch_dir: Path, load_rows: int, count_files=None):
        self.con = connect("127.0.0.1", port)
        self.con.rexecute(f"use {scope}")
        self.data = data
        self.rng = np.random.default_rng([seed, 7])
        self.hot = self.rng.integers(1, len(data.client_key) + 1, 64)
        self.clock = int(data.t_end)
        self.loads = 0
        self.batch_dir = batch_dir
        self.load_rows = load_rows
        self.count_files = count_files
        self.extra: list = []       # (seq, arrays, csv) written so far
        self.seq = 0                # statements issued, orders the oracle
        self.samples: list = []

    def _edges(self, n: int, lo: int, hi: int) -> tuple:
        rng, d = self.rng, self.data
        hot = rng.random(n) < 0.8
        origin = np.where(hot, rng.choice(self.hot, n),
                          rng.integers(1, len(d.client_key) + 1, n))
        return (origin, rng.integers(1, len(d.prod_key) + 1, n),
                np.sort(rng.integers(lo, hi, n)), rng.integers(1, 10, n),
                np.round(rng.uniform(1.0, 50.0, n), 2))

    def unit(self, traced: bool) -> None:
        """LOAD_EVERY cycles, then one LOAD: every unit writes the same
        rows, so rates over whole units do not depend on where the
        measured time ends."""
        for _ in range(LOAD_EVERY):
            self.clock += CYCLE_NS
            rows = self._edges(INSERT_ROWS, self.clock - CYCLE_NS,
                               self.clock)
            values = ", ".join(f"({o}, {d}, {s}, {q}, {p!r})"
                               for o, d, s, q, p
                               in zip(*(a.tolist() for a in rows)))
            self._write("insert", rows, traced,
                        f"insert into buys ({EDGE_COLS}) values {values}")
            self._read(traced)
        self.loads += 1
        rows = self._edges(self.load_rows, self.clock - 3600 * 10**9,
                           self.clock)
        path = self.batch_dir / f"batch{self.loads}.csv"
        write_edges_csv(path, *rows)
        self._write("load", rows, traced, f"load '{path}' into buys",
                    path=str(path))

    def _write(self, kind: str, rows: tuple, traced: bool, sql: str,
               path: str | None = None) -> None:
        before = self.count_files() if self.count_files else 0
        t0 = now()
        try:
            r = self.con.execute(sql)
        except (OSError, ValueError) as e:
            _failed(self.samples, kind, e, traced)
            return
        t = now() - t0
        n = len(rows[0])
        if not r.ok() or r.affected != n or r.errors:
            _failed(self.samples, kind, StatementError(
                f"{r.details()} affected={r.affected}"), traced)
            return
        files = self.count_files() - before if self.count_files else 0
        self.seq += 1
        self.extra.append((self.seq, rows, path))
        self.samples.append(sample(kind, t, t, n, traced, files=files))

    def _read(self, traced: bool) -> None:
        lo = self.clock - DAY
        sql = ("select count(*), sum(quantity), sum(price) from buys "
               f"where stamp >= '{iso(lo)}'")
        got = []
        t0 = now()
        t_first = None
        try:
            r = self.con.execute(sql)
            if not r.ok():
                raise StatementError(r.details())
            with r:
                for row in r:
                    t_first = t_first or now() - t0
                    got.append(list(row.row()))
        except (StatementError, OSError, ValueError) as e:
            _failed(self.samples, "read", e, traced)
            return
        self.seq += 1
        self.samples.append(sample("read", t_first or now() - t0,
                                   now() - t0, len(got), traced,
                                   check=(lo, self.seq), got=got))

    def oracle(self):
        """DuckDB over the generated rows plus the inserted and loaded
        ones; every written batch carries the statement number it was
        written at, so each read sees exactly what preceded it."""
        import duckdb
        import pandas as pd
        d = self.data
        con = duckdb.connect()
        con.register("base", pd.DataFrame({
            "origin": d.origin, "destin": d.destin, "stamp": d.stamp,
            "quantity": d.quantity, "price": d.price}))
        con.execute("create table buys as select *, -1 as seq from base")
        cols = ("{'origin': 'BIGINT', 'destin': 'BIGINT', "
                "'stamp': 'BIGINT', 'quantity': 'BIGINT', "
                "'price': 'DOUBLE'}")
        for seq, rows, path in self.extra:
            if path is not None:
                con.execute(f"insert into buys select *, {seq} from "
                            f"read_csv('{path}', delim=';', header=false, "
                            f"columns={cols})")
            else:
                con.executemany(
                    "insert into buys values (?, ?, ?, ?, ?, ?)",
                    [(*r, seq) for r in zip(*(a.tolist() for a in rows))])
        return con

    def check_all(self, samples: list, final_count: int) -> bool:
        """Checks every read in `samples`, marking wrong ones failed;
        returns whether the final count(*) is right."""
        con = self.oracle()
        for s in samples:
            if s["kind"] != "read" or not s["ok"]:
                continue
            lo, seq = s["check"]
            n, q, p = con.execute(
                "select count(*), sum(quantity), sum(price) from buys "
                "where stamp >= ? and seq < ?", [lo, seq]).fetchone()
            got = s["got"][0] if len(s["got"]) == 1 else [None] * 3
            if not (got[0] == n and got[1] == q and got[2] is not None
                    and abs(got[2] - p) <= 1e-9 * max(1.0, abs(p))):
                s["ok"] = False
                s["error"] = f"got {got}, expected {[n, q, p]}"
        want = con.execute("select count(*) from buys").fetchone()[0]
        written = sum(len(rows[0]) for _, rows, _ in self.extra)
        return final_count == want == len(self.data.origin) + written
