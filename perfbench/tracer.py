"""Per-statement spans for the traced server run.

`Tracer.install` wraps the public entry points of the engine's modules
(server, wire, engine, sql, catalog, sources, results) and the py4j
gateway, from outside: no code under nowdb_spark/ changes. Spans are
kept in memory and handed out by `dump()` at the end of the run.

A span is `[id, root, parent, name, t0, t1, py4j, attrs]`. Every span
of one server request shares the request's root span
(`server.request`); the root carries the statement id that the request
belongs to (an execute opens a statement; the FETCH and CLOSE requests
of its cursor join it) and the Spark job group set for the request.
Spans are recorded only while tracing is enabled and only inside a
request, so set-up and untraced blocks leave nothing behind.
"""

from __future__ import annotations

import functools
import itertools
import re
import threading
import time

_CLOSE = re.compile(r"\s*close\s+(\d+)\s*;?\s*$", re.IGNORECASE)
_now = time.perf_counter


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list = []
        self.roots: dict = {}          # root span id -> request record
        self.cursor_stmt: dict = {}    # cursor id -> statement id
        # catalog time is counted even when disabled: it is spent in
        # set-up, before any traced block
        self.catalog = {"catalog.load": [0.0, 0], "catalog.save": [0.0, 0]}
        self._ids = itertools.count(1)
        self._stmts = itertools.count(1)
        self._tls = threading.local()
        self._sc = None

    # --- span stack ------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def _active(self):
        """The current thread's span stack when a traced request is
        open on it, else None."""
        if not self.enabled:
            return None
        st = self._stack()
        return st or None

    def _open(self, name: str, st: list) -> list:
        root = st[0][0] if st else None
        parent = st[-1][0] if st else None
        span = [next(self._ids), root, parent, name, _now(), 0.0, 0, None]
        if root is None:
            span[1] = span[0]
        st.append(span)
        return span

    def _close(self, span: list, st: list) -> None:
        span[5] = _now()
        st.pop()
        self.spans.append(span)

    def _internal(self, fn):
        """Run a tracer-issued py4j call without counting it."""
        self._tls.internal = True
        try:
            return fn()
        finally:
            self._tls.internal = False

    def _root(self, st: list) -> dict:
        return self.roots[st[0][0]]

    def _join(self, st: list, stmt, kind: str) -> None:
        rec = self._root(st)
        if rec["stmt"] is None:
            rec["stmt"], rec["kind"] = stmt, kind

    # --- request boundaries ----------------------------------------
    def begin_request(self) -> list:
        st = self._stack()
        st.clear()          # a request that never answered leaves no trace
        root = self._open("server.request", st)
        gid = f"perfbench-{root[0]}"
        self.roots[root[0]] = {"stmt": None, "kind": None, "group": gid}
        self._internal(lambda: self._sc.setJobGroup(gid, gid))
        return st

    def span(self, name: str, fn):
        """Wrap `fn` so each call inside a traced request is a span."""
        tr = self

        @functools.wraps(fn)
        def wrapper(*a, **k):
            st = tr._active()
            if st is None:
                return fn(*a, **k)
            span = tr._open(name, st)
            try:
                return fn(*a, **k)
            finally:
                tr._close(span, st)
        return wrapper

    # --- installation ----------------------------------------------
    def install(self, server, spark) -> None:
        from pyspark.sql.readwriter import DataFrameReader

        import nowdb_spark.engine as E
        import nowdb_spark.server as S
        from nowdb_spark.catalog import Scope
        from nowdb_spark.results import CursorResult
        from nowdb_spark.sql.binder import SelectBinder

        self._sc = spark.sparkContext
        server.exec_lock = _TracedLock(server.exec_lock, self)
        self._wrap_py4j(self._sc._gateway._gateway_client)

        E.parse = self.span("sql.parse", E.parse)
        SelectBinder.bind = self.span("sql.bind", SelectBinder.bind)
        for name in ("parquet", "load"):
            setattr(DataFrameReader, name, self.span(
                "sql.context_open", getattr(DataFrameReader, name)))
        E.write_context = self._write_context(E.write_context)
        E.load_csv = self.span("sources.load", E.load_csv)
        Scope.load = classmethod(self._catalog(
            "catalog.load", Scope.load.__func__))
        Scope.save = self._catalog("catalog.save", Scope.save)
        E.Engine.execute = self._execute(E.Engine.execute)
        CursorResult.fetch = self._fetch(CursorResult.fetch)
        S._Session._bin_fetch = self._bin_fetch(S._Session._bin_fetch)
        S._Session._encode_batch = self._encode(S._Session._encode_batch)
        S._Session._send_raw = self._send(S._Session._send_raw)
        S._Session._send = self._send(S._Session._send)

    def _wrap_py4j(self, client) -> None:
        tr, orig = self, client.send_command

        def send_command(*a, **k):
            if tr.enabled and not getattr(tr._tls, "internal", False):
                st = tr._stack()
                if st:
                    st[-1][6] += 1
            return orig(*a, **k)
        client.send_command = send_command

    def _execute(self, fn):
        tr = self

        @functools.wraps(fn)
        def execute(eng, sql):
            st = tr._active()
            if st is None:
                return fn(eng, sql)
            m = _CLOSE.match(sql)
            if m:
                tr._join(st, tr.cursor_stmt.get(m.group(1)), "close")
            else:
                tr._join(st, next(tr._stmts),
                         (sql.split(None, 1) or ["?"])[0].lower())
            span = tr._open("engine.execute", st)
            try:
                res = fn(eng, sql)
            finally:
                tr._close(span, st)
            cid = getattr(res, "cursor_id", None)
            if cid is not None:
                tr.cursor_stmt[cid] = tr._root(st)["stmt"]
                # force physical planning here so plan time is its own
                # span; the later action reuses the cached plan
                span = tr._open("spark.plan", st)
                try:
                    res.df._jdf.queryExecution().executedPlan()
                except Exception as e:  # noqa: BLE001 - fetch reports it
                    span[7] = {"error": type(e).__name__}
                finally:
                    tr._close(span, st)
            return res
        return execute

    def _fetch(self, fn):
        tr = self

        @functools.wraps(fn)
        def fetch(cur, n=1000):
            st = tr._active()
            if st is None:
                return fn(cur, n)
            tr._join(st, tr.cursor_stmt.get(getattr(cur, "cursor_id", None)),
                     "fetch")
            span = tr._open("results.fetch", st)
            rows = []
            try:
                rows = fn(cur, n)
                return rows
            finally:
                span[7] = {"rows": len(rows)}
                tr._tls.fetched = len(rows)
                tr._close(span, st)
        return fetch

    def _bin_fetch(self, fn):
        tr = self

        @functools.wraps(fn)
        def bin_fetch(session, eng, cid):
            st = tr._active()
            if st is not None:
                tr._join(st, tr.cursor_stmt.get(cid), "fetch")
            return fn(session, eng, cid)
        return bin_fetch

    def _encode(self, fn):
        tr = self

        @functools.wraps(fn)
        def encode(session, cur, batch):
            st = tr._active()
            if st is None:
                return fn(session, cur, batch)
            before = len(getattr(cur, "_wire_pending", None) or [])
            tr._tls.fetched = 0
            span = tr._open("wire.encode", st)
            payload = None
            try:
                payload = fn(session, cur, batch)
                return payload
            finally:
                tr._close(span, st)
                after = (len(getattr(cur, "_wire_pending", None) or [])
                         if payload is not None else 0)
                span[7] = {"rows": before + tr._tls.fetched - after,
                           "bytes": len(payload or b"")}
        return encode

    def _send(self, fn):
        tr = self

        @functools.wraps(fn)
        def send(session, frame):
            st = tr._active()
            if st is None:
                return fn(session, frame)
            span = tr._open("wire.send", st)
            try:
                return fn(session, frame)
            finally:
                tr._close(span, st)
                if len(st) == 1:        # the response ends the request
                    tr._close(st[0], st)
        return send

    def _write_context(self, fn):
        tr = self

        @functools.wraps(fn)
        def write_context(*a, **k):
            st = tr._active()
            if st is None:
                return fn(*a, **k)
            span = tr._open("sources.write", st)
            n = 0
            try:
                n = fn(*a, **k)
                return n
            finally:
                span[7] = {"rows": n}
                tr._close(span, st)
        return write_context

    def _catalog(self, name: str, fn):
        tr, traced = self, self.span(name, fn)
        acc = self.catalog[name]

        @functools.wraps(fn)
        def wrapper(*a, **k):
            t0 = _now()
            try:
                return traced(*a, **k)
            finally:
                acc[0] += _now() - t0
                acc[1] += 1
        return wrapper

    # --- results ---------------------------------------------------
    def dump(self) -> dict:
        """Spans, requests and per-request Spark job/task counts read
        from the status tracker (retained job info must cover the run:
        the launcher raises spark.ui.retainedJobs/Stages). Starts a
        fresh recording; call it with tracing disabled."""
        tracker = self._sc.statusTracker()

        def counts(group):
            jobs = tasks = 0
            for j in tracker.getJobIdsForGroup(group):
                jobs += 1
                info = tracker.getJobInfo(j)
                for s in (info.stageIds if info else []):
                    si = tracker.getStageInfo(s)
                    if si is not None:
                        tasks += si.numCompletedTasks + si.numFailedTasks
            return jobs, tasks

        for rec in self.roots.values():
            rec["jobs"], rec["tasks"] = self._internal(
                lambda g=rec["group"]: counts(g))
        doc = {"spans": self.spans,
               "roots": {str(k): v for k, v in self.roots.items()},
               "catalog": self.catalog}
        self.spans, self.roots = [], {}
        return doc


class _TracedLock:
    """The server's exec_lock with the wait for it timed. Entering it
    is where a request's server-side work begins, so it opens the
    request's root span."""

    def __init__(self, lock, tracer: Tracer):
        self._lock = lock
        self._tr = tracer

    def __enter__(self):
        tr = self._tr
        if not tr.enabled:
            self._lock.acquire()
            return self
        st = tr.begin_request()
        span = tr._open("server.lock_wait", st)
        self._lock.acquire()
        tr._close(span, st)
        return self

    def __exit__(self, *exc):
        self._lock.release()
        return False
