"""Metrics from samples and spans.

End-to-end metrics come from the client-side samples of an untraced
run. Per-layer metrics come from the spans of the traced blocks of a
traced run: a span's self time is its duration minus the part its
child spans cover, and a layer's time is the self time of its spans
(`<layer>.<what>` names), averaged per statement.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np


def pct(values: list, q: float) -> float:
    return float(np.percentile(values, q)) if values else float("nan")


def timing(values_s: list, q: float = 50) -> dict:
    """A latency percentile in ms with its sample count."""
    return {"value": pct(values_s, q) * 1e3, "unit": "ms",
            "n": len(values_s)}


def self_times(spans: list) -> dict:
    """span id -> self seconds (duration minus the union of its
    children's intervals)."""
    kids = defaultdict(list)
    for s in spans:
        if s[2] is not None:
            kids[s[2]].append((s[4], s[5]))
    out = {}
    for s in spans:
        covered, end = 0.0, s[4]
        for a, b in sorted(kids.get(s[0], ())):
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        out[s[0]] = (s[5] - s[4]) - covered
    return out


def layer_metrics(dump: dict, traced: list, untraced: list,
                  read_kinds: tuple) -> dict:
    """Per-layer metrics of one workload.

    `traced`/`untraced`: the client samples of the traced and untraced
    blocks. Times are ms per statement unless the name says otherwise.
    """
    roots = dump["roots"]
    spans = [s for s in dump["spans"] if str(s[1]) in roots]
    closed = {s[0] for s in spans if s[3] == "server.request"}
    spans = [s for s in spans if s[1] in closed]
    selfs = self_times(spans)
    recs = [roots[str(r)] for r in closed]
    n = max(1, len({r["stmt"] for r in recs if r["stmt"] is not None}))

    tot_self = defaultdict(float)
    tot_incl = defaultdict(float)
    py4j = defaultdict(int)
    attrs = defaultdict(lambda: defaultdict(float))
    for s in spans:
        tot_self[s[3]] += selfs[s[0]]
        tot_incl[s[3]] += s[5] - s[4]
        py4j[s[3].split(".")[0]] += s[6]
        for k, v in (s[7] or {}).items():
            if isinstance(v, (int, float)):
                attrs[s[3]][k] += v

    def ms(name):          # self ms per statement
        return tot_self[name] * 1e3 / n

    server_s = tot_incl["server.request"]
    client_s = sum(x["total"] for x in traced if x["ok"])
    engine_s = (tot_incl["engine.execute"] + tot_incl["spark.plan"]
                + tot_incl["results.fetch"])
    fetch_rows = attrs["results.fetch"]["rows"]
    enc = attrs["wire.encode"]

    def p50(xs):
        v = [x["first"] for x in xs if x["ok"] and x["kind"] in read_kinds]
        return pct(v, 50) * 1e3

    m = {
        "server.lock_wait_ms": ms("server.lock_wait"),
        "server.self_ms": ms("server.request"),
        "server.overhead_ms": (client_s - engine_s) * 1e3 / n,
        "engine.execute_ms": ms("engine.execute"),
        "sql.parse_ms": ms("sql.parse"),
        "sql.bind_ms": ms("sql.bind"),
        "sql.context_open_ms": ms("sql.context_open"),
        "sql.py4j_calls": py4j["sql"] / n,
        "spark.plan_ms": ms("spark.plan"),
        "spark.jobs_per_stmt": sum(r.get("jobs", 0) for r in recs) / n,
        "spark.tasks_per_stmt": sum(r.get("tasks", 0) for r in recs) / n,
        "results.fetch_ms": ms("results.fetch"),
        "results.rows_per_s": (fetch_rows / tot_incl["results.fetch"]
                               if tot_incl["results.fetch"] else 0.0),
        "wire.encode_ms": ms("wire.encode"),
        "wire.send_ms": ms("wire.send"),
        "wire.bytes_per_row": (enc["bytes"] / enc["rows"]
                               if enc["rows"] else 0.0),
        "client.decode_ms": sum(x["decode"] for x in traced) * 1e3 / n,
        "sources.write_ms": ms("sources.write"),
        "sources.load_ms": ms("sources.load"),
        "trace.overhead_ms": p50(traced) - p50(untraced),
        "trace.accounted_share": (sum(tot_self.values()) / server_s
                                  if server_s else 0.0),
        "trace.server_share": server_s / client_s if client_s else 0.0,
        "trace.py4j_per_stmt": sum(py4j.values()) / n,
        "trace.stmts": float(n),
    }
    return m


# every per-layer metric with its unit; times are ms per statement
LAYER_UNITS = {
    "server.lock_wait_ms": "ms", "server.self_ms": "ms",
    "server.overhead_ms": "ms", "server.open_cursors": "count",
    "server.rss_peak_mb": "MB",
    "engine.execute_ms": "ms",
    "sql.parse_ms": "ms", "sql.bind_ms": "ms", "sql.context_open_ms": "ms",
    "sql.py4j_calls": "count",
    "spark.plan_ms": "ms", "spark.jobs_per_stmt": "count",
    "spark.tasks_per_stmt": "count",
    "results.fetch_ms": "ms", "results.rows_per_s": "rows/s",
    "wire.encode_ms": "ms", "wire.send_ms": "ms",
    "wire.bytes_per_row": "bytes",
    "client.decode_ms": "ms",
    "sources.write_ms": "ms", "sources.load_ms": "ms",
    "sources.files_per_insert_row": "count",
    "sources.context_files": "count", "sources.bytes_per_row": "bytes",
    "catalog.load_ms": "ms", "catalog.save_ms": "ms",
    "trace.overhead_ms": "ms", "trace.accounted_share": "ratio",
    "trace.server_share": "ratio", "trace.py4j_per_stmt": "count",
    "trace.stmts": "count",
}
