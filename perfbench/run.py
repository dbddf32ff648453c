#!/usr/bin/env python3
"""Served-path benchmark: what a NoWDB client sees through NowServer.

    python3 perfbench/run.py --workload point_read --seed 1 --seconds 12 \
        --trace 0

A server process (perfbench/launcher.py) runs Spark, an Engine and
NowServer; this process generates the retail graph from --seed, LOADs
it over the JSON protocol (set-up, repeated), then drives one workload
for --seconds through the repo's own clients and checks every answer.
`--workload all` runs the three workloads in one server.

stdout: one detail line (`{"perfbench": ...}`: host stamp, every metric
by its workload-qualified name with unit and sample count, answer
checks) and, last, the result line
`{"correct", "attempted", "failed", "metrics"}`. With --trace 0 the
result carries the end-to-end metrics, with --trace 1 the per-layer
metrics. Exit status 0 only when every answer was right.
"""

from __future__ import annotations

import argparse
import json
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

WORKLOADS = ("point_read", "cursor_drain", "ingest_mix")
SETUP_REPEATS = 3
# warm-up before the measured time, at least one unit per session
WARMUP_S = {"point_read": 4.0, "cursor_drain": 2.0, "ingest_mix": 0.1}
# traced runs alternate untraced/traced blocks of this many seconds
# (0: one unit per block)
TRACE_BLOCK_S = {"point_read": 2.0, "cursor_drain": 0.0, "ingest_mix": 0.0}
READ_KINDS = {"point_read": ("lookup",), "cursor_drain": ("drain",),
              "ingest_mix": ("read",)}
LOAD_ROWS = {"full": 1500, "tiny": 150}

E2E_UNITS = {"setup_s": "s", "read_p50_ms": "ms", "stmts_per_s": "1/s",
             "rows_per_s": "rows/s"}


class ServerDied(RuntimeError):
    pass


class Server:
    """The launcher subprocess and its stdin/stdout command channel."""

    def __init__(self, work: Path, cores: int, trace: int):
        self.log_path = work / "server.log"
        self._log = open(self.log_path, "w")
        self.proc = subprocess.Popen(
            [sys.executable, str(HERE / "launcher.py"), "--work", str(work),
             "--cores", str(cores), "--trace", str(trace)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._log,
            text=True, cwd=ROOT, start_new_session=True)
        self._lines: queue.Queue = queue.Queue()
        self._pump = threading.Thread(target=self._read, daemon=True)
        self._pump.start()
        self.info = self._reply(150)

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("@@"):
                self._lines.put(json.loads(line[2:]))
        self._lines.put(None)

    def _reply(self, timeout: float) -> dict:
        try:
            doc = self._lines.get(timeout=timeout)
        except queue.Empty:
            doc = None
        if doc is None:
            raise ServerDied(self.log_tail())
        return doc

    def log_tail(self) -> str:
        self._log.flush()
        return self.log_path.read_text(errors="replace")[-3000:]

    def call(self, **cmd) -> dict:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        return self._reply(170)

    def stop(self) -> None:
        try:
            if self.proc.poll() is None:
                self.call(cmd="quit")
                self.proc.wait(timeout=60)
        except (ServerDied, OSError, subprocess.TimeoutExpired):
            pass
        finally:
            if self.proc.poll() is None:
                os.killpg(self.proc.pid, signal.SIGKILL)
                self.proc.wait()
            self._pump.join(timeout=30)
            self._log.close()


def host_stamp(args, data, cores: int) -> dict:
    return {"nproc": cores, "load1_start": os.getloadavg()[0],
            "python": sys.version.split()[0], "seed": args.seed,
            "scale": args.scale, "sizes": data.sizes,
            "seconds": args.seconds, "trace": args.trace}


def setup(port: int, files: dict, data) -> tuple:
    """Create a scope, its types and LOAD the generated CSVs, over the
    JSON protocol; repeated into fresh scopes. Returns the scope the
    workloads use and the time of each repetition."""
    from nowdb_spark.client import connect

    from datagen import DDL
    want = {"product": len(data.prod_key), "client": len(data.client_key),
            "buys": len(data.origin)}
    times = []
    for i in range(SETUP_REPEATS):
        scope = f"bench{i}"
        t0 = time.perf_counter()
        with connect("127.0.0.1", port) as con:
            con.rexecute(f"create scope {scope}")
            con.rexecute(f"use {scope}")
            for stmt in DDL:
                con.rexecute(stmt)
            for ctx, n in want.items():
                r = con.rexecute(f"load '{files[ctx]}' into {ctx}")
                if r.affected != n or r.errors:
                    raise RuntimeError(
                        f"load {ctx}: {r.affected} rows, {r.errors} errors, "
                        f"expected {n}")
        times.append(time.perf_counter() - t0)
    # the workloads use the last copy
    with connect("127.0.0.1", port) as con:
        for i in range(SETUP_REPEATS - 1):
            con.rexecute(f"drop scope bench{i}")
    return scope, times


def context_stats(work: Path, scope: str, ctx: str) -> tuple:
    """(parquet files, bytes) of one context's store."""
    files = size = 0
    for dirpath, _, names in os.walk(work / "wh" / scope / "contexts" / ctx):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


def run_workload(name: str, args, srv: Server, scope: str, data,
                 work: Path) -> dict:
    from workloads import (LOOKUP_EDGES, DrainSession, IngestSession,
                           PointSession, drive)
    port = srv.info["port"]
    if name == "point_read":
        pairs = data.origin_days(LOOKUP_EDGES)
        sessions = [PointSession(port, scope, data, args.seed * 16 + i, i,
                                 pairs) for i in range(4)]
    elif name == "cursor_drain":
        sessions = [DrainSession(port, scope, data, args.seed)]
    else:
        batch_dir = work / "batches"
        batch_dir.mkdir(exist_ok=True)
        counter = None
        if args.trace:
            def counter():
                return context_stats(work, scope, "buys")[0]
        sessions = [IngestSession(port, scope, data, args.seed, batch_dir,
                                  LOAD_ROWS[args.scale], counter)]

    drive(sessions, WARMUP_S[name])
    for sess in sessions:
        sess.warm, sess.samples = sess.samples, []
    set_trace = None
    if args.trace:
        def set_trace(on):
            srv.call(cmd="trace", on=on)
    window = drive(sessions, args.seconds, set_trace, TRACE_BLOCK_S[name])
    if set_trace:
        set_trace(False)
    samples = [s for sess in sessions for s in sess.samples]

    # answer checks, outside the measured time
    t0 = time.perf_counter()
    if name == "ingest_mix":
        ing = sessions[0]
        final = ing.con.oneValue("select count(*) from buys")
        wrong_count = not ing.check_all(ing.warm + ing.samples, final)
        ing.con.close()
    else:
        wrong_count = False
        for sess in sessions:
            for s in sess.warm + sess.samples:
                if s["ok"] and not sess.check(s):
                    s["ok"] = False
            sess.bin.close()
    done = [s for sess in sessions for s in sess.warm + sess.samples]
    out = {"ops": len(done),
           "ops_failed": sum(not s["ok"] for s in done) + wrong_count,
           "errors": sorted({s.get("error", "wrong answer")
                             for s in done if not s["ok"]})[:5],
           "window_s": window, "check_s": time.perf_counter() - t0,
           "samples": samples}
    if wrong_count:
        out["errors"].append(f"final count(*) {final} is wrong")
    if args.trace:
        path = work / f"spans-{name}.json"
        srv.call(cmd="dump", path=str(path))
        out["dump"] = json.loads(path.read_text())
    out["state"] = srv.call(cmd="state")
    out["context"] = context_stats(work, scope, "buys")
    return out


def e2e_metrics(name: str, res: dict, setup_s: float) -> tuple:
    """(generic metrics of the result line, workload-qualified metrics
    of the detail line)."""
    from report import pct, timing
    ok = [s for s in res["samples"] if s["ok"]]
    w = res["window_s"]
    reads = [s["first"] for s in ok if s["kind"] in READ_KINDS[name]]
    if name == "ingest_mix":
        written = sum(s["rows"] for s in ok if s["kind"] != "read")
        rows_per_s = written / w
    else:
        rows_per_s = sum(s["rows"] for s in ok) / w
    generic = {"setup_s": setup_s, "read_p50_ms": pct(reads, 50) * 1e3,
               "stmts_per_s": len(ok) / w, "rows_per_s": rows_per_s}
    q = {}
    if name == "point_read":
        q["p50_ms"] = timing(reads, 50)
        q["p90_ms"] = timing(reads, 90)
        q["stmts_per_s"] = {"value": len(ok) / w, "unit": "statements/s",
                            "n": len(ok)}
    elif name == "cursor_drain":
        q["rows_per_s"] = {"value": rows_per_s, "unit": "rows/s",
                           "n": len(ok)}
        q["first_frame_p50_ms"] = timing(reads, 50)
    else:
        ins = [s["total"] for s in ok if s["kind"] == "insert"]
        loads = [s for s in ok if s["kind"] == "load"]
        load_s = sum(s["total"] for s in loads)
        q["insert_p50_ms"] = timing(ins, 50)
        q["load_rows_per_s"] = {
            "value": sum(s["rows"] for s in loads) / load_s if load_s
            else float("nan"), "unit": "rows/s", "n": len(loads)}
        q["read_p50_ms"] = timing(reads, 50)
        q["read_p90_ms"] = timing(reads, 90)
    return generic, {f"{name}.{k}": v for k, v in q.items()}


def layer_metrics(name: str, res: dict, data) -> dict:
    from report import layer_metrics as from_spans
    traced = [s for s in res["samples"] if s["traced"]]
    untraced = [s for s in res["samples"] if not s["traced"]]
    m = from_spans(res["dump"], traced, untraced, READ_KINDS[name])
    ok = [s for s in res["samples"] if s["ok"]]
    files, size = res["context"]
    ins = [s for s in ok if s["kind"] == "insert"]
    ins_rows = sum(s["rows"] for s in ins)
    written = sum(s["rows"] for s in ok if s["kind"] in ("insert", "load"))
    cat = res["dump"]["catalog"]
    m.update({
        "server.open_cursors": res["state"]["open_cursors"],
        "server.rss_peak_mb": res["state"]["rss_peak_mb"],
        "sources.files_per_insert_row": (
            sum(s["files"] for s in ins) / ins_rows if ins_rows else 0.0),
        "sources.context_files": files,
        "sources.bytes_per_row": size / (len(data.origin) + written),
        "catalog.load_ms": cat["catalog.load"][0] * 1e3,
        "catalog.save_ms": cat["catalog.save"][0] * 1e3,
    })
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args()

    sys.path.insert(0, str(ROOT))
    if not (ROOT / "nowdb_spark" / "server.py").is_file():
        print(f"perfbench: no nowdb_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    from datagen import Retail
    from report import LAYER_UNITS

    cores = len(os.sched_getaffinity(0))
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    work.mkdir(parents=True)
    srv = None
    try:
        t0 = time.perf_counter()
        data = Retail(args.seed, args.scale)
        host = host_stamp(args, data, cores)
        files = data.write_csvs(work / "data")
        datagen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        srv = Server(work, cores, args.trace)
        launch_s = time.perf_counter() - t0
        host.update({k: srv.info[k] for k in ("java", "pyspark")})
        scope, loads = setup(srv.info["port"], files, data)
        shutil.rmtree(work / "data")     # loaded, no longer needed
        setup_s = launch_s + statistics.median(loads)
        results = {n: run_workload(n, args, srv, scope, data, work)
                   for n in names}
    except Exception:  # noqa: BLE001 - reported, then a failing exit
        traceback.print_exc()
        if srv is not None:
            print(srv.log_tail(), file=sys.stderr)
        return 1
    finally:
        t0 = time.perf_counter()
        if srv is not None:
            srv.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass        # another run is using it
        stop_s = time.perf_counter() - t0
    host["load1_end"] = os.getloadavg()[0]

    detail = {"host": host,
              "setup": {"datagen_s": datagen_s, "launch_s": launch_s,
                        "loads_s": loads, "setup_s": setup_s,
                        "stop_s": stop_s},
              "workloads": {}}
    final = {}
    for n, res in results.items():
        d = {k: res[k] for k in ("ops", "ops_failed", "errors",
                                 "window_s", "check_s")}
        if args.trace:
            layers = layer_metrics(n, res, data)
            d["layers"] = {f"{n}.{k}": {"value": v, "unit": LAYER_UNITS[k]}
                           for k, v in layers.items()}
            final.update(d["layers"] if args.workload == "all" else
                         {k: {"value": v, "unit": LAYER_UNITS[k]}
                          for k, v in layers.items()})
        else:
            generic, named = e2e_metrics(n, res, setup_s)
            d["metrics"] = {"setup_s": {"value": setup_s, "unit": "s",
                                        "n": SETUP_REPEATS}, **named}
            final.update(d["metrics"] if args.workload == "all" else
                         {k: {"value": v, "unit": E2E_UNITS[k]}
                          for k, v in generic.items()})
        detail["workloads"][n] = d
    failed = sum(r["ops_failed"] for r in results.values())
    attempted = sum(r["ops"] for r in results.values())
    final = {k: {"value": v["value"], "unit": v["unit"]}
             for k, v in final.items()}
    print(json.dumps({"perfbench": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": final}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
