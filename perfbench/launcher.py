"""Server process of the served-path benchmark.

Starts Spark (`session.get_spark(cores=N)`), an `Engine` over a
warehouse inside the benchmark's work directory and a `NowServer` on a
free localhost port, then obeys one JSON command per line on stdin and
answers each with one stdout line starting with `@@`:

    {"cmd": "trace", "on": true}   enable/disable span recording
    {"cmd": "state"}               open cursors and peak memory
    {"cmd": "dump", "path": p}     write the recorded spans to p
    {"cmd": "quit"}                stop and remove the warehouse

Run by perfbench/run.py; `--trace 1` installs perfbench/tracer.py.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent


def log(msg: str) -> None:
    """Phase timestamps for server.log (stderr)."""
    print(f"[perfbench {time.time():.3f}] {msg}", file=sys.stderr, flush=True)


def reply(doc: dict) -> None:
    sys.stdout.write("@@" + json.dumps(doc) + "\n")
    sys.stdout.flush()


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus its JVM."""
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        try:
            with open(f"/proc/{proc.pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        except OSError:
            pass
    return (own_kb + jvm_kb) / 1024.0


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM to exit (it exits when its stdin
    pipe closes)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    try:
        proc.stdin.close()
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 - last resort below
        proc.kill()
        proc.wait(timeout=30)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    work = Path(args.work).resolve()
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # keep every file Spark and the JVM write inside the work directory
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    sys.path.insert(0, str(HERE.parent))

    import pyspark

    from nowdb_spark.engine import Engine
    from nowdb_spark.server import NowServer
    from nowdb_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cores=args.cores, extra_conf={
        "spark.local.dir": str(tmp),
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads job and stage counts after the workload
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })
    wh = work / "wh"
    srv = None
    try:
        eng = Engine(spark, wh)
        srv = NowServer(eng)
        tracer = None
        if args.trace:
            from tracer import Tracer
            tracer = Tracer()
            tracer.install(srv, spark)
        srv.serve_in_background()
        jvm = spark.sparkContext._jvm
        reply({"port": srv.address[1],
               "java": str(jvm.System.getProperty("java.version")),
               "pyspark": pyspark.__version__})
        for line in sys.stdin:
            cmd = json.loads(line)
            op = cmd.get("cmd")
            if op == "trace":
                tracer.enabled = bool(cmd["on"])
                reply({"ok": True})
            elif op == "state":
                reply({"open_cursors": len(eng._cursors),
                       "rss_peak_mb": peak_rss_mb(spark)})
            elif op == "dump":
                t0 = time.perf_counter()
                tracer.enabled = False
                doc = tracer.dump()
                with open(cmd["path"], "w") as fh:
                    json.dump(doc, fh)
                reply({"ok": True, "dump_s": time.perf_counter() - t0})
            elif op == "quit":
                break
            else:
                reply({"error": f"unknown command {op!r}"})
    finally:
        log("stopping")
        if srv is not None:
            srv.shutdown()
            srv.server_close()
        log("server closed")
        stop_spark(spark)
        log("spark stopped")
        shutil.rmtree(wh, ignore_errors=True)
        log("warehouse removed")
    reply({"bye": True})
    return 0


if __name__ == "__main__":
    sys.exit(main())
