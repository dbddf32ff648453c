"""Smoke test of the served-path benchmark at the tiny data size.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that every metric BENCHMARK.json names is printed with its
unit, that every printed name is well formed, and that the answer
oracle passes on more than one seed. Takes about a minute and a half.
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
NAME = re.compile(r"[A-Za-z0-9_.-]+")
ISSUE_E2E = {
    "setup_s": "s",
    "point_read.p50_ms": "ms", "point_read.p90_ms": "ms",
    "point_read.stmts_per_s": "statements/s",
    "cursor_drain.rows_per_s": "rows/s",
    "cursor_drain.first_frame_p50_ms": "ms",
    "ingest_mix.insert_p50_ms": "ms", "ingest_mix.load_rows_per_s": "rows/s",
    "ingest_mix.read_p50_ms": "ms", "ingest_mix.read_p90_ms": "ms",
}


def spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload: str, seed: int, trace: int) -> tuple:
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "2", "--trace", str(trace),
         "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    detail, result = (json.loads(x) for x in p.stdout.splitlines()[-2:])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    for name, m in result["metrics"].items():
        assert NAME.fullmatch(name), name
        assert set(m) == {"value", "unit"}, name
    for w in detail["perfbench"]["workloads"].values():
        assert w["ops_failed"] == 0, w["errors"]
    return detail["perfbench"], result["metrics"]


def units(entries: list) -> dict:
    return {e["name"]: e["unit"] for e in entries}


def test_all_workloads_print_every_end_to_end_metric():
    detail, metrics = run("all", seed=5, trace=0)
    assert {k: v["unit"] for k, v in metrics.items()} == ISSUE_E2E
    for m in metrics.values():
        assert m["value"] > 0
    host = detail["host"]
    for key in ("nproc", "load1_start", "load1_end", "python", "pyspark",
                "java", "seed", "sizes"):
        assert key in host


def test_result_line_has_the_declared_end_to_end_metrics():
    _, metrics = run("ingest_mix", seed=6, trace=0)
    assert ({k: v["unit"] for k, v in metrics.items()}
            == units(spec()["end_to_end"]))
    for m in metrics.values():
        assert m["value"] > 0


def test_traced_run_has_the_declared_layer_metrics():
    _, metrics = run("point_read", seed=7, trace=1)
    assert ({k: v["unit"] for k, v in metrics.items()}
            == units(spec()["per_layer"]))
    assert metrics["server.open_cursors"]["value"] == 0
    assert abs(metrics["trace.accounted_share"]["value"] - 1) < 0.01
    assert metrics["spark.jobs_per_stmt"]["value"] > 0
