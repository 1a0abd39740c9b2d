"""Smoke test of the benchmark itself, at a tiny input size.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload of BENCHMARK.json once, traced, and checks that the
run is correct and that every end-to-end and per-layer metric it names is
present and numeric (the end-to-end ones from the run's artifact, since a
traced run prints only the per-layer metrics).
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _numeric(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool) and math.isfinite(v)


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_workload_reports_every_metric(workload):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", "1", "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    last = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0 and last["attempted"] >= 1
    for m in BENCH["per_layer"]:
        got = last["metrics"].get(m["name"])
        assert got is not None and _numeric(got["value"]), m["name"]
        assert got["unit"] == m["unit"], m["name"]

    artifact = os.path.join(ROOT, ".perfbench", "results", f"{workload}-seed7-trace1.json")
    with open(artifact) as f:
        full = json.load(f)
    for m in BENCH["end_to_end"]:
        assert _numeric(full["metrics"].get(m["name"])), m["name"]
    for key in ("source", "nproc", "cores_used", "spark", "java", "duckdb", "python",
                "seed", "loadavg_before", "loadavg_after", "canary_s", "input_rows"):
        assert key in full["stamp"], key
