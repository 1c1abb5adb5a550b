"""Smoke test for the watch-loop benchmark: every workload at a tiny
size, untraced and traced.

    python3 -m pytest perfbench/test_smoke.py -q

Takes a few minutes (one Spark session per run).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import SIZES  # noqa: E402

SCALE = 0.05
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run_bench(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", str(SCALE)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def changed_entities_per_tick(workload: str) -> int:
    """Lower bound on the entities one change tick rewrites."""
    if workload == "tick_small":
        return 2  # one SampleRunInfo and its RunInfo
    runs = max(1, round(SIZES[workload]["runs"] * SCALE))
    return runs * SIZES[workload]["samples_per_run"] + runs


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_untraced_reports_every_end_to_end_metric(workload):
    res = run_bench(workload, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    names = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert set(res["metrics"]) == set(names)
    for name, unit in names.items():
        assert res["metrics"][name]["unit"] == unit
        assert res["metrics"][name]["value"] > 0


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_reports_every_layer_metric(workload):
    res = run_bench(workload, 1)
    assert res["correct"] and res["failed"] == 0
    names = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert set(res["metrics"]) == set(names)
    m = {k: v["value"] for k, v in res["metrics"].items()}
    for name, unit in names.items():
        assert res["metrics"][name]["unit"] == unit
    assert m["runtime.jobs_per_tick"] >= 1
    assert m["state.rows_written"] >= changed_entities_per_tick(workload)
    assert 0 < m["runtime.executor_util"] <= 1.25
    assert 0 <= m["runtime.driver_only_s"] <= m["runtime.tick_s"]
