"""Smoke test of the benchmark: each workload on the small (sf0.01) data
prints every metric named in BENCHMARK.json with its unit, and a
deliberately corrupted step output is counted as a failure.

    python3 -m pytest perfbench/tests -q

Each run starts Spark, so the module takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
sys.path.insert(0, ROOT)
from perfbench.run import MIN_WARM  # noqa: E402


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(ROOT, *SPEC["command"][1:]),
           "--workload", workload, "--seed", "5", "--seconds", "1",
           "--trace", str(trace), "--small", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    return result


def assert_metrics(result: dict, spec: list[dict]) -> None:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics(workload):
    result = run(workload, 0)
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 2
    assert_metrics(result, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload,step", [
    ("query_sf01", "q6_forecast_revenue"),
    ("lifecycle_sf01", "mor_read_1"),
])
def test_per_layer_metrics_and_corrupted_output(workload, step):
    result = run(workload, 1, "--corrupt", step)
    assert_metrics(result, SPEC["per_layer"])
    # --seconds 1 gives the cold pass and the minimum of warm passes;
    # the step runs once per pass and each corrupted output is one failure
    assert result["failed"] == 1 + MIN_WARM and not result["correct"]
