"""Smoke test of the benchmark itself, at tiny sizes: each workload runs
once, traced, and every end-to-end and per-layer metric named in
BENCHMARK.json must come out with its unit, with no failed operation.

    python3 -m pytest perfbench/test_smoke.py -q      (about 3 minutes)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = {"driver_suite": "0.001", "pages_features": "20000"}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", sorted(TINY))
def test_workload_reports_every_metric(workload):
    spec = _spec()
    assert workload in {w["name"] for w in spec["workloads"]}
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", "1",
         "--size", TINY[workload]],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    ).stdout.splitlines()
    result = json.loads(out[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    e2e = json.loads(next(line for line in out
                          if line.startswith("end_to_end "))[len("end_to_end "):])
    for group, metrics in (("end_to_end", e2e), ("per_layer", result["metrics"])):
        want = {m["name"]: m["unit"] for m in spec[group]}
        assert {k: v["unit"] for k, v in metrics.items()} == want, group
        assert all(isinstance(v["value"], (int, float))
                   for v in metrics.values()), group
    assert all(e2e[m]["value"] > 0 for m in e2e)
