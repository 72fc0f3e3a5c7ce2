"""Smoke test of the benchmark itself at sf0.001.

    python -m pytest perfbench/test_smoke.py -q

Runs each workload briefly with tracing on and checks that every metric
BENCHMARK.json names is reported with its unit, that no operation
failed, and that the service table ends within its bound.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
SEED = 7


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_reports_every_metric(workload):
    started = set(glob.glob(os.path.join(HERE, "results", f"{workload}-s{SEED}-t1-*.json")))
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "2", "--trace", "1", "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert out["metrics"] == {
        m["name"]: {"value": out["metrics"][m["name"]]["value"], "unit": m["unit"]}
        for m in SPEC["per_layer"]
    }
    assert out["metrics"]["failed_ratio"]["value"] == 0

    (path,) = set(glob.glob(os.path.join(HERE, "results", f"{workload}-s{SEED}-t1-*.json"))) - started
    record = json.load(open(path))
    for m in SPEC["end_to_end"]:
        assert record["e2e"][m["name"]] > 0, m["name"]
    assert record["machine"]["trace"] is True and record["machine"]["seed"] == SEED
    if workload == "service_mix":
        assert 0 < record["table_rows_end"] <= record["table_cap"]
