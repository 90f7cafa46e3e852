"""Smoke test of the benchmark itself: sf0.001 data, the cold pass and
one timed pass per run.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.run import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


def _smoke(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "5", "--trace", str(trace), "--smoke"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=300)
    assert proc.returncode == 0
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["run"], json.loads(lines[-1])


def test_benchmark_json_names_the_metrics_run_py_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_end_to_end(workload):
    run, result = _smoke(workload, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert run["failed_share"] == result["failed"] / result["attempted"]
    assert result["correct"], run["problems"]
    cold, timed = run["jobs_per_pass"]
    assert timed > 0
    if workload == "cli_files":  # registry builders memoize table loads after the cold pass
        assert cold == timed


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_traced(workload):
    run, result = _smoke(workload, 1)
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    assert set(metrics) == set(PER_LAYER)
    assert run["jobs_per_pass"][1] == run["jobs_per_pass"][2] == metrics["spark.jobs"]
    assert abs(metrics["trace.attributed_pct"] - 100) <= 10
