"""Smoke test for the benchmark: each workload at its default size
(faces at sf0.001 or sf0.03, the medallion at n=500 with one batch),
for the shortest run.

    python -m pytest perfbench/tests -q

Runs from the repository root in a few minutes. Checks that every
metric BENCHMARK.json names is printed with its unit, that the output
check passes and that no op failed (error rate 0).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

WORKLOADS = ["driver_iterative", "medallion_batches", "scan_relational"]


def _run(workload: str, trace: int) -> tuple[dict, str]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1]), out.stdout


def _check(result: dict, stdout: str, spec: list[dict]) -> None:
    assert result["correct"], stdout
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert "# error_rate = 0.0000 ratio" in stdout
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        assert f"# {m['name']} = " in stdout


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics(workload):
    result, stdout = _run(workload, trace=0)
    _check(result, stdout, SPEC["end_to_end"])
    assert set(result["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}


@pytest.mark.parametrize("workload", ["driver_iterative", "medallion_batches"])
def test_per_layer_metrics(workload):
    result, stdout = _run(workload, trace=1)
    _check(result, stdout, SPEC["per_layer"])
    m = result["metrics"]
    if workload == "driver_iterative":
        assert m["operators.construct_jobs"]["value"] > 0
        assert m["operators.construct_s"]["value"] > m["execute.noop_s"]["value"]
    else:
        assert m["pipelines.silver_jobs"]["value"] > 0
        assert 0 < m["pipelines.bronze_loaded_ratio"]["value"] <= 1
