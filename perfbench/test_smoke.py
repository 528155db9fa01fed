"""Smoke test of the benchmark at tiny input size (a few minutes):

    python3 -m pytest perfbench/test_smoke.py -q

Every workload runs untraced and traced, its output check passes, and
every metric named in BENCHMARK.json prints with its unit. The traced
runs start outside the repository root, so the Python workers must find
the engine on their own. A copy of the benchmark without the engine next
to it must fail fast without a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(workload: str, trace: int, cwd: str = ROOT, root: str = ROOT):
    cmd = [sys.executable, os.path.join(root, "perfbench", "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--scale", "0.02"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_runs_checks_and_reports(workload, trace):
    proc = _run(workload, trace, cwd=HERE if trace else ROOT)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stdout[-3000:]
    assert result["attempted"] >= 3
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    summary = next(line for line in lines if line.startswith(f"{workload}: "))
    for name in ("rows_per_s", "rows_per_cpu_s", "setup_s", "peak_rss_mb",
                 "failed_share"):
        assert f"{name}=" in summary


def test_fails_fast_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run(SPEC["workloads"][0]["name"], 0, cwd=str(tmp_path), root=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
