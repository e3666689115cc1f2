"""Tiny-scale smoke test of every benchmark workload.

    python3 -m pytest perfbench/test_smoke.py -q

Runs each workload at ``--tiny`` scale, untraced and traced, and asserts that
the last output line carries every metric BENCHMARK.json names for that mode,
with its unit, and that every output checked correct. It also checks that the
benchmark fails without printing a result when the library is absent. Takes
about 5 minutes on 4 vCPU; it checks the plumbing, not the speed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
# the workloads BENCHMARK.json lists, plus those kept out of it for time
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["stream_incremental"]


def _run(cwd: str, workload: str, trace: int, *extra: str):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), *extra],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_prints_every_metric(workload, trace):
    p = _run(ROOT, workload, trace, "--tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    for m in SPEC["per_layer" if trace else "end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    if not trace:
        assert result["metrics"]["recall"]["value"] >= 0.99
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work", workload))


def test_fails_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), SPEC["workloads"][0]["name"], 0)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
