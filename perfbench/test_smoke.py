"""Self-test of the benchmark: every workload, untraced and traced, end to
end on tiny inputs (``--smoke``), plus the no-package failure path.

    python -m pytest perfbench/test_smoke.py -q      # from the repo root
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
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )


def _result(p: subprocess.CompletedProcess) -> tuple[dict, dict]:
    assert p.returncode == 0, p.stderr[-4000:]
    report, result = (json.loads(line) for line in p.stdout.strip().splitlines()[-2:])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, report
    assert result["attempted"] >= 1
    return report, result


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_reports_every_end_to_end_metric(workload):
    _, result = _result(_run(workload, 0))
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_runs_cover_every_per_layer_metric():
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    produced = set()
    for workload in WORKLOADS:
        report, result = _result(_run(workload, 1))
        assert {k: v["unit"] for k, v in result["metrics"].items()} == want
        produced |= set(report["runs"][-1]["layers"])
    trace_keys = {k for k in want if k.startswith(("trace.", "session."))}
    assert produced | trace_keys == set(want)


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(WORKLOADS[0], 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert not p.stdout.strip()
