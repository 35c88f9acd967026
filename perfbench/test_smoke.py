"""The benchmark's own tests: every workload at smoke size, untraced and
traced, run from a foreign working directory.

    python -m pytest perfbench/test_smoke.py -q    (about 5 minutes)
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
sys.path.insert(0, HERE)

import run  # noqa: E402
import trace  # noqa: E402


def _bench(cwd, workload: str, traced: int, root: str = ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(root, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(traced), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


@pytest.mark.parametrize("traced", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_run_is_correct_and_complete(tmp_path, workload, traced):
    proc = _bench(tmp_path, workload, traced)
    assert proc.returncode == 0, proc.stderr[-3000:]
    *_, report_line, result_line = proc.stdout.strip().splitlines()
    result, report = json.loads(result_line), json.loads(report_line)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, report["problems"]
    e2e, per_layer = run.metric_spec()
    spec = per_layer if traced else e2e
    assert {k: v["unit"] for k, v in result["metrics"].items()} == spec
    if not traced:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    assert report["leftover_processes"] == []
    assert not os.listdir(tmp_path)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _bench(tmp_path, "iter_sf01", 0, root=str(tmp_path))
    assert proc.returncode != 0 and proc.stdout == ""


def test_tail_percentile_keeps_ten_samples_beyond():
    assert run.tail_percentile([float(i) for i in range(100)]) == (90.0, 89.0)
    assert run.tail_percentile([3.0, 1.0, 2.0]) == (100.0, 3.0)


def test_union_of_job_intervals():
    assert trace._union_seconds([(0, 1000), (500, 1500), (3000, 3500)]) == 2.0
