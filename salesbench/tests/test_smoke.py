"""Tiny-scale smoke runs of each workload, with their output checks.

Each run is a separate process, as the benchmark is always run; the working
directory is a temporary one, so nothing lands in the repository.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

import run

RUNNER = os.path.join(run.HERE, "run.py")


def bench(cwd, *args, timeout=300):
    return subprocess.run(
        [sys.executable, RUNNER, *args], cwd=cwd, capture_output=True, text=True, timeout=timeout
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_tiny_run_passes_its_checks(tmp_path, workload, trace):
    p = bench(tmp_path, "--workload", workload, "--seed", "3", "--seconds", "4", "--trace", str(trace), "--scale", "0.1")
    assert p.returncode == 0, p.stderr[-4000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1, p.stderr[-4000:]
    want = run.E2E_UNITS if trace == 0 else run.per_layer_units()
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if trace == 0:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    else:
        assert os.path.exists(tmp_path / ".salesbench_out" / f"trace-{workload}-seed3.json")
    if workload == "webhook_stream":
        # the restart re-ran the drain's last epoch, and the check after
        # it found every item committed once
        assert ": epoch 0 re-run on restart" in p.stderr, p.stderr[-4000:]
    assert not os.path.exists(tmp_path / ".salesbench_tmp")


def test_fails_without_the_package(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    command fails fast and prints no result."""
    shutil.copytree(run.HERE, tmp_path / "salesbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(run.REPO, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "salesbench/run.py", "--workload", run.WORKLOADS[0], "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
    assert sorted(os.listdir(tmp_path)) == ["BENCHMARK.json", "salesbench"]
