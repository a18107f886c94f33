"""Smoke test of the benchmark: every workload at sf0.001 with one
reconfiguration, untraced and traced, must print every named metric with
its unit. Also checks that the benchmark refuses to run without the
library next to it.

    python -m pytest perfbench/tests -q     (from the repo root, ~5 min)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import tracing  # noqa: E402
from run import E2E_UNITS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _run(cwd: str, *extra: str) -> subprocess.CompletedProcess:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        command = json.load(f)["command"]
    return subprocess.run(
        [sys.executable if command[0] == "python3" else command[0], *command[1:], *extra],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_every_metric_present_with_unit(workload: str, trace: int) -> None:
    args = ["--workload", workload, "--seed", "7", "--seconds", "5", "--trace", str(trace)]
    proc = _run(ROOT, *args, "--smoke")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = tracing.LAYER_UNITS if trace else E2E_UNITS
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
        detail = json.loads(proc.stdout.strip().splitlines()[-2])["detail"]
        assert detail["wall"] and all(v["value"] > 0 for v in detail["wall"].values())


def test_refuses_without_the_library(tmp_path) -> None:
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "--workload", "query-mix", "--seed", "1", "--seconds", "5", "--trace", "0")
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.mark.parametrize(
    "env, extra",
    [({"TRISK_DISABLE_SPREAD": "1"}, []), ({"TRISK_EAGER_CKPT": "1"}, []), ({}, ["--local", "4096"])],
)
def test_environment_guard_refuses(env: dict, extra: list) -> None:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "query-mix",
         "--seed", "1", "--seconds", "5", *extra],
        cwd=ROOT, env=dict(os.environ, **env), capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0 and proc.stdout.strip() == ""
