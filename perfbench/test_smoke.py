"""Smoke-sized runs of the benchmark command.

Each workload runs for one second from the root of the repository.  The
command must print a correct result, leave no process it started alive
and leave ``git status`` as it was.  A directory that holds only the
benchmark must make the command fail fast without a result.

Run with ``python3 -m pytest perfbench/test_smoke.py`` (about two
minutes on a 4-core host).
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

from harness import descendants  # noqa: E402


def git_status() -> str:
    return subprocess.run(["git", "status", "--porcelain", "--ignored=no"],
                          cwd=ROOT, capture_output=True, text=True,
                          check=True).stdout


@pytest.mark.parametrize("workload", ["catalog", "flagship"])
def test_workload_runs_clean(workload):
    before = git_status()
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload",
         workload, "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    assert all(m["value"] > 0 for m in result["metrics"].values())
    assert descendants(os.getpid()) == set()
    assert git_status() == before


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload",
         "catalog", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout == ""
