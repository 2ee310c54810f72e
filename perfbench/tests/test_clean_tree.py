"""A short benchmark run, started outside the repository, leaves the
working tree exactly as it found it (ignored files included, apart from
the spans a traced run writes to ``.perfbench_out/``) and prints a correct
result line.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _status() -> list[str]:
    out = subprocess.run(
        ["git", "status", "--porcelain", "--ignored", "--untracked-files=all"],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout
    return [line for line in out.splitlines() if ".perfbench_out/" not in line]


@pytest.mark.skipif(
    shutil.which("git") is None or not os.path.isdir(os.path.join(ROOT, ".git")),
    reason="needs a git checkout",
)
@pytest.mark.parametrize("workload,trace", [("web_build", 0), ("table_refactor", 1)])
def test_short_run_leaves_tree_unchanged(tmp_path, workload, trace):
    before = _status()
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert _status() == before
    assert os.listdir(tmp_path) == []
