"""Tiny-size smoke runs of every workload through ``run.py``.

Each run starts its own JVM (about half a minute each).  Run with
``python3 -m pytest perfbench/tests -q`` from the repo root.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
REPO = HERE.parent
SPEC = json.loads((REPO / "BENCHMARK.json").read_text())


def _run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, str(cwd / "perfbench" / "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=300, check=False)


@pytest.mark.parametrize("workload,trace", [
    ("embl_idmap_heavy", 0),
    ("embl_sequence_rejects", 0),
    ("embl_sequence_rejects", 1),
])
def test_tiny_run(workload, trace):
    proc = _run(REPO, workload, trace)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is True
    kind = "per_layer" if trace else "end_to_end"
    assert set(result["metrics"]) == {m["name"] for m in SPEC[kind]}
    for m in SPEC[kind]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    # the truncated-member build is the only failure: one per round of
    # three builds plus that build
    if workload == "embl_sequence_rejects":
        assert result["failed"] * 4 == result["attempted"]
    else:
        assert result["failed"] == 0 and result["attempted"] >= 1


def test_workloads_match_benchmark_json():
    sys.path.insert(0, str(HERE))
    import run  # noqa: PLC0415

    assert set(run.WORKLOADS) == {w["name"] for w in SPEC["workloads"]}


def test_fails_without_the_program(tmp_path):
    """A checkout holding only the benchmark exits non-zero, printing no
    result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(REPO / "BENCHMARK.json", tmp_path)
    proc = _run(tmp_path, "embl_idmap_heavy", 0)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
