"""Smoke tests of the benchmark itself, at its smoke size (sf0.001, a few
jobs, a low ingest rate). Each test runs the benchmark command from
the root of the checkout. Run them with:

    python3 -m pytest perfbench/test_perfbench.py -q

They check that every metric of ``BENCHMARK.json`` is printed with its
unit, and that a deliberately wrong expected result fails the output
check (non-zero exit, ``correct: false``).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "8",
         "--trace", str(trace), "--smoke", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, (json.loads(lines[-1]) if lines else None), proc


def _assert_metrics(result: dict, kind: str) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in SPEC[kind]}
    got = result["metrics"]
    assert set(got) == set(want)
    for name, unit in want.items():
        assert got[name]["unit"] == unit, name
        assert isinstance(got[name]["value"], float), name


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_end_to_end_metrics_printed_with_units(workload):
    code, result, proc = _run(workload, 0)
    assert code == 0, proc.stderr[-3000:]
    _assert_metrics(result, "end_to_end")
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_per_layer_metrics_printed_with_units(workload):
    code, result, proc = _run(workload, 1)
    assert code == 0, proc.stderr[-3000:]
    _assert_metrics(result, "per_layer")


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_wrong_expected_result_fails_the_check(workload):
    code, result, _ = _run(workload, 0, "--break-check")
    assert code == 1
    assert result["correct"] is False and result["failed"] >= 1


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, result, _ = _run("headline", 0, cwd=str(tmp_path))
    assert code != 0 and result is None
