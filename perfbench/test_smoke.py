"""Fast smoke test of the benchmark at sf0.01: one round per workload.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that every metric BENCHMARK.json names is emitted with its unit,
that every answer meets its bound, and that the untraced run leaves the
Spark UI off while the traced run turns it on.
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


def _run(workload: str, trace: int) -> tuple[dict, str]:
    proc = subprocess.run(
        [
            sys.executable, os.path.join(HERE, "run.py"),
            "--workload", workload, "--seed", "5", "--seconds", "0",
            "--trace", str(trace), "--sf", "0.01",
        ],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stderr


def _check(result: dict, spec_metrics: list) -> None:
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in spec_metrics}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want


@pytest.mark.parametrize("workload", ["fact_scan", "per_conversation", "leaf_rollup"])
def test_untraced_round_emits_end_to_end_with_ui_off(workload):
    result, log = _run(workload, 0)
    _check(result, SPEC["end_to_end"])
    assert "spark.ui.enabled=false uiWebUrl=None" in log
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_round_emits_per_layer_with_ui_on():
    result, log = _run(SPEC["workloads"][0]["name"], 1)
    _check(result, SPEC["per_layer"])
    assert "spark.ui.enabled=true" in log


def test_bare_benchmark_directory_fails_fast():
    """Without the library beside it the benchmark exits non-zero and
    prints no result."""
    bare = os.path.join(ROOT, ".perfbench_work", f"bare-{os.getpid()}")
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "fact_scan",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=120,
        )
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
