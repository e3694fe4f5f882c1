"""Self-test of the benchmark: every workload once at the tiny input size.

Run from the repository root (it takes a few minutes):

    python -m pytest perfbench/test_perfbench.py -q
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
sys.path.insert(0, ROOT)

from perfbench.run import WORKLOAD_NAMES  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "0", "--trace", str(trace), "--size", "tiny"],
        capture_output=True, text=True, timeout=900, cwd=cwd)


def _result(workload: str, trace: int) -> tuple[dict, dict]:
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    path = os.path.join(ROOT, ".perfbench_work", "results", f"{workload}-tiny-s7-t{trace}.json")
    with open(path) as f:
        return result, json.load(f)


def _assert_metrics(result: dict, spec: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    assert result["attempted"] >= 1
    assert result["failed"] == 0 and result["correct"] is True


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_workload_once(workload):
    plain, _ = _result(workload, 0)
    _assert_metrics(plain, SPEC["end_to_end"])

    traced, detail = _result(workload, 1)
    _assert_metrics(traced, SPEC["per_layer"])
    # tracing reads status stores only: a traced iteration, the tracer's
    # reads included, starts exactly the Spark jobs of an untraced one
    jobs = {it["traced"]: it["jobs"] for it in detail["iterations"]
            if not it.get("discarded")}
    assert jobs[True] == jobs[False] > 0
    # each op's plan and run spans cover its wall time to within 10%
    assert traced["metrics"]["trace.span_cover"]["value"] >= 0.9
    spans = detail["spans"]
    assert spans and all(s["name"].startswith(workload + "/") for s in spans)
    assert all([c["name"] for c in s["children"]] == ["plan", "run"] for s in spans)


def test_refuses_without_engine(tmp_path):
    """A directory holding only BENCHMARK.json and perfbench/ has no engine
    to measure: the benchmark exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(WORKLOAD_NAMES[0], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert "correct" not in proc.stdout
