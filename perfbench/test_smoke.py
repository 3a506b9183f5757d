"""Smoke test of the benchmark at toy size (a few minutes):

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload untraced through the benchmark's command and
traced through ``perfbench.run.run`` with one output corrupted, and
checks that every metric BENCHMARK.json declares is printed with its
unit, that the corrupted output is counted as a failed operation, and
that the command fails without the engine.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in BENCH["workloads"]]

# per-layer metrics a correct toy run may legitimately read as 0
MAY_BE_ZERO = {
    "rollup.spill_bytes", "rollup.cascade_vs_direct_buckets",
    "retention.aborted", "quicklook.failures",
    "quicklook.probe_failures", "grouped.hot_keys",
    "corrections.closure_iters", "trace.overhead_s",
} | {m["name"] for m in BENCH["per_layer"]
     if m["name"].endswith((".failed_tasks", ".fetch_wait_s", ".gc_s"))}


def _command(workload: str, trace: int, cwd: Path = ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--scale", "toy"],
        cwd=cwd, capture_output=True, text=True, timeout=900)


def _in_process(workload: str, trace: bool, corrupt_op: int):
    code = ("import json, sys; sys.path.insert(0, sys.argv[1]); "
            "from perfbench.run import run; "
            "print(json.dumps(run(sys.argv[2], 3, 1, sys.argv[3] == '1', "
            "'toy', corrupt_op=int(sys.argv[4]))))")
    return subprocess.run(
        [sys.executable, "-c", code, str(ROOT), workload,
         str(int(trace)), str(corrupt_op)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def untraced():
    return {w: _result(_command(w, 0)) for w in WORKLOADS}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_named_with_units(untraced, workload):
    r = untraced[workload]
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert 1 <= r["attempted"] and 0 <= r["failed"] <= r["attempted"]
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in r["metrics"].items()} == want
    for name, v in r["metrics"].items():
        assert v["value"] > 0, name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_outputs_correct(untraced, workload):
    r = untraced[workload]
    assert r["correct"] is True and r["failed"] == 0


@pytest.fixture(scope="module")
def traced_corrupted():
    """Traced toy run of every workload with op 0's output damaged."""
    return {w: _result(_in_process(w, True, corrupt_op=0))
            for w in WORKLOADS}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_output_counts_as_failed(traced_corrupted, workload):
    r = traced_corrupted[workload]
    assert r["correct"] is False
    assert r["failed"] >= 1
    assert r["metrics"]["failed_frac"]["value"] == pytest.approx(
        r["failed"] / r["attempted"])


@pytest.mark.xfail(strict=False, reason="step_merge's weekly cascade drops "
                   "the values of thresholded day buckets (NOTES.md); toy "
                   "inputs may have none")
def test_step_merge_cascade_equals_direct(traced_corrupted):
    r = traced_corrupted["crawl_delta"]
    assert r["metrics"]["rollup.cascade_vs_direct_buckets"]["value"] == 0


def test_per_layer_metrics_named_with_units(traced_corrupted):
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    measured = set()
    for r in traced_corrupted.values():
        assert {k: v["unit"] for k, v in r["metrics"].items()} == want
        measured |= {k for k, v in r["metrics"].items() if v["value"]}
    # every layer is exercised by at least one workload
    assert set(want) - MAY_BE_ZERO - measured == set()


def test_fails_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_delta",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170, env=env)
    assert proc.returncode != 0
    assert "metrics" not in proc.stdout
