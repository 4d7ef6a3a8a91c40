"""The benchmark's own tests: a small-scale pass of every workload that
passes every check, traced and untraced runs that agree, negative tests
in which a corrupted output fails the checks, and a run outside a
checkout that fails without printing a result.

    python3 -m pytest perfbench/tests -q

Each run starts its own Spark JVM (about 45 s apiece at this scale).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
SCALE = "0.001"
SEED = "7"


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int = 0, *extra: str, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", SEED, "--seconds", "1", "--trace", str(trace),
         "--scale", SCALE, *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    return proc, lines


_cache: dict = {}


def _parsed(workload: str, trace: int) -> tuple[dict, dict]:
    """(context, result) of one run, shared between tests."""
    key = (workload, trace)
    if key not in _cache:
        proc, lines = _run(workload, trace)
        assert proc.returncode == 0, proc.stderr[-3000:]
        _cache[key] = (json.loads(lines[-2])["context"],
                       json.loads(lines[-1]))
    return _cache[key]


def _workloads():
    return [w["name"] for w in _spec()["workloads"]]


@pytest.mark.parametrize("workload", _workloads())
def test_small_scale_run_passes_every_check(workload):
    context, result = _parsed(workload, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    failed = [c for c in context["checks"] if not c["ok"]]
    assert result["correct"], failed
    assert result["failed"] == 0 and result["attempted"] >= 100
    want = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    got = result["metrics"]
    assert set(got) == set(want)
    for name, unit in want.items():
        assert got[name]["unit"] == unit
        assert got[name]["value"] > 0, name


@pytest.mark.parametrize("workload", _workloads())
def test_traced_run_matches_untraced(workload):
    ctx0, _ = _parsed(workload, 0)
    ctx1, result = _parsed(workload, 1)
    assert result["correct"], [c for c in ctx1["checks"] if not c["ok"]]
    assert ctx1["final_estimates_sha256"] == ctx0["final_estimates_sha256"]
    assert "traced_estimates_equal_untraced" in {
        c["name"] for c in ctx1["checks"]}
    want = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert result["metrics"]["prep.calls"]["value"] > 0
    assert result["metrics"]["fit.steps"]["value"] > 0


@pytest.mark.parametrize("workload,fault", [("jm-ur", "scale4"),
                                            ("jl-cin", "joinsize")])
def test_corrupted_output_fails_the_checks(workload, fault):
    proc, lines = _run(workload, 0, "--inject", fault)
    assert proc.returncode == 0, proc.stderr[-3000:]
    context = json.loads(lines[-2])["context"]
    result = json.loads(lines[-1])
    assert result["correct"] is False
    failed = {c["name"] for c in context["checks"] if not c["ok"]}
    if fault == "scale4":
        assert "qerror_p50_ceiling" in failed
    else:
        assert any(n.startswith("join_size_") for n in failed)


def test_any_integer_seed_gives_small_held_out_sql_literals():
    sys.path.insert(0, BENCH_DIR)
    try:
        from workloads import held_sql
    finally:
        sys.path.remove(BENCH_DIR)
    for seed in (0, 7, 2 ** 31 - 1, 2 ** 32, 5 * 10 ** 18, -3):
        # every literal but the hash multiplier fits a 32-bit INT, which
        # both Spark and DuckDB would otherwise reject on overflow
        nums = [int(n) for n in re.findall(r"\d+", held_sql(seed))]
        assert max(n for n in nums if n != 2654435761) < 2 ** 31


def test_run_outside_a_checkout_fails_without_a_result():
    bare = os.path.join(ROOT, ".perfbench_work", f"bare-{os.getpid()}")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(BENCH_DIR, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        proc, lines = _run("jl-cin", 0, cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0
    assert not lines
