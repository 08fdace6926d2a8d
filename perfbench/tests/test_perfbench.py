"""Tests of the benchmark itself.

The smoke tests run every workload at tiny size through the same command
the benchmark is run with, so they take a few minutes:

    python3 -m pytest perfbench/tests -q
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
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import inputs  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
    SPEC = json.load(fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def run_bench(*args: str, cwd: str = ROOT) -> tuple[subprocess.CompletedProcess, dict | None]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return proc, result


def test_spec_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]] + WORKLOADS
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_every_layer_metric_names_what_it_moves():
    with open(os.path.join(BENCH, "layer_moves.json"), encoding="utf-8") as fh:
        moves = json.load(fh)
    moves.pop("about")
    assert sorted(moves) == sorted(m["name"] for m in SPEC["per_layer"])
    e2e = {m["name"] for m in SPEC["end_to_end"]} | {"none"}
    for name, m in moves.items():
        for metric in m["gated_by"].split(", "):
            assert metric in e2e, name
        for wl in m["workload"].split(", "):
            assert wl in WORKLOADS + ["all"], name


def test_inputs_are_seeded_and_counted(tmp_path):
    a = inputs.write_day_folders(str(tmp_path / "a"), 5, 2, 800)
    b = inputs.write_day_folders(str(tmp_path / "b"), 5, 2, 800)
    for day in a:
        for fa, fb in zip(a[day], b[day]):
            assert open(fa.path, "rb").read() == open(fb.path, "rb").read()
            lines = open(fa.path, encoding="utf-8").read().split("\n")[:-1]
            assert len(lines) == fa.lines
            assert sum(1 for x in lines if not x.strip()) == fa.blank
            assert sum(1 for x in lines if x.startswith("garbage")) == fa.garbage
            stamp = inputs.BASE_DAY.strptime(day, "%Y-%m-%d").strftime("%d/%b/%Y:")
            assert all(f"[{stamp}" in x for x in lines if x.strip() and not x.startswith("garbage"))
        assert len(a[day]) == inputs.SMALL_FILES + inputs.LARGE_FILES


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_prints_the_declared_metrics(workload, trace):
    proc, result = run_bench(
        "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke"
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert result is not None and set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stdout[-3000:]
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert [(k, v["unit"]) for k, v in result["metrics"].items()] == [
        (m["name"], m["unit"]) for m in declared
    ]
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_wrong_expected_count_is_a_failure(workload):
    proc, result = run_bench(
        "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "0", "--smoke",
        "--perturb-expected", "1",
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert result["failed"] > 0 and not result["correct"]
    assert "ops_failed_ratio" in proc.stdout


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc, result = run_bench(
        "--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1", "--trace", "0", cwd=str(tmp_path)
    )
    assert proc.returncode != 0 and result is None
