"""Smoke test of the benchmark at a tiny input.

    python3 -m pytest perfbench/test_smoke.py -q

Each case runs ``perfbench/run.py`` in a subprocess, as the benchmark is
run, so every case starts its own JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TINY = "300"

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=300,
    )


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["attempted"] >= 1
    return out


def assert_metrics(out: dict, section: str) -> None:
    want = {m["name"]: m["unit"] for m in SPEC[section]}
    got = out["metrics"]
    assert set(got) == set(want)
    for name, unit in want.items():
        assert got[name]["unit"] == unit, name
        assert isinstance(got[name]["value"], (int, float)), name


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_end_to_end_metrics_emitted(workload):
    out = result(run("--workload", workload, "--seed", "3", "--seconds", "1",
                     "--trace", "0", "--pages", TINY))
    assert out["correct"] and out["failed"] == 0
    assert_metrics(out, "end_to_end")
    assert out["metrics"]["ok_share"]["value"] == 1.0


def test_per_layer_metrics_emitted():
    out = result(run("--workload", "curate", "--seed", "3", "--seconds", "1",
                     "--trace", "1", "--pages", TINY))
    assert out["correct"] and out["failed"] == 0
    assert_metrics(out, "per_layer")
    m = {k: v["value"] for k, v in out["metrics"].items()}
    routes = [k for k in m if k.startswith("operators.route.rows.")]
    assert sum(m[k] for k in routes) == int(TINY)
    assert m["operators.decode.python_bytes_sent"] > 0


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_corrupted_expected_count_is_a_failed_pass(workload):
    out = result(run("--workload", workload, "--seed", "3", "--seconds", "1",
                     "--trace", "0", "--pages", TINY, "--corrupt-reference"))
    assert not out["correct"]
    assert out["failed"] >= 1
    assert out["metrics"]["ok_share"]["value"] < 1.0


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = run("--workload", "route", "--seed", "1", "--seconds", "1",
               "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
