"""Tiny-input runs of every workload in both modes, through the same
command line the benchmark is run with. Each starts a Spark session, so
the module takes a few minutes."""

import json
import os
import subprocess
import sys

import pytest

from crossbench.layers import UNITS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
    BENCH = json.load(f)


def run(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(ROOT, "crossbench", "run.py"), *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["kg_build", "text_ingest", "vector_ingest"])
def test_small_run(workload, trace):
    p = run("--workload", workload, "--seed", "3", "--seconds", "1",
            "--trace", str(trace), "--small")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    if trace:
        want = set(UNITS[workload])
    else:
        want = {m["name"] for m in BENCH["end_to_end"]}
    assert set(out["metrics"]) == want
    gated = {w["name"] for w in BENCH["workloads"]}
    if workload in gated:
        key = "per_layer" if trace else "end_to_end"
        assert set(out["metrics"]) == {m["name"] for m in BENCH[key]}
        for m in BENCH[key]:
            assert out["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    # the run removed its scratch directory
    work = os.path.join(ROOT, ".crossbench_work")
    assert not os.path.isdir(work) or not any(
        d.startswith(workload) for d in os.listdir(work)
    )


def test_refuses_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run fails fast and
    prints no result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "crossbench"), tmp_path / "crossbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "crossbench/run.py", "--workload", "kg_build",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
