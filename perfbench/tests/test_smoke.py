"""End-to-end smoke runs of the benchmark at tiny inputs, and its refusal to
run without the engine.

    python3 -m pytest perfbench/tests/test_smoke.py -q

Each run starts its own Spark JVM, so the module takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

# knn_clustered needs a 4x4 cell grid (>= ~2,050 rows) to escalate at all
ROWS = {"flagship_uniform": 2000, "knn_clustered": 2500, "range_tile": 2000, "geo_knn5": 2000}


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=180,
    )


def test_spec_matches_the_printed_catalogue():
    from run import END_TO_END, PER_LAYER

    s = spec()
    assert {m["name"]: m["unit"] for m in s["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in s["per_layer"]} == PER_LAYER
    # range_tile and knn_clustered are kept out of BENCHMARK.json (see
    # README.md) but must still run
    assert {w["name"] for w in s["workloads"]} == set(ROWS) - {"range_tile", "knn_clustered"}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(ROWS))
def test_tiny_run_prints_every_metric(workload, trace):
    p = bench(
        ROOT,
        "--workload", workload, "--seed", "3", "--seconds", "2",
        "--trace", str(trace), "--rows", str(ROWS[workload]),
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    s = spec()
    wanted = s["per_layer"] if trace else s["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
    if not trace:
        assert all(result["metrics"][m["name"]]["value"] > 0 for m in wanted)
    # the per-run scratch directory is gone
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_tmp"))


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = bench(str(tmp_path), "--workload", "flagship_uniform", "--seed", "1",
              "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""
