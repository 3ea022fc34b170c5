"""The bench driver contract: ``python bench.py`` prints exactly one JSON line
whose ``queries`` are the declared set and whose ``value`` sums them, and a bad
``BENCH_RUNS`` is rejected before any run."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

import __spark_entry__ as entry_mod

ROOT = Path(__file__).resolve().parents[1]


def _run_bench(bench_runs: str) -> subprocess.CompletedProcess:
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        BENCH_RUNS=bench_runs,
        SPARK_GRAFT_CPUS="2",
    )
    return subprocess.run(
        [sys.executable, "bench.py"],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )


def test_bench_prints_one_contract_line():
    proc = _run_bench("1")
    assert proc.returncode == 0, proc.stderr
    lines = proc.stdout.splitlines()
    assert len(lines) == 1, proc.stdout
    out = json.loads(lines[0])
    assert set(out) == {"metric", "value", "unit", "queries", "sf"}
    assert set(out["queries"]) == set(entry_mod.queries())
    assert out["value"] == round(sum(out["queries"].values()), 4)
    assert out["sf"] == 0.001


@pytest.mark.parametrize("bench_runs", ["0", "abc"])
def test_bench_rejects_bad_runs(bench_runs):
    proc = _run_bench(bench_runs)
    assert proc.returncode != 0
    assert "BENCH_RUNS" in proc.stderr
    assert proc.stdout.strip() == ""
