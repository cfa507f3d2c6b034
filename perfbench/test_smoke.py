"""Offline smoke test of the benchmark at toy size (sf0.001 corpus, a few
hundred messages). Each run is bounded by a subprocess timeout, so the
whole test finishes in fixed time.

    python3 -m pytest perfbench/test_smoke.py -q
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
    BENCH = json.load(fh)
RUN_TIMEOUT_S = 240


def run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", str(BENCH["run_seconds"]), "--trace", str(trace),
         "--size", "toy"],
        cwd=cwd, capture_output=True, text=True, timeout=RUN_TIMEOUT_S,
    )


# batch_relational and stream_backfill are runnable but outside
# BENCHMARK.json's set (NOTES.md)
WORKLOADS = [w["name"] for w in BENCH["workloads"]] + ["batch_relational", "stream_backfill"]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(set(WORKLOADS)))
def test_toy_run_prints_every_metric(workload, trace):
    proc = run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-3000:]
    assert result["attempted"] >= 1
    wanted = BENCH["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
        if not trace:
            assert got["value"] > 0, m["name"]
    # the human-readable line names failed_ratio with its unit
    assert "failed_ratio=0 ratio" in lines[-2]
    if trace:
        trace_file = os.path.join(HERE, "out", f"trace-{workload}-7.json")
        with open(trace_file) as fh:
            doc = json.load(fh)
        assert doc["spans"] and "tracing.overhead_pct" in doc["layers"]


def test_refuses_without_the_engine(tmp_path):
    """A checkout holding only the benchmark exits non-zero, with no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("cache", "work", "out", "__pycache__"))
    proc = run(BENCH["workloads"][0]["name"], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
