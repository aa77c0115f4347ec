"""Self-test of the benchmark: smoke runs of every workload.

    python3 -m pytest perfbench/tests -q

About four minutes on 4 cores: each smoke run starts its own Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from harness import kafka_faults  # noqa: E402
from harness.common import END_TO_END, PER_LAYER  # noqa: E402

WORKLOADS = ("ingest", "query_suite")
# streaming query starts per smoke run: the file pipeline's, and every
# Kafka consumer attempt's
STREAM_STARTS = {
    "ingest": 1 + kafka_faults.SMOKE["faults"] + 1,
    "query_suite": 0,
}


def _run(*extra: str, workload: str, trace: int = 0, cwd: str = ROOT,
         seed: int = 3):
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", "2",
         "--trace", str(trace), "--smoke", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return proc, result


def test_benchmark_json_names_the_metrics_the_runs_print():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_prints_every_metric_with_its_unit(workload):
    proc, result = _run(workload=workload)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    assert {k: m["unit"] for k, m in result["metrics"].items()} == END_TO_END
    assert all(m["value"] > 0 for m in result["metrics"].values())

    proc, result = _run(workload=workload, trace=1)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert result["correct"]
    assert {k: m["unit"] for k, m in result["metrics"].items()} == PER_LAYER
    assert "tracing overhead: work_s traced" in proc.stdout
    with open(os.path.join(ROOT, ".perfbench_out",
                           f"trace-{workload}-s3-t2-smoke.json")) as fh:
        spans = json.load(fh)["spans"]
    starts = [sp for sp in spans if sp["name"] == "stream.start"]
    assert len(starts) == STREAM_STARTS[workload]
    assert all(sp["end"] > sp["start"] for sp in starts)


def test_duplicated_sink_row_is_a_failure_without_timings():
    proc, result = _run("--corrupt-sink", workload="ingest")
    assert proc.returncode == 1
    assert result["correct"] is False
    assert result["failed"] >= 1
    assert result["metrics"] == {}
    assert "file sink audit failed" in proc.stdout
    assert "kafka sink audit failed" in proc.stdout


def test_without_the_program_it_fails_and_prints_no_result(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc, result = _run(workload="ingest", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert result is None
