"""One short run of each workload through the command line (one unit of
work after set-up and warm-up).  Each starts Spark: about a minute apiece."""

import json
import os
import subprocess
import sys

import pytest

from benchsuite.report import END_TO_END, PER_LAYER
from benchsuite.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "benchsuite/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "0", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, detail["failures"]
    return result, detail


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_untraced_run_reports_every_end_to_end_metric(workload):
    result, detail = _run(workload, 0)
    assert list(result["metrics"]) == [n for n, _, _ in END_TO_END]
    assert all(m["value"] > 0 for m in result["metrics"].values())
    assert detail["host_before"]["nproc"] >= 1


def test_traced_run_reports_every_per_layer_metric():
    result, detail = _run("remote_write", 1)
    assert list(result["metrics"]) == [n for n, _, _ in PER_LAYER]
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["server.qr_cache.hit_ratio"] == 0.0  # every read follows a write
    assert m["storage.table.bulk_ingest_ms"] > 0 and m["spark.jobs"] > 0
    assert set(detail["tracing_overhead"]) == {"op_geomean_ms", "ops_per_s", "p50_ms_by_kind"}
    assert set(detail["tracing_overhead"]["p50_ms_by_kind"]) == {"write", "read", "compact"}


def test_benchmark_json_matches_the_report():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)


def test_refuses_to_run_without_the_program(tmp_path):
    import shutil

    shutil.copytree(os.path.join(ROOT, "benchsuite"), tmp_path / "benchsuite")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "benchsuite/run.py", "--workload", "catalog", "--seed", "1", "--seconds", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0 and p.stdout == ""
