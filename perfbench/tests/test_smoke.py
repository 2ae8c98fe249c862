"""End-to-end smoke runs of the benchmark command, one pinned query per
workload at sf0.001, plus the refusal to run without the package.
Each run starts its own Spark session, so this file takes a few minutes.

    python3 -m pytest perfbench/tests/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("relational", "pyworker", "stream_replay")


def _run(cwd: str, workload: str, trace: int, *extra: str):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=300)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_reports_every_end_to_end_metric(workload):
    out = _run(ROOT, workload, 0, "--smoke", "--passes", "2")
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] == 2
    assert set(result["metrics"]) == {"setup_s", "suite_s", "query_geomean_s",
                                      "cpu_s", "ok_ratio"}
    assert result["metrics"]["ok_ratio"]["value"] == 1.0
    assert all(m["value"] > 0 for m in result["metrics"].values())
    sys.path.insert(0, BENCH)
    import run

    with open(os.path.join(BENCH, ".work", "runs",
                           f"{workload}-seed3-trace0.json")) as f:
        detail = json.load(f)
    assert len(detail["session_starts"]) == run.SETUPS
    assert detail["describe"]["warm_passes"] == run.WARM_PASSES


def test_smoke_traced_run_reports_every_layer_and_writes_spans():
    out = _run(ROOT, "stream_replay", 1, "--smoke", "--passes", "1")
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    sys.path.insert(0, BENCH)
    import run

    assert set(result["metrics"]) == set(run.PER_LAYER)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["streaming.batches"] > 0 and m["streaming.drain_s"] > 0
    assert m["streaming.bytes_written"] > 0 and m["workload.build_jobs"] > 0
    with open(os.path.join(BENCH, ".work", "runs",
                           "stream_replay-seed3-trace1.json")) as f:
        spans = json.load(f)["spans"]["spans"]
    names = {s["name"] for s in spans}
    assert {"query", "workload.build", "streaming.drain", "catalyst.plan",
            "jvm_exec.execute", "verify"} <= names


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    out = _run(str(tmp_path), "relational", 0)
    assert out.returncode != 0
    assert out.stdout.strip() == ""
