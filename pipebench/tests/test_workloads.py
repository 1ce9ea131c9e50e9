"""Each workload end to end at toy sizes, through the real entry point."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from conftest import BENCH, ROOT

# Shrink the inputs, then run run.main() exactly as the command line would.
TOY = """
import sys
sys.path[:0] = [{bench!r}]
import workloads
workloads.BULK_PAGES, workloads.BULK_FILES = 3000, 2
workloads.MIX_EVENTS, workloads.MIX_DOCS = 2000, 60
workloads.PROBE_PAGES, workloads.PROBE_EVENTS, workloads.PROBE_DOCS = 1000, 500, 40
import run
sys.exit(run.main(sys.argv[1:]))
"""


def _run(workload: str, trace: int, cwd: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", TOY.format(bench=BENCH), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _names(kind: str) -> set[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"] for m in json.load(fh)[kind]}


@pytest.mark.parametrize("workload", ["pipeline_bulk", "queries_mix"])
def test_untraced_run_reports_every_end_to_end_metric(workload, tmp_path):
    res = _run(workload, 0, str(tmp_path))  # any working directory
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == _names("end_to_end")
    for m in res["metrics"].values():
        assert m["value"] > 0


@pytest.mark.parametrize("workload", ["pipeline_bulk", "queries_mix"])
def test_traced_run_reports_every_per_layer_metric(workload, tmp_path):
    res = _run(workload, 1, str(tmp_path))
    assert res["correct"], res
    metrics = {k: v["value"] for k, v in res["metrics"].items()}
    assert set(metrics) == _names("per_layer")
    assert metrics["parse.rows_out"] > 0
    assert 0.8 < metrics["parse.prefilter_pass"] < 1.0  # ~90% of pages carry a record
    assert metrics["sink.files"] > 0 and metrics["checkpoint.commit_files"] == 24
    assert metrics["spark.executor_cpu_s"] > 0 and metrics["python.cpu_s"] > 0
    assert metrics["query.d6_dup_clusters.s"] > 0


def test_refuses_to_run_without_the_package(tmp_path):
    """A directory holding only the benchmark files: non-zero exit, no result."""
    shutil.copytree(BENCH, tmp_path / "pipebench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "pipebench/run.py", "--workload", "pipeline_bulk", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""
