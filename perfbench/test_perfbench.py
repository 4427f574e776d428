"""Self-test of the benchmark: one short run per workload at sf0.001.

    python3 -m pytest perfbench -q

Takes a few minutes: every run starts its own Spark JVM.
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
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
GATED = [w["name"] for w in SPEC["workloads"]]
sys.path.insert(0, HERE)
from workloads import WORKLOADS  # noqa: E402


def bench(workload: str, trace: int, cwd: str = ROOT) -> tuple[dict, dict]:
    """(detail line, result line) of one run with a single timed pass."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.fixture(scope="module")
def traced():
    return {w: bench(w, 1) for w in WORKLOADS}


def check_result(result: dict, names: dict[str, str]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(names)
    for name, unit in names.items():
        got = result["metrics"][name]
        assert got["unit"] == unit, name
        assert isinstance(got["value"], (int, float)), name


@pytest.mark.parametrize("workload", GATED)
def test_end_to_end_line(workload):
    detail, result = bench(workload, 0)
    check_result(result, {m["name"]: m["unit"] for m in SPEC["end_to_end"]})
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert not detail["mismatches"]
    assert detail["end_to_end"]["fail_ratio"] == {"value": 0.0, "unit": "ratio"}
    for name in ("query_p50_s", "query_cpu_p50_s", "query_tail_s"):
        assert detail["end_to_end"][name]["unit"] == "s", name
        assert detail["end_to_end"][name]["value"] > 0, name


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_per_layer_line(traced, workload):
    detail, result = traced[workload]
    check_result(result, {m["name"]: m["unit"] for m in SPEC["per_layer"]})
    assert detail["end_to_end"]["fail_ratio"]["value"] == 0
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["trace.span_coverage_min"] >= 0.9
    assert m["caching.release_failures"] == 0
    assert m["spark.jobs"] > 0 and m["plans.build_s"] > 0


def test_layer_pairings(traced):
    """Each layer does work on the workload chosen for it, and none on
    the workloads that are meant to bypass it."""
    m = {w: {k: v["value"] for k, v in r["metrics"].items()} for w, (_, r) in traced.items()}
    for w in WORKLOADS:
        assert (m[w]["mdx.calls"] > 0) == (w == "report-cold"), w
        assert (m[w]["streaming.batches"] > 0) == (w == "ingest-write"), w
    assert m["report-cold"]["pyworker.run_s"] == 0
    assert m["ingest-write"]["pyworker.run_s"] > 0
    assert m["corpus-pipeline"]["pyworker.run_s"] > 0
    assert m["ingest-write"]["sources.output_mb"] > m["report-cold"]["sources.output_mb"]


def test_refuses_without_package():
    """With only BENCHMARK.json and perfbench/ it exits non-zero and
    prints no result."""
    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", GATED[0], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180,
    )
    shutil.rmtree(bare)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
