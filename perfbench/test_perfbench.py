"""Smoke test of the benchmark itself, at the tiny input size.

    python3 -m pytest perfbench/test_perfbench.py -q

Runs every workload (search-batch too, which BENCHMARK.json leaves
out) untraced and traced, checks that every metric BENCHMARK.json names
is printed with its unit and that every check passes, and that a
corrupted ground truth is counted as failed ops.
Each run starts its own Spark JVM; the whole file takes several
minutes on four cores.
"""

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "search-single", "search-batch")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload, trace, *extra):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    assert lines, p.stderr[-2000:]
    return p.returncode, json.loads(lines[-1]), json.loads(lines[-2])


def test_spec_workloads_exist():
    assert {w["name"] for w in spec()["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_printed_with_unit(workload, trace):
    code, result, detail = run(workload, trace)
    assert code == 0, detail.get("failures")
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    named = spec()["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    assert set(got) == {m["name"] for m in named}
    for m in named:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float))
    if not trace:
        assert all(got[m["name"]]["value"] > 0 for m in named)
    else:
        with open(os.path.join(ROOT, detail["trace_file"])) as f:
            tree = json.load(f)
        ids = {s["id"] for s in tree["spans"]}
        assert all(s["parent"] is None or s["parent"] in ids
                   for s in tree["spans"])
        assert all(s["start"] <= s["end"] for s in tree["spans"])
        assert got["spark.jobs"]["value"] >= 1


def test_corrupted_truth_counts_failed_ops():
    code, result, _ = run("search-single", 0, "--corrupt-truth")
    assert code != 0
    assert result["correct"] is False
    assert result["failed"] == result["attempted"] >= 1
