"""Smoke test of the benchmark at a tiny input size.

    python3 -m pytest perfbench/test_smoke.py -q

Runs each workload once (traced), checks that the printed metric names
are exactly those BENCHMARK.json lists and that every result was
correct, and runs serve-hot a second time with the same seed to check
that the inputs and the per-operation Spark counts repeat exactly.
Takes a few minutes: every run starts its own Spark session.
"""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(workload: str, seed: int, trace: int = 1):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "4", "--trace", str(trace),
         "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    assert lines[-2].startswith("report ")
    return json.loads(lines[-1]), json.loads(lines[-2][len("report "):])


@pytest.fixture(scope="module")
def runs():
    return {w["name"]: _run(w["name"], seed=7) for w in SPEC["workloads"]}


def test_metric_names_match_benchmark_json(runs):
    per_layer = [m["name"] for m in SPEC["per_layer"]]
    end_to_end = {m["name"] for m in SPEC["end_to_end"]}
    exercised = set()
    for name, (last, report) in runs.items():
        assert set(last) == {"correct", "attempted", "failed", "metrics"}
        assert list(last["metrics"]) == per_layer, name
        assert set(report["end_to_end"]) == end_to_end, name
        assert report["unlisted"] == [], name
        assert all(v > 0 for v in report["end_to_end"].values()), name
        exercised |= set(per_layer) - set(report["not_exercised"])
    assert exercised == set(per_layer)


def test_every_result_correct(runs):
    for name, (last, report) in runs.items():
        assert last["correct"] and last["failed"] == 0, name
        assert last["attempted"] >= 1, name
        assert report["error_rate"] == 0.0, name


def test_same_seed_same_inputs_and_spark_counts(runs):
    first = runs["serve-hot"]
    again = _run("serve-hot", seed=7)
    assert again[1]["inputs_sha"] == first[1]["inputs_sha"]
    counts = [m for m in first[0]["metrics"] if m.endswith("spark_jobs")
              or m.startswith("build.spark.")]
    for m in counts:
        assert again[0]["metrics"][m] == first[0]["metrics"][m], m
