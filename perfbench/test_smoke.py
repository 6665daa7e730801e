"""Smoke test of the benchmark itself, on tiny seeded inputs.

    python3 -m pytest perfbench/test_smoke.py -q

Each case runs perfbench/run.py end to end (about a minute each) and
checks that every metric BENCHMARK.json declares is printed with its
unit, that the spans of each query nest and carry that query's id, and
that no span's self time is negative.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".perfbench_out", f"{workload}-seed{SEED}-trace{trace}.json")) as f:
        return line, json.load(f)


def _assert_metrics(line: dict, declared: list[dict]) -> None:
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and line["failed"] == 0 and line["attempted"] >= 1
    assert set(line["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        assert line["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(line["metrics"][m["name"]]["value"], (int, float))


@pytest.mark.parametrize("workload", ["kinerja_docs", "spatial_kernels"])
def test_traced_run(workload):
    line, record = _run(workload, trace=1)
    _assert_metrics(line, _bench()["per_layer"])
    spans = record["spans"]
    assert spans, "a traced run records spans"
    for s in spans:
        assert s["end"] >= s["start"]
        assert s["self"] >= -1e-9, s
        if s["parent"] is not None:
            p = spans[s["parent"]]
            assert s["query"] == p["query"], (s, p)
            assert p["start"] <= s["start"] and s["end"] <= p["end"], (s, p)
    queries = {s["query"] for s in spans if s["name"] == "query"}
    assert queries, "every timed query has a root span"
    for s in spans:
        if s["name"] != "query" and s["query"] in queries:
            root = s
            while root["parent"] is not None:
                root = spans[root["parent"]]
            assert root["name"] == "query" and root["query"] == s["query"]
    assert {c["query"] for c in record["counters"]} == {q.split(":")[1] for q in queries}


def test_untraced_run():
    line, record = _run("iterative_driver", trace=0)
    _assert_metrics(line, _bench()["end_to_end"])
    assert all(line["metrics"][m]["value"] > 0 for m in line["metrics"])
    assert all(record["checks"].values())
