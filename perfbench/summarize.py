#!/usr/bin/env python3
"""Summarize the run records in .perfbench_out/ into a baseline.

    python3 perfbench/summarize.py [records_dir] > summary.json

For each workload: the median and spread of every end-to-end metric over
the untraced runs (spread = interquartile range / median, as
``statistics.quantiles(values, n=4)`` gives the quartiles), the per-layer
metrics of the traced run, the tracing overhead, and the count() versus
noop latency of each query from the traced run.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def summarize(out_dir: str) -> dict:
    records = []
    for path in sorted(glob.glob(os.path.join(out_dir, "*.json"))):
        with open(path) as f:
            records.append(json.load(f))
    summary = {}
    for name, wl in WORKLOADS.items():
        untraced = [r for r in records if r["workload"] == name and not r["trace"]]
        traced = [r for r in records if r["workload"] == name and r["trace"]]
        entry: dict = {"sizes": dict(wl.sizes), "runs": len(untraced)}
        if len(untraced) >= 2:
            entry["end_to_end"] = {
                k: {
                    "median": statistics.median([r["metrics"][k] for r in untraced]),
                    "spread": spread([r["metrics"][k] for r in untraced]),
                }
                for k in untraced[0]["metrics"]
            }
        if traced:
            t = traced[-1]
            entry["traced_seed"] = t["seed"]
            entry["per_layer"] = t["metrics"]
            untraced_pass = entry.get("end_to_end", {}).get("pass_s", {}).get("median")
            entry["tracing_overhead"] = {
                "in_run_traced_minus_untraced_pass_s": t["metrics"]["trace.overhead_s"],
                "traced_pass_minus_untraced_runs_median_s": (
                    t["metrics"]["trace.pass_s"] - untraced_pass if untraced_pass else None
                ),
            }
            warm = t["warm"] + t["traced_warm"]
            entry["count_vs_noop_s"] = {
                q: {"count": t["count_s"][q], "materializing": statistics.median([p[q] for p in warm])}
                for q in t["count_s"]
            }
        summary[name] = entry
    return summary


if __name__ == "__main__":
    records = sys.argv[1] if len(sys.argv) > 1 else os.path.join(os.path.dirname(HERE), ".perfbench_out")
    json.dump(summarize(records), sys.stdout, indent=2)
    print()
