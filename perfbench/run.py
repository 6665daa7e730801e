#!/usr/bin/env python3
"""Benchmark of the spatial SQL engine: one closed-loop client per run.

    python3 perfbench/run.py --workload kinerja_docs --seed 1 --seconds 8 --trace 0

Workloads (perfbench/workloads.py): ``kinerja_docs`` runs the paper's
Q-D1..Q-D5 as SQL text over GeoJSON and GML documents through
``SpatialSQLEngine.process_query``; ``spatial_kernels`` and
``iterative_driver`` run registry rows as ``fn(spark, sf)`` followed by a
``noop`` write, which materializes every output column.

A run generates its inputs from ``--seed`` under ``.perfbench_work/``,
starts one measured process on ``get_spark(cpus=4)``, samples the
resident memory of that process tree from outside, and checks every
query's output once, untimed: registry rows against their DuckDB oracle,
kinerja queries against the generator's answers. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` prints the per-layer metrics of the
traced run. The last stdout line is one JSON object; the full record
(per-query latencies, spans, counters) goes to ``.perfbench_out/``.
The exit code is non-zero when any output is wrong or a query fails.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from gen import write_kinerja, write_tables  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

PACKAGE = "sql_interface_to_xml_database_for_spatial_operations_spark"
RUN_BUDGET_S = 150  # worker deadline; reaping and reporting fit in the rest of 180 s
TINY = {"points": 200, "districts": 4, "customers": 150}
PAGE = os.sysconf("SC_PAGE_SIZE")


def _session_procs(sid: int) -> dict[int, int]:
    """pid -> resident bytes of every live process in session ``sid``."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            out[int(d)] = int(fields[21]) * PAGE
    return out


class Child:
    """A worker process in its own session, with its tree's RSS sampled."""

    def __init__(self, args: list[str], env: dict, cwd: str, log) -> None:
        self.spawned = time.time()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *args],
            env=env, cwd=cwd, stdout=log, stderr=log, start_new_session=True,
        )
        self.peak_rss = 0
        self._done = threading.Event()
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._sampler.start()

    def _sample(self) -> None:
        while not self._done.is_set():
            self.peak_rss = max(self.peak_rss, sum(_session_procs(self.proc.pid).values()))
            self._done.wait(0.2)

    def wait(self, timeout: float) -> int:
        try:
            code = self.proc.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            code = -1
        self._done.set()
        self._sampler.join()
        # the JVM and Python workers outlive the worker briefly; reap them all,
        # at once when the worker missed its deadline
        deadline = time.time() + (15 if code != -1 else 0)
        while _session_procs(self.proc.pid):
            if time.time() > deadline:
                for pid in _session_procs(self.proc.pid):
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except OSError:
                        pass
            time.sleep(0.1)
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()
        return code


def generate(wl, seed: int, data: str, sizes: dict) -> dict:
    if wl.kind == "docs":
        expected = write_kinerja(data, seed, sizes["points"], sizes["districts"])
        doc_bytes = sum(
            os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(data) for f in fs
        )
        return {"sizes": sizes, "expected": expected, "doc_bytes": doc_bytes}
    rows = write_tables(data, seed, sizes["customers"])
    return {"sizes": sizes, "rows": rows}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(main: dict, setup_s: float, peak_rss: int) -> dict:
    # The first warm pass still settles (JIT, worker reuse) and swings most
    # from run to run; warm metrics count the passes after it.
    counted = main["warm"][1:]
    passes = [sum(p.values()) for p in counted]
    per_query = [median([p[q] for p in counted]) for q in counted[0]]
    return {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (main["cold_pass_s"], "s"),
        "pass_s": (median(passes), "s"),
        "query_geomean_s": (math.exp(sum(map(math.log, per_query)) / len(per_query)), "s"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
    }


def per_layer(main: dict, wl, inputs: dict) -> dict:
    spans = main["spans"]
    by_name = lambda name: [s for s in spans if s["name"] == name]  # noqa: E731
    labels = sorted({c["pass"] for c in main["counters"] if c["pass"] != "cold"})

    def in_pass(s, label):
        return (s["query"] or "").startswith(label + ":")

    def per_pass(fn):
        return median([fn(label) for label in labels])

    def pass_total(key, label):
        return sum(c[key] for c in main["counters"] if c["pass"] == label)

    def counter(key):
        return per_pass(lambda lb: pass_total(key, lb))

    def span_sum(name, use_self=False):
        key = "self" if use_self else None
        return per_pass(
            lambda lb: sum(
                (s[key] if key else s["end"] - s["start"]) for s in by_name(name) if in_pass(s, lb)
            )
        )

    def phase(name):
        return per_pass(
            lambda lb: sum(c["phases"][name] for c in main["counters"] if c["pass"] == lb)
        )

    docs = wl.kind == "docs"
    setup = lambda name: sum(s["end"] - s["start"] for s in by_name(name))  # noqa: E731
    evaluated = counter("refine_evaluated")
    untraced = median([sum(p.values()) for p in main["warm"]])
    traced = median([sum(p.values()) for p in main["traced_warm"]])
    m = {
        "session.get_spark_s": (setup("session.get_spark"), "s"),
        "session.action_s": (span_sum("engine.process_query" if docs else "session.action", True), "s"),
        "session.jobs": (counter("jobs"), "count"),
        "session.stages": (counter("stages"), "count"),
        "session.tasks": (counter("tasks"), "count"),
        "session.shuffle_write_bytes": (counter("shuffle_write_bytes"), "bytes"),
        "session.spill_bytes": (counter("spill_bytes"), "bytes"),
        "session.count_s": (sum(main["count_s"].values()), "s"),
        "engine.register_udfs_s": (setup("engine.register_udfs"), "s"),
        "engine.analysis_s": (phase("analysis"), "s"),
        "engine.optimization_s": (phase("optimization"), "s"),
        "engine.planning_s": (phase("planning"), "s"),
        "engine.fetch_s": (
            counter("fetch_s") if docs else sum(s["end"] - s["start"] for s in by_name("engine.fetch")),
            "s",
        ),
        "sources.register_s": (setup("sources.register"), "s"),
        "sources.scan_bytes": (counter("input_bytes"), "bytes"),
        "sources.scan_rows": (counter("scan_rows"), "count"),
        "sources.parse_passes": (
            counter("input_bytes") / inputs["doc_bytes"] if docs else 0.0,
            "ratio",
        ),
        "operators.build_s": (span_sum("engine.sql" if docs else "operators.build"), "s"),
        "operators.build_jobs": (counter("build_jobs"), "count"),
        # warm passes reuse the workers the cold pass started
        "functions.python_boot_s": (pass_total("python_boot_s", "cold"), "s"),
        "functions.python_init_s": (counter("python_init_s"), "s"),
        "functions.python_exec_s": (counter("python_exec_s"), "s"),
        "functions.python_rows": (counter("python_rows"), "count"),
        "functions.python_bytes": (counter("python_bytes"), "bytes"),
        "functions.refine_ratio": (counter("refine_kept") / evaluated if evaluated else 0.0, "ratio"),
        "caching.cached_bytes": (counter("cached_bytes"), "bytes"),
        # U T T U order after a warm-up pass: pass order cancels out
        "trace.pass_s": (traced, "s"),
        "trace.overhead_s": (traced - untraced, "s"),
    }
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: engine package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    t_begin = time.time()
    wl = WORKLOADS[args.workload]
    sizes = {k: TINY[k] for k, _ in wl.sizes} if args.tiny else dict(wl.sizes)

    tag = f"{wl.name}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    data, tmp = os.path.join(work, "data"), os.path.join(work, "tmp")
    for d in (data, tmp, out_dir):
        os.makedirs(d, exist_ok=True)
    inputs = generate(wl, args.seed, data, sizes)
    with open(os.path.join(data, "inputs.json"), "w") as f:
        json.dump(inputs, f)

    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    main_out = os.path.join(work, "main.json")
    with open(os.path.join(work, "worker.log"), "w") as log:
        child = Child(
            ["--workload", wl.name, "--data", data, "--out", main_out,
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            env, work, log,
        )
        code = child.wait(RUN_BUDGET_S - (time.time() - t_begin))
    result = None
    if os.path.exists(main_out):
        with open(main_out) as f:
            result = json.load(f)

    if code != 0 or result is None:
        with open(os.path.join(work, "worker.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"perfbench: worker exited with {code}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 1

    setup_s = result["ready"] - child.spawned  # fresh process to engine ready
    if args.trace:
        metrics = per_layer(result, wl, inputs)
    else:
        metrics = end_to_end(result, setup_s, child.peak_rss)
    record = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace, "sizes": sizes,
        "setup_s": setup_s, "peak_rss_bytes": child.peak_rss, "wall_s": time.time() - t_begin,
        "metrics": {k: v for k, (v, _) in metrics.items()},
        **{k: v for k, v in result.items() if k != "ready"},
    }
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump(record, f)
    shutil.rmtree(work, ignore_errors=True)

    failed = result["failed"]
    for qid, ok in result["checks"].items():
        print(f"check {qid}: {'ok' if ok else 'WRONG'}", file=sys.stderr)
    # every checked execution counts once; timed_executions are not checked
    print(f"error_rate {failed / result['attempted']:.4f} ratio", file=sys.stderr)
    for k, (v, unit) in metrics.items():
        print(f"{k} {v:.6g} {unit}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": result["attempted"],
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
