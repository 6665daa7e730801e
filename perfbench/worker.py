"""One measured benchmark process, started by run.py.

It builds the engine (the set-up), runs the cold pass, checking each
query's output right after its timed run (untimed), then runs warm
passes until ``--seconds`` have passed, and at least ``MIN_PASSES``.
With ``--trace 1`` one untimed warm-up pass runs first; then untraced
(U) and traced (T) warm passes alternate in U T T U order, so that a
trend over the run falls on both kinds alike. Spans and Spark counters
are recorded for the traced passes, and the count() diagnostic runs
last. The result is one JSON file (``--out``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

MIN_PASSES = 2  # the first warm pass settles; end-to-end metrics skip it
TRACED_MIN_PASSES = 4  # one U T T U cycle after the warm-up pass


def is_traced(i: int) -> bool:
    """Whether warm pass ``i`` of a traced run is traced: U T T U U T T U ..."""
    return (i % 2 == 1) != (i // 2 % 2 == 1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from spans import SparkProbe, Tracer, phases
    from workloads import DOC_FORMATS, REGISTRY_TABLES, WORKLOADS

    wl = WORKLOADS[args.workload]
    tracer = Tracer(bool(args.trace))
    with open(os.path.join(args.data, "inputs.json")) as f:
        inputs = json.load(f)

    # -- set-up: package import, session, engine, registration -----------------
    with tracer.span("setup", "setup"):
        with tracer.span("import"):
            from sql_interface_to_xml_database_for_spatial_operations_spark import (
                get_spark,
                operators,
            )
            from sql_interface_to_xml_database_for_spatial_operations_spark.engine import (
                SpatialSQLEngine,
            )
            from sql_interface_to_xml_database_for_spatial_operations_spark.operators import (
                registry,
            )

            if wl.kind == "registry":
                operators.load_all()
        with tracer.span("session.get_spark"):
            spark = get_spark("perfbench", cpus="4")
        with tracer.span("engine.register_udfs"):
            engine = SpatialSQLEngine(spark)
        # registry rows load their own tables inside fn(spark, sf)
        if wl.kind == "docs":
            with tracer.span("sources.register"):
                for fmt in DOC_FORMATS:
                    reg = engine.register_geojson if fmt == "geojson" else engine.register_xml
                    for name in ("puskesmas", "kecamatan"):
                        reg(f"{name}_{fmt}", os.path.join(args.data, fmt, name))
    ready = time.time()
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    probe = SparkProbe(spark) if args.trace else None
    state = {"group": None, "df": None, "build_jobs": 0}

    def built(df):
        """Bookkeeping after a query's DataFrame is built (traced passes)."""
        state["df"] = df
        if state["group"] is not None:
            state["build_jobs"] = len(probe.job_ids(state["group"]))

    # -- the fixed query list: (id, timed run, untimed check, count diagnostic)
    queries = []
    if wl.kind == "docs":
        from check import kinerja_matches
        from gen import kinerja_sql

        plain_sql = engine.sql

        def traced_sql(query: str):
            with tracer.span("engine.sql"):
                df = plain_sql(query)
            built(df)
            return df

        engine.sql = traced_sql
        for fmt in DOC_FORMATS:
            for qname, sql in kinerja_sql(f"puskesmas_{fmt}", f"kecamatan_{fmt}").items():

                def run(sql=sql):
                    with tracer.span("engine.process_query"):
                        return engine.process_query(sql, limit=None)

                def check(result, qname=qname):
                    return kinerja_matches(qname, result, inputs["expected"][qname])

                queries.append((f"{qname}.{fmt}", run, check, lambda sql=sql: engine.sql(sql).count()))
    else:
        from check import Oracle

        oracle = Oracle(args.data, REGISTRY_TABLES)
        fns, oracles = registry.spark_queries(), registry.oracle_queries()
        by_id = {n.split("_")[0]: n for n in fns}
        for row in wl.rows:
            fn, oracle_sql = fns[by_id[row]], oracles[by_id[row]]

            def run(fn=fn):
                with tracer.span("operators.build"):
                    df = fn(spark, args.data)
                built(df)
                with tracer.span("session.action"):
                    df.write.format("noop").mode("overwrite").save()
                return df

            def check(df, oracle_sql=oracle_sql):
                # re-executes the plan the timed action just ran; the next
                # query's build releases this one's cached intermediates
                with tracer.span("engine.fetch"):
                    got = df.toPandas()
                return oracle.matches(got, oracle_sql)

            queries.append((row, run, check, lambda fn=fn: fn(spark, args.data).count()))

    counters: list[dict] = []  # one entry per traced query execution
    checks: dict[str, bool] = {}

    def run_pass(label: str, traced: bool) -> dict[str, float]:
        tracer.enabled = traced  # untraced passes record no spans either
        lat = {}
        for qid, run, check, _ in queries:
            group = f"{label}:{qid}"
            state["group"] = group if traced else None
            if traced:
                sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            with tracer.span("query", group):
                out = run()
            lat[qid] = time.perf_counter() - t0
            if traced:
                c = probe.collect(group)
                if wl.kind == "registry":
                    # the noop write plans its own copy of the query; force
                    # this QueryExecution's phases outside the timed span
                    state["df"]._jdf.queryExecution().executedPlan()
                c.phases = phases(state["df"])
                fetch_s = engine.stats[-1].fetch_seconds if wl.kind == "docs" else 0.0
                counters.append(
                    {"pass": label, "query": qid, "build_jobs": state["build_jobs"],
                     "fetch_s": fetch_s, **vars(c)}
                )
            if label == "cold":
                # untimed output check, once per query, on the cold run
                with tracer.span("check", f"check:{qid}"):
                    checks[qid] = bool(check(out))
        return lat

    cold = run_pass("cold", traced=bool(args.trace))
    if args.trace:
        run_pass("warmup", traced=False)

    warm: list[dict] = []
    traced_warm: list[dict] = []
    t_start = time.perf_counter()
    min_passes = TRACED_MIN_PASSES if args.trace else MIN_PASSES
    i = 0
    while i < min_passes or time.perf_counter() - t_start < args.seconds:
        traced = bool(args.trace) and is_traced(i)
        (traced_warm if traced else warm).append(run_pass(f"warm{i}", traced))
        i += 1

    result = {
        "ready": ready,
        "cold_pass_s": sum(cold.values()),
        "cold": cold,
        "warm": warm,
        "checks": checks,
        # only the cold-pass executions are checked, so the error rate is
        # failed / checked executions; timed ones are counted beside it
        "attempted": len(checks),
        "failed": sum(not ok for ok in checks.values()),
        "timed_executions": len(queries) * (1 + len(warm) + len(traced_warm)),
    }
    if args.trace:
        # count() diagnostic: the lane Catalyst can prune UDF projections under
        tracer.enabled = True
        count_s = {}
        for qid, _, _, count in queries:
            t0 = time.perf_counter()
            with tracer.span("diag.count", f"count:{qid}"):
                count()
            count_s[qid] = time.perf_counter() - t0
        result.update(
            traced_warm=traced_warm,
            count_s=count_s,
            counters=counters,
            spans=tracer.to_json(),
        )
    _write(args.out, result)
    spark.stop()
    return 0


def _write(path: str, obj: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


if __name__ == "__main__":
    sys.exit(main())
