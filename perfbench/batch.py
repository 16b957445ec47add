"""The two batch workloads: a frozen list of registry queries, run in a
seeded order with noop-write materialization as ``bench.py`` does.

Two untimed warm passes come first: one builds every query, fetches its
result to the driver and compares it with the query's DuckDB oracle
(through ``verify_local``'s fetch and fingerprint); one runs the list as
the timed passes do. Then timed passes run until the measuring time is
used up, three at least. A query's latency is its plan build plus
its action; the benchmark's own isolation step between queries
(``clear_cache``) is outside it.
"""

from __future__ import annotations

import random
import time

import duckdb

import queries as frozen
from checks import compare
from stats import geomean, median, per_pass

MIN_PASSES = 3
_LAYER_KEYS = (
    "plans.build_ms", "exec.action_ms", "plans.build_jobs", "exec.jobs",
    "exec.stages", "exec.tasks", "exec.run_ms", "exec.cpu_ms", "exec.gc_ms",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "catalyst.exchanges",
    "python.boot_ms", "python.init_ms", "python.total_ms",
    "python.bytes_sent", "python.bytes_received",
    "sources.bytes_written", "sources.files_written",
)


def _timed_query(run, fn, tag: str) -> tuple[object, float, float]:
    """Build and materialize one query; (df, build_s, action_s)."""
    sc = run.spark.sparkContext
    tracer = run.tracer
    sc.setJobGroup(tag + ":build", tag)
    t0 = time.perf_counter()
    with tracer.span("plans.build"):
        df = fn(run.spark, run.sf_dir)
    t1 = time.perf_counter()
    sc.setJobGroup(tag + ":action", tag)
    with tracer.span("exec.action"):
        df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    return df, t1 - t0, t2 - t1


def execute(run, t_start: float) -> dict:
    from technical_test_data_engineer_spark.plans import ORACLE, QUERIES

    names = frozen.resolve(run.args.workload, QUERIES, ORACLE)
    random.Random(run.args.seed).shuffle(names)
    spark = run.spark

    t0 = time.perf_counter()
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{run.sf_dir}/{t}.parquet')")
    warm_ms = {}
    for name in names:
        run.attempted += 1
        tw = time.perf_counter()
        try:
            # the fetch runs the plan once; it warms what the timed
            # passes run and checks the result in the same execution
            df = QUERIES[name](spark, run.sf_dir)
            problem = compare(df.toPandas(), con, ORACLE[name])
        except Exception as exc:  # noqa: BLE001 — counted, run continues
            problem = exc
        if problem is not None:
            run.fail(name, problem)
        warm_ms[name] = (time.perf_counter() - tw) * 1000.0
        run.clear_cache()
    con.close()
    # the first pass after the checked one still runs ~15% slow (JIT);
    # a second, plain warm pass puts every timed pass on the plateau
    for name in names:
        run.attempted += 1
        try:
            _timed_query(run, QUERIES[name], f"warm2:{name}")
        except Exception as exc:  # noqa: BLE001
            run.fail(name, exc)
        run.clear_cache()
    run.layers["session.warm_s"] = time.perf_counter() - t0
    run.tracer.begin()
    setup_s = time.perf_counter() - t_start

    records: list[dict] = []
    window0 = time.perf_counter()
    k = 0
    while k < MIN_PASSES or time.perf_counter() - window0 < run.args.seconds:
        for name in names:
            run.attempted += 1
            tag = f"{name}#{k}"
            stored = run.stored() if run.tracer.enabled else None
            try:
                with run.tracer.span("op"):
                    df, build_s, action_s = _timed_query(run, QUERIES[name], tag)
            except Exception as exc:  # noqa: BLE001
                run.fail(name, exc)
                run.clear_cache()
                continue
            rec = {"kind": name, "pass": k,
                   "latency_ms": (build_s + action_s) * 1000.0,
                   "plans.build_ms": build_s * 1000.0,
                   "exec.action_ms": action_s * 1000.0}
            run.clear_cache()
            rec.update(run.tracer.counters(
                {"build": tag + ":build", "action": tag + ":action"}, df))
            if stored is not None:
                size, files = run.stored()
                rec["sources.bytes_written"] = float(max(0, size - stored[0]))
                rec["sources.files_written"] = float(max(0, files - stored[1]))
            records.append(rec)
        k += 1

    lat = [r["latency_ms"] for r in records]
    query_ms = {
        n: median([r["latency_ms"] for r in records if r["kind"] == n])
        for n in names
    }
    if run.tracer.enabled:
        for key in _LAYER_KEYS:
            run.layers[key] = per_pass(records, key)
        run_ms = sum(r["exec.run_ms"] for r in records)
        run.layers["exec.cpu_ratio"] = (
            sum(r["exec.cpu_ms"] for r in records) / run_ms if run_ms else 0.0
        )
    return {
        "setup_s": setup_s,
        # one pass with every query at its median latency
        "sweep_s": sum(query_ms.values()) / 1000.0,
        "op_geomean_ms": geomean(query_ms.values()),
        "latencies_ms": lat,
        "passes": k,
        "pass_s": [sum(r["latency_ms"] for r in records if r["pass"] == i) / 1000.0
                   for i in range(k)],
        "warm_ms": warm_ms,
        "query_ms": query_ms,
        "query_build_jobs": {
            n: min((r["plans.build_jobs"] for r in records if r["kind"] == n),
                   default=0)
            for n in names
        } if run.tracer.enabled else None,
    }
