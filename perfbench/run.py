"""Benchmark of the spark-graft engine.

    python3 perfbench/run.py --workload NAME [--seed N] [--seconds S] [--trace 0|1]

Workloads (see WORKLOADS.md):

- ``batch_driver``: registry queries that launch Spark jobs while the
  plan is built (driver-side collects);
- ``batch_distributed``: registry queries that launch none;
- ``dashboard_session``: publish-then-query cycles of the dashboard
  service over a versioned snapshot store.

A run generates its sf0.01 inputs from ``--seed`` (default 0), starts
one session on ``local[nproc]``, makes untimed warm passes — the first
checks every output — then runs whole timed passes until ``--seconds``
have passed (a minimum number at least), and prints as its last stdout line
``{"correct", "attempted", "failed", "metrics"}``, preceded by a
``# detail`` line. With ``--trace 0`` the metrics are the end-to-end
ones; with ``--trace 1`` the run also records spans and Spark counters
per operation and prints the per-layer metrics instead. Everything the
run writes stays under ``.perfbench_work/`` beside this directory and
is removed at exit. The run fails, printing no result, when the
``technical_test_data_engineer_spark`` package is not beside it.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time

from stats import median, tail

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("batch_driver", "batch_distributed", "dashboard_session")
SF = 0.01
DRIVER_MEM = "3g"
# per-layer metric -> unit; a layer a workload does not use reads 0
PER_LAYER = {
    "session.start_s": "s", "session.warm_s": "s", "session.peak_rss_mb": "MB",
    "plans.build_ms": "ms", "plans.build_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "catalyst.exchanges": "count",
    "exec.action_ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.run_ms": "ms", "exec.cpu_ms": "ms",
    "exec.cpu_ratio": "ratio", "exec.gc_ms": "ms",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "python.boot_ms": "ms", "python.init_ms": "ms", "python.total_ms": "ms",
    "python.bytes_sent": "bytes", "python.bytes_received": "bytes",
    "service.prepare_ms": "ms", "service.plot1_ms": "ms",
    "service.plot2_ms": "ms", "service.plot3_ms": "ms",
    "service.plot4_ms": "ms", "service.file_bytes_read": "bytes",
    "service.freshness_s": "s",
    "sources.upsert_ms": "ms", "sources.compact_ms": "ms",
    "sources.expire_ms": "ms", "sources.bytes_written": "bytes",
    "sources.files_written": "count", "sources.write_amp": "ratio",
    "sources.storage_per_live_byte": "ratio",
    "trace.overhead_ms": "ms",  # per pass, spent outside the timed spans
}


class Run:
    """State of one benchmark run: session, inputs, tracer, tallies."""

    def __init__(self, args):
        self.args = args
        self.workdir = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
        self.sf_dir = os.path.join(self.workdir, "inputs")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.layers: dict[str, float] = {}
        self.spark = None
        self.tracer = None

    # -- isolation and session --------------------------------------------

    def isolate(self) -> None:
        """Keep every file the run writes under its work directory and
        let Python workers import the package from the checkout."""
        for sub in ("local", "tmp", "warehouse"):
            os.makedirs(os.path.join(self.workdir, sub), exist_ok=True)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.workdir, "local")
        os.environ["TMPDIR"] = os.path.join(self.workdir, "tmp")
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
        os.chdir(self.workdir)

    def start_session(self, nproc: int):
        from technical_test_data_engineer_spark.session import (
            DEFAULT_CONFS,
            get_spark,
        )

        java_opts = " ".join((
            DEFAULT_CONFS["spark.driver.extraJavaOptions"],
            f"-Djava.io.tmpdir={os.path.join(self.workdir, 'tmp')}",
            "-XX:-UsePerfData",
        ))
        self.spark = get_spark(
            "perfbench",
            master=f"local[{nproc}]",
            shuffle_partitions=nproc,
            extra_confs={
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.workdir, "warehouse"),
                "spark.driver.extraJavaOptions": java_opts,
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        """Stop the session and wait for the JVM (and with it the
        Python workers) to exit; then remove the work directory."""
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                gateway.shutdown()
                proc.stdin.close()
                proc.wait(timeout=60)
        os.chdir(ROOT)
        shutil.rmtree(self.workdir, ignore_errors=True)
        parent = os.path.dirname(self.workdir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    def stored(self) -> tuple[int, int]:
        """(bytes, parquet files) the run keeps under its work directory:
        the warehouse, the snapshot root and anything else a query
        writes there, but not the generated inputs, shuffle files or the
        JVM's temporary files."""
        from checks import du

        return du(self.workdir, skip=("inputs", "local", "tmp"))

    def peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        jvm_kb = 0
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0

    # -- operations ---------------------------------------------------------

    def fail(self, what: str, problem) -> None:
        """Count a failed operation; ``problem`` is an exception or text."""
        self.failed += 1
        text = str(problem).strip() or type(problem).__name__
        self.errors.append(f"{what}: {text.splitlines()[0][:300]}")

    def clear_cache(self) -> None:
        """Per-operation isolation, as bench.py does: drop cached frames
        and persisted RDDs, then collect the JVM heap."""
        spark = self.spark
        spark.catalog.clearCache()
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()
        spark._jvm.System.gc()


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=6.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="scale factor override (the self-test uses 0.001)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # fails here, before any output, when the package is not beside us
    import technical_test_data_engineer_spark.plans  # noqa: F401

    import datagen
    from spans import NullTracer, Tracer

    run = Run(args)
    sf = args.sf if args.sf is not None else SF
    nproc = len(os.sched_getaffinity(0))
    try:
        run.isolate()
        rows = datagen.write_tables(run.sf_dir, sf, args.seed)
        t0 = time.perf_counter()
        run.start_session(nproc)
        run.layers["session.start_s"] = time.perf_counter() - t0
        run.tracer = Tracer(run.spark) if args.trace else NullTracer()
        if args.workload == "dashboard_session":
            import dashboard as workload
        else:
            import batch as workload
        detail = workload.execute(run, T_START)
        run.layers["session.peak_rss_mb"] = run.peak_rss_mb()
    finally:
        run.stop()

    lat = detail.pop("latencies_ms")
    t_val, t_level, t_n = tail(lat)
    e2e = {
        "setup_s": (detail.pop("setup_s"), "s"),
        "sweep_s": (detail.pop("sweep_s"), "s"),
        "op_geomean_ms": (detail.pop("op_geomean_ms"), "ms"),
    }
    detail.update({
        "workload": args.workload, "seed": args.seed, "sf": sf,
        "nproc": nproc, "rows": rows,
        "op_p50_ms": median(lat), "op_tail_ms": t_val,
        "op_tail_level": t_level, "op_samples": t_n,
        "session_start_s": run.layers["session.start_s"],
        "warm_s": run.layers["session.warm_s"],
        "peak_rss_mb": run.layers["session.peak_rss_mb"],
        "errors": run.errors[:20],
    })
    if args.trace:
        run.layers["trace.overhead_ms"] = (
            run.tracer.overhead_s * 1000.0 / max(1, detail["passes"]))
        metrics = {k: (run.layers.get(k, 0.0), u) for k, u in PER_LAYER.items()}
        detail["span_self_s"] = run.tracer.self_times()
    else:
        metrics = e2e
    print("# detail " + json.dumps(detail, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
