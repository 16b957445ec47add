"""The dashboard workload: the reference's scrape-then-view lifecycle on
the engine's versioned snapshot store and query service.

Set-up publishes ``{orders,customer,nation}.parquet`` with
``publish_tables``. Each cycle then:

1. writes: a ``publish_upsert`` of a seeded batch to ``orders.parquet``
   (0.8% of rows updated, 0.2% inserted), or every third cycle a
   ``compact_table`` to one file; then ``expire_snapshots(keep_last=2)``;
2. opens a new ``QueryService`` on the new snapshot and sets up the
   widgets once, as the reference does per user session: ``date_bounds``
   — the first answer, which fills the service's cache and ends the
   freshness interval — then ``nation_options``;
3. runs a closed-loop burst of one client: ``BURST`` widget changes
   with seeded as-of days, nation IN-lists and customer keys, each
   re-running ``plot1``..``plot4`` as the reference re-runs its four
   plots on every widget interaction; every plot is fetched to the
   driver.

Untimed, every snapshot is compared with what it should hold and every
answer with the same question asked of DuckDB over the same snapshot
files. A first, untimed cycle is the warm pass.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq

import datagen
from checks import compare, du
from stats import geomean, median, per_pass

KEEP_LAST = 2
COMPACT_EVERY = 3
UPDATE_SHARE, INSERT_SHARE = 0.008, 0.002
# widget changes per cycle; one keeps a run of three cycles under a
# minute on 4 cores (an interaction runs four plots, ~2 s)
BURST = 1
PLOTS = ("plot1", "plot2", "plot3", "plot4")
# operation kinds op_geomean_ms averages over
KINDS = ("first_answer", "nation_options", "interaction")
_ORDER_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority")

_FACT = """
SELECT o.o_orderkey, o.o_custkey, o.o_orderpriority,
       CAST(o.o_orderdate AS DATE) AS debut,
       CAST(o.o_orderdate AS DATE) + CAST(o.o_orderkey % 90 AS INTEGER) AS fin,
       c.c_mktsegment, n.n_name
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
"""
_TOP = """
top AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        ORDER BY o_orderpriority, o_orderkey DESC) AS rn FROM active)
        WHERE rn = 1)
"""


def _oracle_sql(kind: str, arg) -> str:
    if kind == "plot1":
        return (f"WITH f AS ({_FACT}), active AS (SELECT * FROM f WHERE "
                f"debut <= DATE '{arg}' AND DATE '{arg}' <= fin), {_TOP} "
                "SELECT o_orderpriority, count(*) AS nb_customers FROM top "
                "GROUP BY o_orderpriority")
    if kind == "plot2":
        day, nations = arg
        names = ", ".join(f"'{n}'" for n in nations)
        return (f"WITH f AS ({_FACT}), active AS (SELECT * FROM f WHERE "
                f"debut <= DATE '{day}' AND DATE '{day}' <= fin "
                f"AND n_name IN ({names})), {_TOP}, "
                "p AS (SELECT n_name, count(*) AS nb, min(o_orderpriority) AS tp "
                "FROM top GROUP BY n_name) "
                "SELECT nn.n_name AS nation, coalesce(p.nb, 0) AS nb_customers, "
                "coalesce(p.tp, 'none') AS top_priority "
                "FROM nation nn LEFT JOIN p ON nn.n_name = p.n_name")
    if kind == "plot3":
        return (f"WITH f AS ({_FACT}) SELECT o_orderkey, debut, fin, "
                "date_diff('day', debut, fin) + 1 AS duration_days, "
                f"o_orderpriority FROM f WHERE o_custkey = {arg}")
    if kind == "plot4":
        # counted directly per calendar day between the date bounds
        # ``arg``, not by the service's delta/prefix-sum plan
        lo, hi = arg
        return (f"WITH f AS ({_FACT}), days AS (SELECT CAST(generate_series "
                f"AS DATE) AS day FROM generate_series(TIMESTAMP '{lo}', "
                f"TIMESTAMP '{hi}', INTERVAL 1 DAY)) "
                "SELECT d.day, f.c_mktsegment, count(*) AS n_active "
                "FROM days d JOIN f ON f.debut <= d.day AND d.day <= f.fin "
                "GROUP BY d.day, f.c_mktsegment")
    if kind == "date_bounds":
        return f"WITH f AS ({_FACT}) SELECT min(debut), max(fin) FROM f"
    return f"WITH f AS ({_FACT}) SELECT DISTINCT n_name FROM f ORDER BY 1"


class Session:
    """One dashboard session over a snapshot root."""

    def __init__(self, run):
        self.run = run
        self.spark = run.spark
        self.rng = np.random.default_rng(run.args.seed)
        self.root = os.path.join(run.workdir, "snapshots")
        self.upd_dir = os.path.join(run.workdir, "updates")
        os.makedirs(self.upd_dir, exist_ok=True)
        orders = pq.read_table(os.path.join(run.sf_dir, "orders.parquet"))
        self.n_orders = orders.num_rows
        self.next_key = int(np.max(orders.column("o_orderkey").to_numpy())) + 1
        self.n_cust = pq.read_metadata(
            os.path.join(run.sf_dir, "customer.parquet")).num_rows
        self.con = duckdb.connect()
        self.cycle = 0
        self.records: list[dict] = []

    # -- inputs ---------------------------------------------------------

    def _update_batch(self) -> tuple[str, int]:
        """Write the next seeded update batch; (path, bytes)."""
        rng = self.rng
        n_upd = max(1, round(UPDATE_SHARE * self.n_orders))
        n_ins = max(1, round(INSERT_SHARE * self.n_orders))
        keys = np.concatenate([
            rng.choice(self.next_key, n_upd, replace=False),
            np.arange(self.next_key, self.next_key + n_ins),
        ])
        self.next_key += n_ins
        table = datagen.orders_table(rng, keys, self.n_cust)
        path = os.path.join(self.upd_dir, f"u{self.cycle}.parquet")
        pq.write_table(table, path)
        return path, os.path.getsize(path)

    def _widget_args(self) -> dict:
        """Seeded widget state of one interaction, per plot."""
        rng = self.rng
        day = dt.date(1995, 1, 1) + dt.timedelta(days=int(rng.integers(0, 2490)))
        k = int(rng.integers(1, 6))
        nations = [f"NATION_{i}" for i in sorted(rng.choice(25, k, replace=False))]
        return {"plot1": day, "plot2": (day, nations),
                "plot3": int(rng.integers(0, self.n_cust)), "plot4": None}

    # -- checks (untimed) ---------------------------------------------------

    def _views(self, version: int) -> None:
        vdir = os.path.join(self.root, f"_v{version}")
        for t in ("orders", "customer", "nation"):
            self.con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{vdir}/{t}.parquet/*.parquet')")

    def _diff(self, a: str, b: str) -> int:
        return self.con.execute(
            f"SELECT (SELECT count(*) FROM (SELECT * FROM ({a}) EXCEPT ALL "
            f"SELECT * FROM ({b}))) + (SELECT count(*) FROM (SELECT * FROM "
            f"({b}) EXCEPT ALL SELECT * FROM ({a})))").fetchone()[0]

    def check_snapshot(self, prev: int, new: int, upd_path: str | None) -> str | None:
        cols = ", ".join(_ORDER_COLS)
        scan = lambda v, t: (  # noqa: E731
            f"SELECT * FROM read_parquet('{self.root}/_v{v}/{t}.parquet/*.parquet')")
        old = f"SELECT {cols} FROM ({scan(prev, 'orders')})"
        got = f"SELECT {cols} FROM ({scan(new, 'orders')})"
        want = old
        if upd_path is not None:
            upd = f"SELECT {cols} FROM read_parquet('{upd_path}')"
            want = (f"SELECT * FROM ({old}) WHERE o_orderkey NOT IN "
                    f"(SELECT o_orderkey FROM ({upd})) UNION ALL {upd}")
        bad = self._diff(got, want)
        for t in ("customer", "nation"):
            bad += self._diff(scan(new, t), scan(prev, t))
        return None if bad == 0 else f"snapshot _v{new}: {bad} rows differ"

    def check_answer(self, kind: str, arg, result) -> str | None:
        bounds = tuple(self.con.execute(_oracle_sql("date_bounds", None)).fetchone())
        if kind == "first_answer":
            return None if tuple(result) == bounds else f"{result} != {bounds}"
        sql = _oracle_sql(kind, bounds if kind == "plot4" else arg)
        if kind == "nation_options":
            want = [r[0] for r in self.con.execute(sql).fetchall()]
            return None if list(result) == want else "nation list differs"
        return compare(result, self.con, sql)

    # -- the lifecycle --------------------------------------------------------

    def publish_initial(self) -> None:
        from technical_test_data_engineer_spark.sources.atomic import publish_tables

        publish_tables(self.root, {
            f"{t}.parquet": self.spark.read.parquet(
                os.path.join(self.run.sf_dir, f"{t}.parquet"))
            for t in ("orders", "customer", "nation")
        })

    def _op(self, kind: str, fn, pass_idx: int, answer: bool = False):
        """Time ``fn()`` as one operation tagged ``kind``; returns
        (result, seconds). Counters are read after the clock stops."""
        run = self.run
        tag = f"{kind}#{len(self.records)}"
        run.spark.sparkContext.setJobGroup(tag, tag)
        t0 = time.perf_counter()
        with run.tracer.span(kind):
            result = fn()
        secs = time.perf_counter() - t0
        rec = {"kind": kind, "pass": pass_idx, "ms": secs * 1000.0}
        if answer:
            rec["answer"] = 1.0
        rec.update(run.tracer.counters({"action": tag}))
        self.records.append(rec)
        return result, secs

    def _answer(self, kind: str, fn, arg, pass_idx: int):
        """One answered operation: timed, then checked; seconds, or None
        when it raised or answered wrong."""
        run = self.run
        run.attempted += 1
        try:
            result, secs = self._op(kind, fn, pass_idx, answer=True)
            if kind == "interaction":
                result, plot_ms = result
                self.records[-1].update(plot_ms)
                problem = "; ".join(
                    f"{p}: {bad}" for p in PLOTS
                    if (bad := self.check_answer(p, arg[p], result[p])))
            else:
                problem = self.check_answer(kind, arg, result)
        except Exception as exc:  # noqa: BLE001 — counted, run continues
            run.fail(kind, exc)
            return None
        if problem:
            run.fail(kind, problem)
            return None
        return secs

    def run_cycle(self, pass_idx: int) -> tuple[float | None, list[float]]:
        """One write + burst cycle; (freshness seconds, interaction ms)."""
        from technical_test_data_engineer_spark.service import QueryService
        from technical_test_data_engineer_spark.sources.atomic import current_version
        from technical_test_data_engineer_spark.sources.maintenance import (
            compact_table,
            expire_snapshots,
            publish_upsert,
        )

        run, spark = self.run, self.spark
        self.cycle += 1
        prev = current_version(self.root)
        compact = self.cycle % COMPACT_EVERY == 0
        if compact:
            upd_path, upd_bytes = None, 0
            _, t_write = self._op(
                "sources.compact",
                lambda: compact_table(spark, self.root, "orders.parquet", 1),
                pass_idx)
        else:
            upd_path, upd_bytes = self._update_batch()
            updates = spark.read.parquet(upd_path)
            _, t_write = self._op(
                "sources.upsert",
                lambda: publish_upsert(spark, self.root, "orders.parquet",
                                       updates, ["o_orderkey"]),
                pass_idx)
        new = current_version(self.root)
        written, files = du(os.path.join(self.root, f"_v{new}"))
        self.records[-1].update({
            "sources.bytes_written": float(written),
            "sources.files_written": float(files),
            "upd_bytes": float(upd_bytes),
        })
        problem = self.check_snapshot(prev, new, upd_path)
        run.attempted += 1
        if problem:
            run.fail("publish", problem)
        _, t_expire = self._op(
            "sources.expire", lambda: expire_snapshots(self.root, KEEP_LAST), pass_idx)
        live, _ = du(os.path.join(self.root, f"_v{new}"))
        total, _ = du(self.root)
        self.records[-1]["storage_ratio"] = total / live

        spark.catalog.clearCache()  # the previous session's cached table
        self._views(new)
        vdir = os.path.join(self.root, f"_v{new}")
        svc = None

        def open_service():
            nonlocal svc
            svc = QueryService(spark, vdir)
            svc.prepare()

        _, t_open = self._op("service.prepare", open_service, pass_idx)
        plots = {
            "plot1": svc.plot1_priority_histogram,
            "plot2": lambda a: svc.plot2_nation_breakdown(*a),
            "plot3": svc.plot3_entity_gantt,
            "plot4": lambda a: svc.plot4_daily_series(),
        }

        def interaction(args):
            out, plot_ms = {}, {}
            for p in PLOTS:
                t = time.perf_counter()
                out[p] = plots[p](args[p]).toPandas()
                plot_ms[f"service.{p}_ms"] = (time.perf_counter() - t) * 1000.0
            return out, plot_ms

        # widget set-up, once per service session
        first = self._answer("first_answer", svc.date_bounds, None, pass_idx)
        fresh = None if first is None else t_write + t_expire + t_open + first
        self._answer("nation_options", svc.nation_options, None, pass_idx)
        lat_ms = []
        for _ in range(BURST):
            args = self._widget_args()
            secs = self._answer("interaction", lambda: interaction(args), args,
                                pass_idx)
            if secs is not None:
                lat_ms.append(secs * 1000.0)
        return fresh, lat_ms


def execute(run, t_start: float) -> dict:
    session = Session(run)
    t0 = time.perf_counter()
    session.publish_initial()
    session.run_cycle(-1)  # warm pass: one full cycle, checked, untimed
    run.layers["session.warm_s"] = time.perf_counter() - t0
    run.tracer.begin()
    session.records.clear()
    setup_s = time.perf_counter() - t_start

    fresh, lat = [], []
    window0 = time.perf_counter()
    k = 0
    while k < COMPACT_EVERY or time.perf_counter() - window0 < run.args.seconds:
        f, ms = session.run_cycle(k)
        if f is not None:
            fresh.append(f)
        lat += ms
        k += 1
    recs = session.records
    if run.tracer.enabled:
        _layers(run, recs, fresh)
    kind_ms = {k: median([r["ms"] for r in recs if r["kind"] == k]) for k in KINDS}
    return {
        "setup_s": setup_s,
        "sweep_s": per_pass(recs, "ms") / 1000.0,
        "op_geomean_ms": geomean(kind_ms.values()),
        "latencies_ms": lat,
        "passes": k,
        "pass_s": [sum(r["ms"] for r in recs if r["pass"] == i) / 1000.0
                   for i in range(k)],
        "freshness_s": median(fresh),
        "storage_ratio": median([r["storage_ratio"] for r in recs if "storage_ratio" in r]),
        "kind_ms": kind_ms,
    }


def _layers(run, recs, fresh) -> None:
    L = run.layers
    by = lambda kind: [r for r in recs if r["kind"] == kind]  # noqa: E731
    for kind, key in (("sources.upsert", "sources.upsert_ms"),
                      ("sources.compact", "sources.compact_ms"),
                      ("sources.expire", "sources.expire_ms"),
                      ("service.prepare", "service.prepare_ms")):
        L[key] = median([r["ms"] for r in by(kind)])
    for p in PLOTS:
        L[f"service.{p}_ms"] = median([r[f"service.{p}_ms"] for r in by("interaction")])
    writes = by("sources.upsert") + by("sources.compact")
    L["sources.bytes_written"] = median([r["sources.bytes_written"] for r in writes])
    L["sources.files_written"] = median([r["sources.files_written"] for r in writes])
    L["sources.write_amp"] = median([
        r["sources.bytes_written"] / r["upd_bytes"] for r in by("sources.upsert")])
    L["sources.storage_per_live_byte"] = median(
        [r["storage_ratio"] for r in recs if "storage_ratio" in r])
    L["service.freshness_s"] = median(fresh)
    L["service.file_bytes_read"] = per_pass(
        [r for r in recs if "answer" in r], "exec.input_bytes")
    for key in ("catalyst.analysis_ms", "catalyst.optimization_ms",
                "catalyst.planning_ms", "catalyst.exchanges"):
        L[key] = per_pass([r for r in recs if "answer" in r], key)
    for key in ("exec.jobs", "exec.stages", "exec.tasks", "exec.run_ms",
                "exec.cpu_ms", "exec.gc_ms", "exec.shuffle_read_bytes",
                "exec.shuffle_write_bytes", "exec.spill_bytes",
                "python.boot_ms", "python.init_ms", "python.total_ms",
                "python.bytes_sent", "python.bytes_received"):
        L[key] = per_pass(recs, key)
    run_ms = sum(r["exec.run_ms"] for r in recs)
    L["exec.cpu_ratio"] = sum(r["exec.cpu_ms"] for r in recs) / run_ms if run_ms else 0.0
    L["exec.action_ms"] = per_pass([r for r in recs if "answer" in r], "ms")
