"""QueryService — the reference's interactive session surface (E2/E3):
prepare-once caching, widget helpers, the four parametrized plot
queries, refresh invalidation."""

from __future__ import annotations

import datetime as dt
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from technical_test_data_engineer_spark.operators.bounded import collect_bounded
from technical_test_data_engineer_spark.operators.relational import (
    point_in_interval,
)
from technical_test_data_engineer_spark.operators.windows import top1_per_group
from technical_test_data_engineer_spark.service import QueryService
from technical_test_data_engineer_spark.sources.parquet_source import load_table

DAY = dt.date(1997, 6, 15)


def _svc(spark, sf_dir):
    return QueryService(spark, sf_dir)


def test_prepare_is_cached_and_stable(spark, sf_dir):
    svc = _svc(spark, sf_dir)
    df1 = svc.prepare()
    df2 = svc.prepare()
    assert df1 is df2  # memoized, like st.session_state.df
    assert df1.storageLevel.useMemory
    n = df1.count()
    assert n > 0
    svc.refresh()
    assert svc.prepare().count() == n


def test_widget_helpers(spark, sf_dir):
    svc = _svc(spark, sf_dir)
    lo, hi = svc.date_bounds()
    assert lo <= hi
    legend = svc.priority_legend()
    assert sum(legend.values()) == svc.prepare().count()
    nations = svc.nation_options()
    assert nations == sorted(nations) and len(nations) > 0


def test_plot1_counts_each_customer_once(spark, sf_dir):
    svc = _svc(spark, sf_dir)
    out = svc.plot1_priority_histogram(DAY)
    total = sum(r["nb_customers"] for r in out.collect())
    active_customers = (
        svc.prepare()
        .filter((F.col("debut") <= F.lit(DAY)) & (F.lit(DAY) <= F.col("fin")))
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert total == active_customers


def test_plot2_keeps_all_nations(spark, sf_dir):
    svc = _svc(spark, sf_dir)
    out = svc.plot2_nation_breakdown(DAY).collect()
    assert len(out) == len(svc.nation_options())
    assert all(r["nb_customers"] >= 0 for r in out)
    # IN-list narrowing
    pick = svc.nation_options()[:2]
    narrowed = svc.plot2_nation_breakdown(DAY, nations=pick)
    active = {r["nation"] for r in narrowed.collect() if r["nb_customers"] > 0}
    assert active <= set(pick)


def test_plot3_single_entity(spark, sf_dir):
    svc = _svc(spark, sf_dir)
    some_cust = svc.prepare().select("o_custkey").first()[0]
    rows = svc.plot3_entity_gantt(some_cust).collect()
    assert rows
    assert all(r["duration_days"] >= 1 for r in rows)


def test_plot4_matches_pointwise_count(spark, sf_dir):
    """The delta/prefix-sum series at a sampled day must equal a direct
    interval-containment count for that day."""
    svc = _svc(spark, sf_dir)
    series = svc.plot4_daily_series()
    got = {
        r["c_mktsegment"]: r["n_active"]
        for r in series.filter(F.col("day") == F.lit(DAY)).collect()
    }
    direct = {
        r["c_mktsegment"]: r["n"]
        for r in svc.prepare()
        .filter((F.col("debut") <= F.lit(DAY)) & (F.lit(DAY) <= F.col("fin")))
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == direct


# -- one shared per-day aggregate, bounded driver-side frames ------------

EMPTY_NATION = "ZZ_NO_CUSTOMERS"
# the fixture's NULL-priority order: active on DAY only (o_orderkey % 90 == 0)
NULL_ORDER_KEY = 90 * 10**6


def _write_fixture(root, sf_dir, orders_files=3, keep=None, edges=False):
    """sf_dir's orders/customer/nation with one NULL-priority order
    appended, a nation no customer belongs to, and orders split into
    ``orders_files`` files (so the cached fact has that many
    partitions). ``keep``, a predicate on the orders' pandas frame,
    narrows the orders written. ``edges`` adds NULL keys and edge days:
    a NULL ``c_mktsegment`` for every seventh customer; an order with a
    NULL ``o_orderdate`` (NULL ``debut`` and ``fin``); one with a NULL
    ``o_orderkey`` (NULL ``fin`` only) starting after every other
    order ends; and one with ``o_orderkey`` -1 starting before every
    other order, whose ``fin`` is the day before its ``debut``, so its
    start and its end cancel on one day."""
    orders = pq.read_table(os.path.join(sf_dir, "orders.parquet"))
    o = orders.to_pandas()
    debut = o["o_orderdate"].dt.normalize()
    fin = debut + pd.to_timedelta(o["o_orderkey"] % 90, unit="D")
    day = pd.Timestamp(DAY)
    active = o[(debut <= day) & (day <= fin) & o["o_orderpriority"].notna()]
    null_row = orders.slice(0, 1).to_pylist()[0]
    null_row.update(
        o_orderkey=NULL_ORDER_KEY,
        o_custkey=int(active["o_custkey"].iloc[0]),
        o_orderdate=dt.datetime.combine(DAY, dt.time()),
        o_orderpriority=None,
    )
    extra_rows = [null_row]
    if edges:
        extra_rows += [
            {**null_row, "o_orderkey": NULL_ORDER_KEY + 1, "o_orderdate": None},
            {**null_row, "o_orderkey": None, "o_orderdate": dt.datetime(2030, 1, 1)},
            {**null_row, "o_orderkey": -1, "o_orderdate": dt.datetime(1990, 1, 1)},
        ]
    orders = pa.concat_tables(
        [orders, pa.Table.from_pylist(extra_rows, schema=orders.schema)]
    )
    if keep is not None:
        orders = orders.filter(pa.array(keep(orders.to_pandas()).to_numpy()))
    os.makedirs(os.path.join(root, "orders.parquet"))
    step = -(-orders.num_rows // orders_files)
    for i in range(orders_files):
        pq.write_table(
            orders.slice(i * step, step),
            os.path.join(root, "orders.parquet", f"part-{i}.parquet"),
        )
    customer = pq.read_table(os.path.join(sf_dir, "customer.parquet"))
    if edges:
        c = customer.to_pandas()
        c.loc[c["c_custkey"] % 7 == 0, "c_mktsegment"] = None
        customer = pa.Table.from_pandas(c, schema=customer.schema, preserve_index=False)
    pq.write_table(customer, os.path.join(root, "customer.parquet"))
    nation = pq.read_table(os.path.join(sf_dir, "nation.parquet"))
    extra = {"n_nationkey": 999, "n_name": EMPTY_NATION, "n_regionkey": 0}
    nation = pa.concat_tables(
        [nation, pa.Table.from_pylist([extra], schema=nation.schema)]
    )
    pq.write_table(nation, os.path.join(root, "nation.parquet"))
    return str(root)


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory, sf_dir):
    return _write_fixture(tmp_path_factory.mktemp("service"), sf_dir)


def _window_top(svc, day, nations=None):
    active = point_in_interval(svc.prepare(), day)
    if nations:
        active = active.filter(F.col("n_name").isin(nations))
    return top1_per_group(
        active, ["o_custkey"], [F.asc("o_orderpriority"), F.desc("o_orderkey")]
    )


def _window_plot1(svc, day):
    """plot 1 as one window query (the per-day top-1 row per customer)."""
    return (
        _window_top(svc, day)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("nb_customers"))
        .orderBy(F.desc("nb_customers"), "o_orderpriority")
    )


def _window_plot2(svc, day, nations):
    """plot 2 as one window query left-joined to the nation table."""
    nation = load_table(svc.spark, svc.sf_dir, "nation").select(
        F.col("n_name").alias("nation")
    )
    per_nation = (
        _window_top(svc, day, nations)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("nb_customers"),
            F.min("o_orderpriority").alias("top_priority"),
        )
    )
    return (
        nation.join(per_nation, "nation", "left")
        .select(
            "nation",
            F.coalesce("nb_customers", F.lit(0)).alias("nb_customers"),
            F.coalesce("top_priority", F.lit("none")).alias("top_priority"),
        )
        .orderBy("nation")
    )


def test_plot1_plot2_equal_the_window_formulation(spark, fixture_dir):
    svc = _svc(spark, fixture_dir)
    some = svc.nation_options()[:2]
    days = [
        dt.date(1990, 1, 1),  # before every order: no active customer
        dt.date(1995, 3, 1),
        DAY,  # holds the NULL-priority order
        dt.date(1998, 12, 31),
        dt.date(2001, 8, 20),
    ]
    for day in days:
        got, want = svc.plot1_priority_histogram(day), _window_plot1(svc, day)
        assert got.schema == want.schema
        assert got.collect() == want.collect(), day
        for nations in (None, [], some, [EMPTY_NATION] + some):
            got = svc.plot2_nation_breakdown(day, nations)
            want = _window_plot2(svc, day, nations)
            assert got.schema == want.schema
            assert got.collect() == want.collect(), (day, nations)
    assert svc.plot1_priority_histogram(days[0]).collect() == []
    empty = svc.plot2_nation_breakdown(days[0]).collect()
    assert {(r["nb_customers"], r["top_priority"]) for r in empty} == {(0, "none")}
    assert EMPTY_NATION in {r["nation"] for r in empty}


def _spark_date_bounds(svc):
    """date_bounds as one global aggregate over the cached fact."""
    span = svc.prepare().agg(F.min("debut"), F.max("fin"))
    return tuple(span.collect()[0])


def _spark_plot4(svc):
    """plot 4 as one Spark plan: delta explode, (day, segment) sums,
    running sum and next delta day per segment, interval explode, and a
    one-task sort."""
    from pyspark.sql.window import Window

    deltas = (
        svc.prepare()
        .select(
            "c_mktsegment",
            F.explode(
                F.array(
                    F.struct(
                        F.col("debut").alias("day"),
                        F.lit(1).cast("bigint").alias("dn"),
                    ),
                    F.struct(
                        F.date_add("fin", 1).alias("day"),
                        F.lit(-1).cast("bigint").alias("dn"),
                    ),
                )
            ).alias("_d"),
        )
        .select("c_mktsegment", "_d.day", "_d.dn")
        .groupBy("day", "c_mktsegment")
        .agg(F.sum("dn").alias("dn"))
    )
    wcum = (
        Window.partitionBy("c_mktsegment")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wlead = Window.partitionBy("c_mktsegment").orderBy("day")
    seg = deltas.select(
        "day",
        "c_mktsegment",
        F.sum("dn").over(wcum).alias("n_active"),
        F.lead("day").over(wlead).alias("_next"),
    )
    return (
        seg.filter(F.col("n_active") > 0)
        .select(
            F.explode(
                F.sequence(
                    "day",
                    F.date_sub(F.coalesce("_next", F.date_add("day", 1)), 1),
                    F.expr("interval 1 day"),
                )
            ).alias("day"),
            "c_mktsegment",
            "n_active",
        )
        .repartition(1)
        .sortWithinPartitions("day", "c_mktsegment")
    )


def _assert_plot4_and_date_bounds_equal_spark(svc):
    assert svc.date_bounds() == _spark_date_bounds(svc)
    got, want = svc.plot4_daily_series(), _spark_plot4(svc)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_plot4_and_date_bounds_equal_the_spark_formulation(
    spark, fixture_dir, sf_dir, tmp_path
):
    cases = {
        "fixture": fixture_dir,
        "empty fact": _write_fixture(
            tmp_path / "empty", sf_dir, keep=lambda o: o["o_orderkey"] < 0
        ),
        # every interval is one day long: each start meets its own end
        # on the next day, in both the deltas and the bounds
        "one-day intervals": _write_fixture(
            tmp_path / "one_day", sf_dir, keep=lambda o: o["o_orderkey"] % 90 == 0
        ),
        # the first delta day holds a start cancelled by an end, the
        # last one only a start: the bounds come neither from the
        # extreme days nor from the signs of their sums
        "NULL keys, edge days": _write_fixture(tmp_path / "edges", sf_dir, edges=True),
    }
    for name, root in cases.items():
        svc = _svc(spark, root)
        assert svc.prepare().count() > 0 or name == "empty fact", name
        _assert_plot4_and_date_bounds_equal_spark(svc)
    empty = _svc(spark, cases["empty fact"])
    assert empty.date_bounds() == (None, None)
    assert empty.plot4_daily_series().collect() == []
    one_day = _svc(spark, cases["one-day intervals"])
    assert one_day.prepare().filter(F.col("debut") != F.col("fin")).count() == 0
    edges = _svc(spark, cases["NULL keys, edge days"])
    assert None in {r["c_mktsegment"] for r in edges.plot4_daily_series().collect()}
    assert edges.prepare().filter(F.col("fin").isNull()).count() == 2
    lo, hi = edges.date_bounds()
    assert lo == dt.date(1990, 1, 1) and hi < dt.date(2030, 1, 1)


def test_null_priority_tops_its_customer(spark, fixture_dir):
    svc = _svc(spark, fixture_dir)
    hist = {
        r["o_orderpriority"]: r["nb_customers"]
        for r in svc.plot1_priority_histogram(DAY).collect()
    }
    # the customer holding the NULL-priority order also has ranked
    # active orders, so only the NULLs-first rule puts it under NULL
    assert hist.get(None) == 1
    cust = svc.prepare().filter(F.col("o_orderkey") == NULL_ORDER_KEY).first()
    ranked = (
        point_in_interval(svc.prepare(), DAY)
        .filter(F.col("o_custkey") == cust["o_custkey"])
        .filter(F.col("o_orderpriority").isNotNull())
        .count()
    )
    assert ranked > 0


def test_refresh_drops_day_memo_and_nation_list(spark, sf_dir, tmp_path):
    root = _write_fixture(tmp_path, sf_dir, orders_files=1)
    svc = _svc(spark, root)
    assert svc.plot1_priority_histogram(DAY).collect()
    lo, _ = svc.date_bounds()
    assert lo < dt.date(1998, 1, 1)
    assert svc.plot4_daily_series().filter(F.col("day") == F.lit(DAY)).collect()
    names = [r["nation"] for r in svc.plot2_nation_breakdown(DAY).collect()]
    # the scrape: no order active on DAY any more, one more nation
    opath = os.path.join(root, "orders.parquet", "part-0.parquet")
    orders = pq.read_table(opath).to_pandas()
    pq.write_table(
        pa.Table.from_pandas(
            orders[orders["o_orderdate"] > dt.datetime(1998, 1, 1)],
            preserve_index=False,
        ),
        opath,
    )
    npath = os.path.join(root, "nation.parquet")
    nation = pq.read_table(npath)
    extra = {"n_nationkey": 1000, "n_name": "ZZ_NEW", "n_regionkey": 0}
    pq.write_table(
        pa.concat_tables(
            [nation, pa.Table.from_pylist([extra], schema=nation.schema)]
        ),
        npath,
    )
    svc.refresh()
    assert svc.plot1_priority_histogram(DAY).collect() == []
    after = svc.plot2_nation_breakdown(DAY).collect()
    assert [r["nation"] for r in after] == sorted(names + ["ZZ_NEW"])
    assert all(r["nb_customers"] == 0 for r in after)
    lo, _ = svc.date_bounds()
    assert lo > dt.date(1998, 1, 1)
    _assert_plot4_and_date_bounds_equal_spark(svc)
    assert not svc.plot4_daily_series().filter(F.col("day") == F.lit(DAY)).collect()


def test_plot3_unknown_customer_is_empty_with_same_schema(spark, sf_dir):
    svc = _svc(spark, sf_dir)
    known = svc.plot3_entity_gantt(svc.prepare().select("o_custkey").first()[0])
    unknown = svc.plot3_entity_gantt(-1)
    assert unknown.collect() == []
    assert unknown.schema == known.schema


def test_collect_bounded_raises_one_row_past_the_bound(spark):
    df = spark.range(5)
    assert collect_bounded(df, 5, "five ids").num_rows == 5
    with pytest.raises(ValueError, match="five ids: more than 4 rows"):
        collect_bounded(df, 4, "five ids")


def _formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_plot3_plot4_sort_in_one_task_after_a_parallel_scan(spark, fixture_dir):
    """No sampled range exchange, and no coalesce pulling the scan of
    the cached fact into one task."""
    svc = _svc(spark, fixture_dir)
    svc.prepare().count()
    n_parts = svc.prepare().rdd.getNumPartitions()
    assert n_parts > 1
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    some_cust = svc.prepare().select("o_custkey").first()[0]
    for name, df in (("plot3", svc.plot3_entity_gantt(some_cust)),):
        assert "rangepartitioning" not in _formatted_plan(df).lower(), name
        group = f"test-{name}"
        sc.setJobGroup(group, group)
        try:
            rows = df.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert rows, name
        tasks = [
            tracker.getStageInfo(sid).numTasks
            for jid in tracker.getJobIdsForGroup(group)
            for sid in tracker.getJobInfo(jid).stageIds
            if tracker.getStageInfo(sid) is not None
        ]
        assert max(tasks) == n_parts, (name, tasks)
        assert df.rdd.getNumPartitions() == 1, name


def _group_stages(sc, group, action) -> list[int]:
    """Stages per job that ``action()`` launches under the job ``group``."""
    tracker = sc.statusTracker()
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = tracker.getJobIdsForGroup(group)
    return [len(tracker.getJobInfo(j).stageIds) for j in jobs]


def test_plot4_runs_no_job_over_the_fact_once_the_deltas_are_kept(spark, fixture_dir):
    """The delta fetch shuffles the scan of the cached fact into its
    aggregate (two stages at least); once it is kept, plot 4 is a local
    frame, whose fetch is one stage reading no fact."""
    svc = _svc(spark, fixture_dir)
    svc.prepare().count()
    sc = spark.sparkContext
    fill = _group_stages(sc, "test-delta-fill", svc.date_bounds)
    assert max(fill) >= 2, fill
    df = svc.plot4_daily_series()
    assert "inmemorytablescan" not in _formatted_plan(df).lower()
    rows = []
    stages = _group_stages(sc, "test-plot4", lambda: rows.extend(df.collect()))
    assert rows
    assert all(n == 1 for n in stages), stages
    assert svc.date_bounds() == _spark_date_bounds(svc)


def test_delta_fetch_past_its_bound_raises(spark, sf_dir, monkeypatch):
    from technical_test_data_engineer_spark import service

    monkeypatch.setattr(service, "_MAX_DELTA_GROUPS", 10)
    svc = _svc(spark, sf_dir)
    with pytest.raises(ValueError, match=r"deltas per \(day, segment\): more than 10"):
        svc.plot4_daily_series()
