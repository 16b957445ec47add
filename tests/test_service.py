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


def _write_fixture(root, sf_dir, orders_files=3):
    """sf_dir's orders/customer/nation with one NULL-priority order
    appended, a nation no customer belongs to, and orders split into
    ``orders_files`` files (so the cached fact has that many
    partitions)."""
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
    orders = pa.concat_tables(
        [orders, pa.Table.from_pylist([null_row], schema=orders.schema)]
    )
    os.makedirs(os.path.join(root, "orders.parquet"))
    step = -(-orders.num_rows // orders_files)
    for i in range(orders_files):
        pq.write_table(
            orders.slice(i * step, step),
            os.path.join(root, "orders.parquet", f"part-{i}.parquet"),
        )
    pq.write_table(
        pq.read_table(os.path.join(sf_dir, "customer.parquet")),
        os.path.join(root, "customer.parquet"),
    )
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
    active = point_in_interval(svc.prepare(), day, "debut", "fin")
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
        point_in_interval(svc.prepare(), DAY, "debut", "fin")
        .filter(F.col("o_custkey") == cust["o_custkey"])
        .filter(F.col("o_orderpriority").isNotNull())
        .count()
    )
    assert ranked > 0


def test_refresh_drops_day_memo_and_nation_list(spark, sf_dir, tmp_path):
    root = _write_fixture(tmp_path, sf_dir, orders_files=1)
    svc = _svc(spark, root)
    assert svc.plot1_priority_histogram(DAY).collect()
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
    for name, df in (
        ("plot3", svc.plot3_entity_gantt(some_cust)),
        ("plot4", svc.plot4_daily_series()),
    ):
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
