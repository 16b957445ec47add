"""Named engine queries over the driver star schema, each paired with
ANSI SQL for the DuckDB oracle (driver contract, __spark_entry__.py).

Every query here is a reference capability (SURVEY.md §2) transposed to
the test star schema, or a north-star extension. Conventions that make
the oracle comparison exact:

- double aggregates go through ``exact_sum``/``exact_avg`` (decimal-path,
  order-independent — see functions/scalars.py) and the oracle SQL uses
  the identical ``CAST(SUM(CAST(x AS DECIMAL(30,10))) AS DOUBLE)`` shape;
- every computed column is aliased identically on both sides;
- every query ends in a deterministic ORDER BY (the driver compares
  order-insensitively, but determinism keeps reruns bit-identical).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from technical_test_data_engineer_spark.functions.scalars import (
    dec,
    exact_avg,
    exact_sum,
    exact_sum_expr,
)
from technical_test_data_engineer_spark.operators.aggregates import (
    distinct_pairs_by_freq,
)
from technical_test_data_engineer_spark.operators.joins import (
    inner_equi_join,
)
from technical_test_data_engineer_spark.operators.windows import top1_per_group
from technical_test_data_engineer_spark.sources.parquet_source import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}

_DECSUM = "CAST(SUM(CAST({x} AS DECIMAL(30,10))) AS DOUBLE)"


def _decsum(x: str) -> str:
    return _DECSUM.format(x=x)


def _decavg(x: str) -> str:
    return f"({_DECSUM.format(x=x)} / COUNT({x}))"


def query(name: str, oracle: str | None = None):
    """Register a (spark, sf_dir) -> DataFrame callable + its oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            # a later registration would SILENTLY replace the earlier
            # query (dict assignment), orphaning its driver-green
            # history — r08 nearly shipped that on
            # user_conversion_funnel. Name collisions must be loud.
            raise ValueError(f"duplicate query registration: {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# Flagship — the reference's Plot-4 pipeline (filter → per-row date array
# → explode → group-sum → sort; visualization.py:184-193) transposed to
# the star schema: daily in-flight quantity between order date and ship
# date. Exercises scan, join (J1), filter (P3), sequence (R1), explode
# (R2), hash agg (A2), sort (O1) in one plan.
# ---------------------------------------------------------------------------


@query(
    "flagship_daily_backlog",
    f"""
    SELECT CAST(gs.day AS DATE) AS day,
           l_returnflag,
           {_decsum('l_quantity')} AS sum_qty,
           COUNT(*) AS nb_lines
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey,
    LATERAL UNNEST(GENERATE_SERIES(CAST(o_orderdate AS DATE),
                                   CAST(l_shipdate AS DATE),
                                   INTERVAL 1 DAY)) AS gs(day)
    WHERE l_shipdate >= o_orderdate
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta + prefix-sum plan (NOT the naive explode the reference
    uses): each line contributes +qty on its order day and −qty on the
    day after shipment; a per-flag cumulative sum over a generated day
    spine reconstructs the daily backlog exactly.

    Why: the explode plan multiplies the fact table by the mean interval
    length (~77× here) BEFORE the shuffle — at 100 TB that's the whole
    job. The delta plan shuffles ≤ 2 pre-aggregated rows per (day, flag)
    and runs the window over the tiny spine (days × flags). Same result,
    decimal-exact, ~6× faster at sf0.1 and asymptotically better in the
    interval length. The sequence + explode (R1/R2) runs inline below,
    once per covered constant segment rather than once per line.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            F.to_date("o_orderdate").alias("start_day"),
            F.to_date("l_shipdate").alias("end_day"),
            "l_returnflag",
            dec("l_quantity").alias("qty"),
        )
    )
    # ONE pass over the join: each line explodes to its two delta events
    # (+qty/+1 on the start day, −qty/−1 the day after shipment). The
    # union-of-two-selects formulation read the join 2×, and deriving
    # bounds/flags from `joined` read it 2 more — .explain showed FOUR
    # scan+join copies. Everything below deltas reuses its (tiny,
    # post-aggregation) exchange instead.
    deltas = (
        joined.select(
            "l_returnflag",
            F.explode(
                F.array(
                    F.struct(
                        F.col("start_day").alias("day"),
                        F.col("qty").alias("dq"),
                        F.lit(1).cast("bigint").alias("dl"),
                    ),
                    F.struct(
                        F.date_add("end_day", 1).alias("day"),
                        (-F.col("qty")).alias("dq"),
                        F.lit(-1).cast("bigint").alias("dl"),
                    ),
                )
            ).alias("_d"),
        )
        .select("l_returnflag", "_d.day", "_d.dq", "_d.dl")
        .groupBy("day", "l_returnflag")
        .agg(F.sum("dq").alias("dq"), F.sum("dl").alias("dl"))
    )
    # Prefix-sum at DELTA DAYS only, then expand each constant segment
    # [day_i, next_delta_day) with sequence+explode. No generated spine,
    # no crossJoin, no left join — the window runs over ≤ 2·days·flags
    # rows and `deltas` has exactly one consumer (one fact scan total).
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wlead = Window.partitionBy("l_returnflag").orderBy("day")
    seg = deltas.select(
        "day",
        "l_returnflag",
        F.sum("dq").over(wcum).cast("double").alias("sum_qty"),
        F.sum("dl").over(wcum).alias("nb_lines"),
        F.lead("day").over(wlead).alias("_next_day"),
    )
    # nb_lines = 0 segments are days no interval covers (incl. each
    # flag's trailing end+1 delta) — absent from the explode semantics
    expanded = seg.filter(F.col("nb_lines") > 0).select(
        F.explode(
            F.sequence(
                "day",
                F.date_sub(F.coalesce("_next_day", F.date_add("day", 1)), 1),
                F.expr("interval 1 day"),
            )
        ).alias("day"),
        "l_returnflag",
        "sum_qty",
        "nb_lines",
    )
    return expanded.orderBy("day", "l_returnflag")


# ---------------------------------------------------------------------------
# Core relational coverage
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_decsum('l_quantity')} AS sum_qty,
           {_decsum('l_extendedprice')} AS sum_base_price,
           {_decsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {_decsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {_decavg('l_quantity')} AS avg_qty,
           {_decavg('l_extendedprice')} AS avg_price,
           {_decavg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the A1/A2-style grouped aggregate battery."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum("l_quantity", "sum_qty"),
            exact_sum("l_extendedprice", "sum_base_price"),
            exact_sum_expr("l_extendedprice * (1 - l_discount)", "sum_disc_price"),
            exact_sum_expr(
                "l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge"
            ),
            exact_avg("l_quantity", "avg_qty"),
            exact_avg("l_extendedprice", "avg_price"),
            exact_avg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "top_order_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate,
               ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey ASC
               ) AS rn
        FROM orders
    )
    WHERE rn = 1
    ORDER BY o_custkey
    """,
)
def top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — top-1-per-group with the engine's deterministic tiebreak
    (highest total price per customer; ties → lowest order key).
    Mirrors visualization.py:103's sort+drop_duplicates."""
    orders = load_table(spark, sf_dir, "orders")
    top = top1_per_group(
        orders,
        ["o_custkey"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
    )
    return top.select(
        "o_custkey", "o_orderkey", "o_totalprice", "o_orderdate"
    ).orderBy("o_custkey")


@query(
    "priority_status_legend",
    """
    SELECT o_orderpriority, o_orderstatus
    FROM (
        SELECT o_orderpriority, o_orderstatus, COUNT(*) AS cnt
        FROM orders
        GROUP BY o_orderpriority, o_orderstatus
    )
    ORDER BY cnt DESC, o_orderpriority ASC, o_orderstatus ASC
    """,
)
def priority_status_legend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — value_counts→distinct pairs by frequency (legend pattern,
    visualization.py:50), deterministic tiebreak on the pair."""
    orders = load_table(spark, sf_dir, "orders")
    return distinct_pairs_by_freq(orders, ["o_orderpriority", "o_orderstatus"])


@query(
    "nation_region_join",
    """
    SELECT n_nationkey, n_name, r_name
    FROM nation
    JOIN region ON nation.n_regionkey = region.r_regionkey
    ORDER BY n_nationkey
    """,
)
def nation_region_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — inner equi-join, small dim broadcast (visualization.py:59)."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = inner_equi_join(
        nation, region.withColumnRenamed("r_regionkey", "n_regionkey"), "n_regionkey"
    )
    return joined.select("n_nationkey", "n_name", "r_name").orderBy("n_nationkey")


@query(
    "customers_per_nation_left",
    """
    SELECT n_name, COALESCE(cnt, 0) AS nb_customers
    FROM nation
    LEFT JOIN (
        SELECT c_nationkey, COUNT(*) AS cnt FROM customer GROUP BY c_nationkey
    ) c ON nation.n_nationkey = c.c_nationkey
    ORDER BY n_name
    """,
)
def customers_per_nation_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 + P6 — left outer join with differing key names, then
    coalesce-repair of unmatched-side nulls (visualization.py:153-154)."""
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    counts = customer.groupBy("c_nationkey").agg(F.count("*").alias("cnt"))
    joined = nation.join(
        counts, nation.n_nationkey == counts.c_nationkey, "left"
    )
    return (
        joined.select(
            "n_name", F.coalesce(F.col("cnt"), F.lit(0)).alias("nb_customers")
        ).orderBy("n_name")
    )


@query(
    "orders_active_on_day",
    """
    SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
    FROM orders
    WHERE CAST(o_orderdate AS DATE) <= DATE '1997-06-15'
      AND DATE '1997-06-15' <= CAST(o_orderdate AS DATE) + INTERVAL 90 DAY
    ORDER BY o_orderkey
    """,
)
def orders_active_on_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 — point-in-interval predicate (visualization.py:97-98): orders
    whose [orderdate, orderdate+90d] window contains the probe date."""
    orders = load_table(spark, sf_dir, "orders")
    probe = F.lit("1997-06-15").cast("date")
    start = F.to_date("o_orderdate")
    end = F.date_add(F.to_date("o_orderdate"), 90)
    return (
        orders.filter((start <= probe) & (probe <= end))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        .orderBy("o_orderkey")
    )


@query(
    "events_json_extract",
    """
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
    ORDER BY event_id
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 — JSON prop extraction on the events table via
    ``get_json_object`` (JVM-side JSON path, no Python)."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int").alias("prop_k")
    return (
        events.select("event_id", "event_type", k)
        .filter(F.col("prop_k") > 50)
        .orderBy("event_id")
    )


@query(
    "dedup_exact_documents",
    """
    SELECT doc_id, lang, source, n_chars
    FROM (
        SELECT doc_id, lang, source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id ASC) AS rn
        FROM documents
    )
    WHERE rn = 1
    ORDER BY doc_id
    """,
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 exact dedup — deterministic keeper (lowest doc_id) per exact
    text. ``dropDuplicates`` keeps an arbitrary row; the engine's dedup
    keeps a *defined* one so results are reproducible across runs."""
    docs = load_table(spark, sf_dir, "documents")
    kept = top1_per_group(docs, ["text"], [F.asc("doc_id")])
    return kept.select("doc_id", "lang", "source", "n_chars").orderBy("doc_id")
