"""Relational-breadth coverage: the SQL surface a reference user gets
for free once on Spark — correlated-subquery shapes, conditional
aggregation, filtered ratios, set operations, grouped distinct counts,
LIKE filtering (SURVEY.md §2.3-§2.6 "free in Spark" notes, made
concrete and oracle-checked).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from technical_test_data_engineer_spark.functions.scalars import (
    dec,
    exact_sum,
    scaled_long,
    unscale,
)
from technical_test_data_engineer_spark.operators.bounded import (
    collect_bounded,
    local_frame,
)
from technical_test_data_engineer_spark.operators.partitioning import (
    ordered_python_stage,
)
from technical_test_data_engineer_spark.plans.star_queries import _decsum, query
from technical_test_data_engineer_spark.sources.parquet_source import load_table


@query(
    "cheapest_part_per_brand",
    """
    SELECT p.p_brand, p.p_partkey, p.p_name, p.p_retailprice
    FROM part p
    JOIN (
        SELECT p_brand, MIN(p_retailprice) AS min_price
        FROM part GROUP BY p_brand
    ) m ON p.p_brand = m.p_brand AND p.p_retailprice = m.min_price
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY p.p_brand ORDER BY p.p_partkey
    ) = 1
    ORDER BY p.p_brand
    """,
)
def cheapest_part_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q2 shape: argmin row via self-join against a grouped MIN
    (the correlated-subquery pattern), deterministic tiebreak on key."""
    part = load_table(spark, sf_dir, "part")
    mins = part.groupBy("p_brand").agg(
        F.min("p_retailprice").alias("min_price")
    ).withColumnRenamed("p_brand", "_mb")
    joined = part.join(
        F.broadcast(mins),
        (part.p_brand == mins._mb) & (part.p_retailprice == mins.min_price),
    ).select("p_brand", "p_partkey", "p_name", "p_retailprice")
    from technical_test_data_engineer_spark.operators.windows import top1_per_group

    return top1_per_group(joined, ["p_brand"], [F.asc("p_partkey")]).orderBy(
        "p_brand"
    )


@query(
    "late_order_counts",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= DATE '1996-01-01'
      AND o.o_orderdate < DATE '1996-07-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def late_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q4 shape: EXISTS-correlated filter as a LEFT SEMI join with
    a non-equi conjunct (ship > order + 60 days), then group-count."""
    orders = load_table(spark, sf_dir, "orders")
    # manual constraint propagation: o_orderdate ≥ 1996-01-01 and the
    # join requires l_shipdate > o_orderdate + 60d, so l_shipdate >
    # 1996-03-01 always holds — a parquet-pushable bound on the fact
    # scan that Catalyst cannot derive from the non-equi condition
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-01")
    )
    windowed = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-07-01"))
    )
    late = windowed.join(
        li,
        (windowed.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.date_add(F.col("o_orderdate").cast("date"), 60)),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@query(
    "shipmode_priority_matrix",
    """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= DATE '1996-01-01'
      AND l_shipdate < DATE '1997-01-01'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def shipmode_priority_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q12 shape: conditional aggregation (CASE inside SUM) over a
    fact join — pivot-style counting without a shuffle per condition."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "promo_revenue_ratio",
    f"""
    SELECT CAST(100.0 * promo / total AS DOUBLE) AS promo_pct
    FROM (
        SELECT
            {_decsum("CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")} AS promo,
            {_decsum('l_extendedprice * (1 - l_discount)')} AS total
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= DATE '1996-03-01'
          AND l_shipdate < DATE '1996-04-01'
    )
    """,
)
def promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q14 shape: filtered-to-total ratio in one aggregation pass
    (no second scan for the denominator); LIKE prefix predicate."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = dec(F.expr("l_extendedprice * (1 - l_discount)"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(dec(F.lit(0)))
    agg = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.sum(promo).cast("double").alias("promo"),
            F.sum(rev).cast("double").alias("total"),
        )
    )
    return agg.select(
        (F.lit(100.0) * F.col("promo") / F.col("total")).alias("promo_pct")
    )


@query(
    "brand_supplier_counts",
    """
    SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
    GROUP BY p_brand, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_size
    """,
)
def brand_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q16 shape: grouped COUNT(DISTINCT) — Spark expands to a
    two-level aggregate (distinct then count) automatically."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#1")
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_size")
    )


@query(
    "segment_churn_set_ops",
    """
    WITH y96 AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
    ),
    y97 AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-01-01'
    )
    SELECT 'retained' AS cohort, COUNT(*) AS n FROM (
        SELECT o_custkey FROM y96 INTERSECT SELECT o_custkey FROM y97)
    UNION ALL
    SELECT 'churned' AS cohort, COUNT(*) AS n FROM (
        SELECT o_custkey FROM y96 EXCEPT SELECT o_custkey FROM y97)
    UNION ALL
    SELECT 'new' AS cohort, COUNT(*) AS n FROM (
        SELECT o_custkey FROM y97 EXCEPT SELECT o_custkey FROM y96)
    ORDER BY cohort
    """,
)
def segment_churn_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation surface (INTERSECT / EXCEPT / UNION ALL): customer
    cohort churn between two order years.

    r14 (guide §2.4 remove shuffles outright): the literal
    intersect/exceptAll form re-derived each year's distinct frame per
    set-op consumer — 6 orders scans + 4 custkey distinct aggregations
    + 3 set-op joins in one plan. The three cohorts are a pure
    function of ONE (in96, in97) membership-flag pair per customer, so
    the plan is now one year-pruned scan → one custkey agg → a 1-row
    conditional-count rollup unpivoted to the 3 cohort rows (stack).
    Counts are identical by construction: the year frames were
    DISTINCT custkey sets, so INTERSECT == both flags set and
    EXCEPT(ALL) == exactly one flag set. Oracle unchanged (it keeps
    the set-op spelling of the same counts); same-JVM interleaved A/B
    0.538 → 0.265 s min-of-3, new faster on every rep."""
    orders = load_table(spark, sf_dir, "orders")
    flags = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1998-01-01"))
        )
        .groupBy("o_custkey")
        .agg(
            F.max(
                (F.col("o_orderdate") < F.lit("1997-01-01")).cast("int")
            ).alias("in96"),
            F.max(
                (F.col("o_orderdate") >= F.lit("1997-01-01")).cast("int")
            ).alias("in97"),
        )
    )
    counts = flags.agg(
        F.count(
            F.when((F.col("in96") == 1) & (F.col("in97") == 1), 1)
        ).alias("n_ret"),
        F.count(
            F.when((F.col("in96") == 1) & (F.col("in97") == 0), 1)
        ).alias("n_chu"),
        F.count(
            F.when((F.col("in96") == 0) & (F.col("in97") == 1), 1)
        ).alias("n_new"),
    )
    return counts.selectExpr(
        "stack(3, 'churned', n_chu, 'new', n_new, 'retained', n_ret)"
        " AS (cohort, n)"
    ).orderBy("cohort")


@query(
    "customer_spend_quartiles",
    """
    WITH spend AS (
        SELECT o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE)
                   AS total_spend
        FROM orders GROUP BY o_custkey
    ),
    q AS (
        SELECT o_custkey, total_spend,
               NTILE(4) OVER (ORDER BY total_spend DESC, o_custkey)
                   AS quartile
        FROM spend
    )
    SELECT quartile, COUNT(*) AS n_customers,
           CAST(SUM(CAST(total_spend AS DECIMAL(30,10))) AS DOUBLE)
               AS quartile_spend
    FROM q GROUP BY quartile ORDER BY quartile
    """,
)
def customer_spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE ranking windows: customers bucketed into spend quartiles,
    then per-quartile totals (deterministic tiebreak on key)."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        exact_sum(F.col("o_totalprice"), "total_spend")
    )
    w = Window.orderBy(F.desc("total_spend"), F.asc("o_custkey"))
    q = spend.withColumn("quartile", F.ntile(4).over(w))
    return (
        q.groupBy("quartile")
        .agg(
            F.count("*").alias("n_customers"),
            exact_sum(F.col("total_spend"), "quartile_spend"),
        )
        .orderBy("quartile")
    )


@query(
    "acctbal_quantiles_by_segment",
    """
    SELECT c_mktsegment,
           CAST(MEDIAN(c_acctbal) AS DOUBLE) AS median_bal,
           CAST(QUANTILE_CONT(c_acctbal, 0.95) AS DOUBLE) AS p95_bal
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def acctbal_quantiles_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles (median, p95) per segment — Spark
    ``median``/``percentile`` use the same linear interpolation as
    DuckDB's QUANTILE_CONT, so values hash-match exactly. (The sketch
    path for 100 TB is percentile_approx — see
    events_approx_user_counts for the approximate-aggregate pattern.)"""
    customer = load_table(spark, sf_dir, "customer")
    return (
        customer.groupBy("c_mktsegment")
        .agg(
            F.median("c_acctbal").alias("median_bal"),
            F.percentile("c_acctbal", F.lit(0.95)).alias("p95_bal"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "nation_orderstatus_pivot",
    """
    SELECT n_name,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS status_f,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS status_o,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS status_p
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY n_name
    """,
)
def nation_orderstatus_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide reshape): order-status counts per nation via
    ``groupBy().pivot()`` with explicit pivot values — one pass, no
    per-status shuffle; the oracle is the equivalent CASE matrix."""
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderstatus")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select("n_name", "o_orderstatus")
    )
    out = (
        joined.groupBy("n_name")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )
    return out.select(
        "n_name",
        F.col("F").alias("status_f"),
        F.col("O").alias("status_o"),
        F.col("P").alias("status_p"),
    ).orderBy("n_name")


@query(
    "nation_status_unpivot",
    """
    WITH statuses AS (SELECT UNNEST(['F', 'O', 'P']) AS o_orderstatus),
    counts AS (
        SELECT n_name, o_orderstatus, COUNT(*) AS n
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name, o_orderstatus
    )
    SELECT n.n_name, s.o_orderstatus AS status,
           COALESCE(c.n, 0) AS n_orders
    FROM nation n CROSS JOIN statuses s
    LEFT JOIN counts c
      ON n.n_name = c.n_name AND s.o_orderstatus = c.o_orderstatus
    ORDER BY n.n_name, status
    """,
)
def nation_status_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): the wide per-status pivot melted back to long
    form via ``DataFrame.unpivot`` — zero-filled combinations survive
    the roundtrip, which the oracle reproduces with a dimension cross
    join. Wide→long is the reshape the reference never had but any
    metrics pipeline needs."""
    wide = nation_orderstatus_pivot(spark, sf_dir)
    return (
        wide.unpivot(
            ids=["n_name"],
            values=["status_f", "status_o", "status_p"],
            variableColumnName="status",
            valueColumnName="n_orders",
        )
        .withColumn(
            "status", F.upper(F.substring("status", -1, 1))
        )
        .orderBy("n_name", "status")
    )


@query(
    "orders_column_profile",
    f"""
    SELECT COUNT(*) AS n_rows,
           COUNT(o_totalprice) AS price_non_null,
           COUNT(DISTINCT o_custkey) AS distinct_customers,
           COUNT(DISTINCT o_orderstatus) AS distinct_statuses,
           CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_price,
           {_decsum('o_totalprice')} AS sum_price,
           CAST(MIN(o_orderdate) AS DATE) AS first_order,
           CAST(MAX(o_orderdate) AS DATE) AS last_order
    FROM orders
    """,
)
def orders_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass data-profiling aggregate: row count, null counts,
    distinct cardinalities, numeric/date ranges, exact sum — the
    one-scan quality report a pipeline runs after every load (vs
    df.summary(), which is neither deterministic nor oracle-exact)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        F.count("*").alias("n_rows"),
        F.count("o_totalprice").alias("price_non_null"),
        F.countDistinct("o_custkey").alias("distinct_customers"),
        F.countDistinct("o_orderstatus").alias("distinct_statuses"),
        F.min("o_totalprice").cast("double").alias("min_price"),
        F.max("o_totalprice").cast("double").alias("max_price"),
        exact_sum("o_totalprice", "sum_price"),
        F.min(F.col("o_orderdate").cast("date")).alias("first_order"),
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
    )


@query(
    "sales_grouping_sets",
    f"""
    SELECT c_mktsegment, o_orderstatus,
           COUNT(*) AS n_orders,
           {_decsum('o_totalprice')} AS revenue,
           CAST(GROUPING(c_mktsegment) * 2 + GROUPING(o_orderstatus)
                AS BIGINT) AS gid
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY GROUPING SETS ((c_mktsegment, o_orderstatus),
                            (c_mktsegment), (o_orderstatus), ())
    ORDER BY gid, c_mktsegment NULLS FIRST, o_orderstatus NULLS FIRST
    """,
)
def sales_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS (the general form of rollup/cube) + GROUPING() ids
    distinguishing aggregation levels from genuine NULL keys — one
    shuffle produces all four aggregation levels."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    joined.createOrReplaceTempView("_sales_gs")
    return spark.sql(
        f"""
        SELECT c_mktsegment, o_orderstatus,
               COUNT(*) AS n_orders,
               {_decsum('o_totalprice')} AS revenue,
               CAST(GROUPING(c_mktsegment) * 2 + GROUPING(o_orderstatus)
                    AS BIGINT) AS gid
        FROM _sales_gs
        GROUP BY GROUPING SETS ((c_mktsegment, o_orderstatus),
                                (c_mktsegment), (o_orderstatus), ())
        ORDER BY gid, c_mktsegment NULLS FIRST, o_orderstatus NULLS FIRST
        """
    )


@query(
    "price_histogram",
    f"""
    SELECT CAST(LEAST(FLOOR(o_totalprice / 50000), 9) AS BIGINT) AS bucket,
           COUNT(*) AS n_orders,
           {_decsum('o_totalprice')} AS bucket_revenue
    FROM orders
    GROUP BY 1 ORDER BY 1
    """,
)
def price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (50k buckets, top-capped) — the profiling
    companion to quantiles; pure arithmetic bucketing so both engines
    agree exactly, single aggregation pass."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / 50000), F.lit(9)).cast(
        "bigint"
    )
    return (
        orders.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_orders"),
            exact_sum("o_totalprice", "bucket_revenue"),
        )
        .orderBy("bucket")
    )


@query(
    "orders_monthly_revenue",
    f"""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           COUNT(*) AS n_orders,
           {_decsum('o_totalprice')} AS revenue
    FROM orders
    GROUP BY 1 ORDER BY 1
    """,
)
def orders_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-month rollup (date_trunc month) — the month-granularity
    sibling of events_hourly_rollup; at scale the natural partition key
    for the fact table's partitioned writes."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("month")
        )
        .agg(
            F.count("*").alias("n_orders"),
            exact_sum("o_totalprice", "revenue"),
        )
        .orderBy("month")
    )


@query(
    "salted_segment_revenue",
    f"""
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           {_decsum('o_totalprice')} AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def salted_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted join with an oracle parity check: the engine
    side routes orders⋈customer through operators/partitioning.
    salted_join (hot fact keys spread across 8 salts, dim rows
    replicated per salt), and the result must hash-match the plain
    SQL join — salting is a physical rewrite, never a semantic one.
    Use when a hot key is too large for one task AND the small side is
    too big to broadcast; AQE skew-split handles the moderate cases."""
    from technical_test_data_engineer_spark.operators.partitioning import (
        salted_join,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"), "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), "c_mktsegment"
    )
    joined = salted_join(orders, customer, on="k", n_salts=8)
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            exact_sum("o_totalprice", "revenue"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "sales_cube",
    """
    SELECT COALESCE(c_mktsegment, 'ALL') AS segment,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY CUBE (c_mktsegment, o_orderpriority)
    ORDER BY segment, priority
    """,
)
def sales_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^2 grouping combinations in ONE pass (vs 4 separate
    aggregations) — Spark expands the grouping sets map-side, so the
    fact is scanned once. Null grouping markers coalesced to 'ALL' so
    the oracle comparison is label-stable."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .cube("c_mktsegment", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .select(
            F.coalesce("c_mktsegment", F.lit("ALL")).alias("segment"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
        )
        .orderBy("segment", "priority")
    )


@query(
    "rolling_7day_revenue",
    f"""
    SELECT day, daily_rev,
           CAST(SUM(CAST(daily_rev AS DECIMAL(30,10))) OVER (
               ORDER BY day
               RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS rev_7d
    FROM (
        SELECT CAST(o_orderdate AS DATE) AS day,
               {_decsum('o_totalprice')} AS daily_rev
        FROM orders
        WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-07-01'
        GROUP BY 1
    )
    ORDER BY day
    """,
)
def rolling_7day_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: trailing 7-day revenue where the frame is
    bound by VALUE distance (6 days preceding), not row count — days
    missing from the data simply don't contribute, which a ROWS frame
    gets wrong. Pre-aggregating to days first keeps the window input
    small (one row per day, not per order)."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-07-01"))
    )
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(exact_sum("o_totalprice", "daily_rev"))
    # rangeBetween needs an orderable numeric: days-since-epoch
    w = (
        Window.orderBy(F.unix_date(F.col("day")))
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "day",
        "daily_rev",
        F.sum(dec(F.col("daily_rev")))
        .over(w)
        .cast("double")
        .alias("rev_7d"),
    ).orderBy("day")


@query(
    "part_name_fuzzy_pairs",
    """
    WITH c AS (
        SELECT p_name, COUNT(*) AS cnt FROM part GROUP BY p_name
    ),
    n AS (
        SELECT p_name,
               split_part(p_name, ' ', -1) AS blk,
               LENGTH(p_name) AS len
        FROM c
    )
    SELECT a.p_name AS name_a,
           b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS edit_dist,
           ca.cnt AS n_rows_a,
           cb.cnt AS n_rows_b
    FROM n a
    JOIN n b
      ON a.blk = b.blk AND a.p_name < b.p_name AND ABS(a.len - b.len) <= 2
    JOIN c ca ON ca.p_name = a.p_name
    JOIN c cb ON cb.p_name = b.p_name
    WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 2
    ORDER BY name_a, name_b
    """,
)
def part_name_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance record linkage (``operators.joins.
    fuzzy_pairs``): catalog names within Levenshtein distance 2,
    blocked on the product noun (last token) so the self-join is a
    hash join over tiny per-noun groups, never a cross product —
    distinct-first, length-band prefiltered, threshold-early-exit
    (the three guards that keep fuzzy matching linear-ish at 100 TB).
    Each name carries its duplicate row count, making this the triage
    report a catalog-dedup pass starts from. Non-vacuous on the
    fixture: 'cold widget' ↔ 'old widget' etc."""
    from technical_test_data_engineer_spark.operators.joins import fuzzy_pairs

    part = load_table(spark, sf_dir, "part")
    counts = part.groupBy("p_name").agg(F.count("*").alias("cnt"))
    pairs = fuzzy_pairs(
        part,
        "p_name",
        block=lambda c: F.element_at(F.split(c, " "), -1),
        max_dist=2,
    )
    return (
        pairs.join(
            counts.select(
                F.col("p_name").alias("name_a"), F.col("cnt").alias("n_rows_a")
            ),
            "name_a",
        )
        .join(
            counts.select(
                F.col("p_name").alias("name_b"), F.col("cnt").alias("n_rows_b")
            ),
            "name_b",
        )
        .select("name_a", "name_b", "edit_dist", "n_rows_a", "n_rows_b")
        .orderBy("name_a", "name_b")
    )


@query(
    "part_copurchase_triangles",
    """
    WITH e AS (
        SELECT pa, pb FROM (
            SELECT DISTINCT a.l_orderkey, a.l_partkey AS pa, b.l_partkey AS pb
            FROM lineitem a
            JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        )
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    )
    SELECT e1.pa AS node_a, e1.pb AS node_b, e2.pb AS node_c
    FROM e e1
    JOIN e e2 ON e2.pa = e1.pb
    JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    ORDER BY node_a, node_b, node_c
    """,
)
def part_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration (``operators.graph.triangle_enumerate``)
    over the frequent co-purchase graph: parts bought together in ≥2
    orders form edges; triangles are the tight product clusters a
    recommender mines. The operator runs the degree-ordered
    node-iterator (wedge relation bounded O(m^1.5), hub-proof — a pure
    star yields zero wedges); the oracle enumerates id-ordered
    triangles directly — identical sets because each triangle is
    emitted once either way. Edge building avoids the fact-fact
    self-join entirely: one groupBy collapses each order to its sorted
    distinct-part basket, then in-basket pair combinations are
    generated SCAN-SIDE by higher-order functions (transform over
    suffix slices) — pair fan-out is items-per-order² inside a row,
    never a join, and the support count rides the same partial-agg
    shuffle. Support = distinct orders containing the pair."""
    from technical_test_data_engineer_spark.operators.graph import (
        triangle_enumerate,
    )

    edges = _copurchase_edges(spark, sf_dir)
    return triangle_enumerate(edges).orderBy("node_a", "node_b", "node_c")


def _copurchase_edges(
    spark: SparkSession,
    sf_dir: str,
    min_support: int = 2,
    where=None,
    keep_support: bool = False,
) -> DataFrame:
    """Undirected frequent co-purchase edges (src < dst), built without
    a fact-fact self-join: per-order sorted distinct baskets, then
    scan-side pair generation via nested ``transform`` over suffix
    slices (see ``part_copurchase_triangles``). Shared by the triangle,
    PageRank, BFS, k-core and edge-churn queries; ``where`` filters the
    lineitem scan (pushed down), ``keep_support`` retains the
    ``n_orders`` support column.

    Session-scoped materialization (r5 verdict item 6): the unfiltered
    variant is built ONCE per SparkSession as a temp-parquet relation
    (``operators.materialize``) at the base support of 2 WITH the
    support column; every consumer — including higher ``min_support``
    callers, which filter ``n_orders`` on the materialized frame —
    starts from a columnar scan instead of replaying the lineitem
    basket pipeline (~2-4 s × 7 consumers per full sweep). ``where``-
    filtered variants (edge churn's two date slices) bypass the cache:
    each filter is used by exactly one query, so materializing them
    would pay the write for zero reuse."""
    if where is None and min_support >= 2:
        from technical_test_data_engineer_spark.operators.materialize import (
            materialized_relation,
        )

        base = materialized_relation(
            spark,
            f"copurchase_edges_s2_{sf_dir}",
            lambda: _copurchase_edges_build(spark, sf_dir, 2, None),
        )
        if min_support > 2:
            base = base.filter(F.col("n_orders") >= min_support)
        return base.select(
            "src", "dst", *(["n_orders"] if keep_support else [])
        )
    return _copurchase_edges_build(spark, sf_dir, min_support, where).select(
        "src", "dst", *(["n_orders"] if keep_support else [])
    )


def _copurchase_edges_build(
    spark: SparkSession,
    sf_dir: str,
    min_support: int,
    where,
) -> DataFrame:
    """The raw basket-HOF edge pipeline (always keeps ``n_orders``)."""
    li = load_table(spark, sf_dir, "lineitem")
    if where is not None:
        li = li.filter(where)
    li = li.select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("items")
    )
    pairs = F.flatten(
        F.transform(
            F.col("items"),
            lambda x, i: F.transform(
                F.slice(F.col("items"), i + 2, F.size(F.col("items"))),
                lambda y: F.struct(x.alias("src"), y.alias("dst")),
            ),
        )
    )
    return (
        baskets.select(F.explode(pairs).alias("p"))
        .select("p.src", "p.dst")
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= min_support)
    )


_PR_EDGE_CTE = """
    pe AS (
        SELECT pa, pb FROM (
            SELECT DISTINCT a.l_orderkey, a.l_partkey AS pa, b.l_partkey AS pb
            FROM lineitem a
            JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        )
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    ),
    e AS (
        SELECT pa AS u, pb AS v FROM pe
        UNION ALL
        SELECT pb AS u, pa AS v FROM pe
    ),
    deg AS (SELECT u, COUNT(*) AS outdeg FROM e GROUP BY u),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg)
"""


def _pr_iter_cte(k: int) -> str:
    """One unrolled PageRank iteration r{k-1} -> r{k} (symmetric graph:
    every node has out-edges, so no dangling term)."""
    return f"""
    r{k} AS (
        SELECT d.u AS node,
               0.15 / (SELECT n FROM nn)
               + 0.85 * COALESCE(s.inflow, 0) AS r
        FROM deg d LEFT JOIN (
            SELECT e.v AS node, SUM(r{k - 1}.r / deg.outdeg) AS inflow
            FROM e
            JOIN r{k - 1} ON r{k - 1}.node = e.u
            JOIN deg ON deg.u = e.u
            GROUP BY e.v
        ) s ON s.node = d.u
    )"""


@query(
    "part_copurchase_pagerank",
    f"""
    WITH {_PR_EDGE_CTE},
    r0 AS (SELECT u AS node, 1.0 / nn.n AS r FROM deg, nn),
    {_pr_iter_cte(1)},
    {_pr_iter_cte(2)},
    {_pr_iter_cte(3)}
    SELECT node, r AS pagerank FROM r3 ORDER BY pagerank DESC, node
    """,
)
def part_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (``operators.graph.pagerank``) over the
    same frequent co-purchase graph the triangle query mines: the
    centrality ranking a recommender uses for 'anchor products'. The
    operator runs 3 power iterations — each is ONE keyed shuffle
    (rank/outdeg flows along edges, re-aggregates at the target with
    map-side partial sums) with ``localCheckpoint`` lineage truncation
    per iteration, dangling mass redistributed via a broadcast scalar
    (a no-op here: the symmetric graph has no sinks). The oracle
    unrolls the identical three iterations as chained CTEs; 9-sig-fig
    value rounding absorbs summation-order float drift."""
    from technical_test_data_engineer_spark.operators.graph import pagerank

    und = _copurchase_edges(spark, sf_dir)
    sym = und.unionByName(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return pagerank(sym, iters=3).orderBy(F.desc("pagerank"), "node")


@query(
    "segment_revenue_trend",
    f"""
    WITH m AS (
        SELECT c_mktsegment AS segment,
               MONTH(o_orderdate) AS mon,
               {_decsum('o_totalprice')} AS rev
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_orderdate >= DATE '1996-01-01'
          AND o_orderdate < DATE '1997-01-01'
        GROUP BY 1, 2
    )
    SELECT segment,
           CAST(COUNT(*) AS INT) AS n_months,
           (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(mon * rev) AS DOUBLE)
            - CAST(SUM(mon) AS DOUBLE) * CAST(SUM(rev) AS DOUBLE))
           / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(mon * mon) AS DOUBLE)
              - CAST(SUM(mon) AS DOUBLE) * CAST(SUM(mon) AS DOUBLE))
           AS slope
    FROM m
    GROUP BY segment
    ORDER BY segment
    """,
)
def segment_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped least-squares trend: monthly 1996 revenue per market
    segment, then the OLS slope per segment from closed-form moment
    sums. Two-stage shape that scales: stage 1 is the only
    corpus-sized agg (decimal-exact monthly revenue, one shuffle on
    (segment, month)); stage 2 regresses over ≤ segments×12 rows. All
    moments (Σxy, Σx², …) stay in exact decimal/bigint arithmetic —
    doubles appear only in the final slope division, the same
    expression tree the oracle runs, so the hash match is exact rather
    than rounding-dependent."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    customer = load_table(spark, sf_dir, "customer")
    monthly = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.month("o_orderdate").alias("mon"),
        )
        .agg(exact_sum("o_totalprice", "rev"))
        .select("segment", "mon", dec("rev").alias("rev"))
    )
    mom = monthly.groupBy("segment").agg(
        F.count("*").cast("int").alias("n_months"),
        F.sum(F.col("mon") * F.col("rev")).cast("double").alias("_sxy"),
        F.sum("mon").cast("double").alias("_sx"),
        F.sum("rev").cast("double").alias("_sy"),
        F.sum(F.col("mon") * F.col("mon")).cast("double").alias("_sxx"),
        F.count("*").cast("double").alias("_n"),
    )
    return mom.select(
        "segment",
        "n_months",
        (
            (F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy"))
            / (F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx"))
        ).alias("slope"),
    ).orderBy("segment")


@query(
    "events_heavy_hitters_cms",
    """
    WITH dep AS (SELECT UNNEST([0, 1, 2, 3]) AS d),
    ex AS (
        SELECT e.user_id, dep.d,
               CAST(('0x' || substr(md5(
                   CAST(dep.d AS VARCHAR) || ':' || CAST(e.user_id AS VARCHAR)
               ), 1, 8)) AS BIGINT) % 256 AS bucket
        FROM events e CROSS JOIN dep
    ),
    sketch AS (SELECT d, bucket, COUNT(*) AS cnt FROM ex GROUP BY 1, 2),
    est AS (
        SELECT u.user_id, MIN(s.cnt) AS est_count
        FROM (SELECT DISTINCT user_id, d, bucket FROM ex) u
        JOIN sketch s USING (d, bucket)
        GROUP BY u.user_id
    ),
    ex_act AS (SELECT user_id, COUNT(*) AS exact_count FROM events GROUP BY 1)
    SELECT user_id, est_count, exact_count
    FROM est JOIN ex_act USING (user_id)
    QUALIFY ROW_NUMBER() OVER (ORDER BY est_count DESC, user_id) <= 20
    ORDER BY est_count DESC, user_id
    """,
)
def events_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters: per-user event counts estimated
    from a 4×256 counter grid (seeded md5 row hashes), top-20 by
    estimate, with the exact count alongside — CMS never
    underestimates, so est_count ≥ exact_count row by row in the
    output. The sketch shape is why this scales: map-side partial agg
    collapses each scan task to ≤ 4×256 counter rows BEFORE the
    shuffle (constant-size exchange at any event volume), the sketch
    broadcasts, and the candidate probe is a distinct over ~users
    rows. The exact-count join is the PROOF harness, not the operator
    — production reads estimates straight off the broadcast grid.
    Deterministic end-to-end (md5, no rand), so the oracle recomputes
    sketch, estimates, and ranking bit-for-bit."""
    from pyspark.sql.window import Window

    D, W = 4, 256
    events = load_table(spark, sf_dir, "events").select("user_id")
    ex = events.select(
        "user_id",
        F.explode(F.array(*[F.lit(d) for d in range(D)])).alias("d"),
    ).withColumn(
        "bucket",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("d").cast("string"),
                        F.lit(":"),
                        F.col("user_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % W,
    )
    sketch = ex.groupBy("d", "bucket").agg(F.count("*").alias("cnt"))
    est = (
        ex.select("user_id", "d", "bucket")
        .distinct()
        .join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("user_id")
        .agg(F.min("cnt").alias("est_count"))
    )
    exact = events.groupBy("user_id").agg(F.count("*").alias("exact_count"))
    w = Window.orderBy(F.desc("est_count"), F.asc("user_id"))
    return (
        est.join(exact, "user_id")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 20)
        .select("user_id", "est_count", "exact_count")
        .orderBy(F.desc("est_count"), "user_id")
    )


@query(
    "part_name_entities",
    """
    WITH RECURSIVE c AS (
        SELECT p_name, COUNT(*) AS n_rows FROM part GROUP BY p_name
    ),
    n AS (
        SELECT p_name, split_part(p_name, ' ', -1) AS blk,
               LENGTH(p_name) AS len
        FROM c
    ),
    pairs AS (
        SELECT a.p_name AS ia, b.p_name AS ib
        FROM n a
        JOIN n b ON a.blk = b.blk AND a.p_name < b.p_name
                AND ABS(a.len - b.len) <= 2
        WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 2
    ),
    edges AS (
        SELECT ia AS ea, ib AS eb FROM pairs
        UNION ALL SELECT ib, ia FROM pairs
    ),
    reach(src, dst) AS (
        SELECT p_name, p_name FROM c
        UNION
        SELECT r.src, e.eb FROM reach r JOIN edges e ON r.dst = e.ea
    ),
    comp AS (SELECT src AS name, MIN(dst) AS component FROM reach GROUP BY src),
    canon AS (
        SELECT component, name AS canonical_name FROM (
            SELECT comp.component, comp.name, c.n_rows,
                   ROW_NUMBER() OVER (
                       PARTITION BY comp.component
                       ORDER BY c.n_rows DESC, comp.name
                   ) AS rn
            FROM comp JOIN c ON c.p_name = comp.name
        ) WHERE rn = 1
    )
    SELECT comp.name, canon.canonical_name, c.n_rows
    FROM comp
    JOIN canon USING (component)
    JOIN c ON c.p_name = comp.name
    ORDER BY name
    """,
)
def part_name_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end: fuzzy_pairs edges → connected
    components → frequency-weighted canonicalization. Each distinct
    catalog name maps to its cluster's canonical spelling (most rows
    wins, alphabetical tiebreak) — the full record-linkage pipeline
    (block → match → cluster → survivorship) as one declarative plan.
    Scale: edges come from the blocked linkage (never a cross
    product), CC is the O(log n) large-star/small-star operator over
    distinct NAMES (vocab-sized, not row-sized), and the survivorship
    pick is one window over vocab rows. Oracle: recursive-CTE
    reachability + the same ranked pick."""
    from pyspark.sql.window import Window

    from technical_test_data_engineer_spark.operators.graph import (
        connected_components,
    )
    from technical_test_data_engineer_spark.operators.joins import fuzzy_pairs

    part = load_table(spark, sf_dir, "part")
    counts = part.groupBy("p_name").agg(F.count("*").alias("n_rows"))
    pairs = fuzzy_pairs(
        part,
        "p_name",
        block=lambda col: F.element_at(F.split(col, " "), -1),
        max_dist=2,
    )
    comp = connected_components(
        counts.select(F.col("p_name").alias("id")),
        pairs.select(F.col("name_a").alias("src"), F.col("name_b").alias("dst")),
        id_col="id",
    )
    labeled = comp.join(counts, comp["id"] == counts["p_name"]).select(
        F.col("id").alias("name"), "component", "n_rows"
    )
    w = Window.partitionBy("component").orderBy(F.desc("n_rows"), F.asc("name"))
    canon = (
        labeled.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.col("component").alias("_c"), F.col("name").alias("canonical_name"))
    )
    return (
        labeled.join(canon, labeled["component"] == canon["_c"])
        .select("name", "canonical_name", "n_rows")
        .orderBy("name")
    )


@query(
    "orders_quality_audit",
    """
    SELECT 'orderkey_dup_rows' AS check_name,
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS DOUBLE) AS observed,
           (COUNT(*) - COUNT(DISTINCT o_orderkey)) = 0 AS passed
    FROM orders
    UNION ALL
    SELECT 'custkey_null_frac',
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
           / COUNT(*),
           SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0
    FROM orders
    UNION ALL
    SELECT 'totalprice_negative_rows',
           CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS DOUBLE),
           SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) = 0
    FROM orders
    UNION ALL
    SELECT 'orderdate_out_of_range_rows',
           CAST(SUM(CASE WHEN o_orderdate < DATE '1992-01-01'
                         OR o_orderdate >= DATE '1999-01-01'
                    THEN 1 ELSE 0 END) AS DOUBLE),
           SUM(CASE WHEN o_orderdate < DATE '1992-01-01'
                    OR o_orderdate >= DATE '1999-01-01'
               THEN 1 ELSE 0 END) = 0
    FROM orders
    UNION ALL
    SELECT 'custkey_orphans',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE o.o_custkey IS NOT NULL
                   AND NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS DOUBLE),
           (SELECT COUNT(*) FROM orders o
            WHERE o.o_custkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) = 0
    ORDER BY check_name
    """,
)
def orders_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (``operators.quality``): five
    expectations over the orders table — key uniqueness, null
    fraction, value-range and date-range violations in ONE aggregation
    pass (each constraint is a column of the same partial agg, so more
    checks ≠ more scans), plus referential integrity to customer as a
    left-anti orphan count unioned onto the same report shape. The
    pipeline circuit-breaker a production ingest runs before
    publishing a snapshot."""
    from technical_test_data_engineer_spark.operators.quality import (
        constraint_audit,
        referential_check,
    )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    in_pass = constraint_audit(
        orders,
        [
            (
                # countDistinct ignores NULL keys, so this form counts
                # every null-key row as a duplicate — deliberate (a
                # NULL primary key is itself a violation; o_orderkey is
                # NOT NULL by schema, and the oracle's COUNT DISTINCT
                # has identical null semantics)
                "orderkey_dup_rows",
                F.count("*") - F.countDistinct("o_orderkey"),
                lambda o: o == 0,
            ),
            (
                "custkey_null_frac",
                F.sum(F.col("o_custkey").isNull().cast("long")) / F.count("*"),
                lambda o: o == 0,
            ),
            (
                "totalprice_negative_rows",
                F.sum((F.col("o_totalprice") < 0).cast("long")),
                lambda o: o == 0,
            ),
            (
                "orderdate_out_of_range_rows",
                F.sum(
                    (
                        (F.col("o_orderdate") < F.lit("1992-01-01"))
                        | (F.col("o_orderdate") >= F.lit("1999-01-01"))
                    ).cast("long")
                ),
                lambda o: o == 0,
            ),
        ],
    )
    ref = referential_check(
        "custkey_orphans",
        orders.filter(F.col("o_custkey").isNotNull()),
        customer,
        "o_custkey",
        "c_custkey",
    )
    return in_pass.unionByName(ref).orderBy("check_name")


@query(
    "part_reachability_hops",
    f"""
    WITH RECURSIVE {_PR_EDGE_CTE},
    seeds AS (
        SELECT u AS node FROM deg ORDER BY outdeg DESC, u LIMIT 1
    ),
    r(node, hops) AS (
        SELECT node, 0 FROM seeds
        UNION ALL
        SELECT e.v, r.hops + 1
        FROM r JOIN e ON e.u = r.node
        WHERE r.hops < 3
    )
    SELECT node, CAST(MIN(hops) AS INT) AS hops
    FROM r GROUP BY node
    ORDER BY hops, node
    """,
)
def part_reachability_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier-parallel BFS (``operators.graph.bfs_hops``): minimum
    hop distance, capped at 3, from the highest-degree hub of the frequent
    co-purchase graph — the 'within-N-hops' scope a recommender or
    blast-radius analysis draws around an anchor product. Per round:
    frontier⋈edges + anti-join against visited (work ∝ frontier
    out-edges, settled nodes never re-expand — the guard that keeps
    cyclic graphs linear where the oracle's walk enumeration is
    exponential in the bound). The oracle's recursive CTE enumerates
    bounded walks and takes MIN(hops) per node — identical semantics
    at this cap. Seed selection is itself a 1-row aggregate, never a
    driver collect."""
    from technical_test_data_engineer_spark.operators.graph import bfs_hops

    und = _copurchase_edges(spark, sf_dir)
    sym = und.unionByName(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # anchor = highest-degree node (deterministic id tiebreak): a
    # min-id seed lands in a 2-node fragment at sf0.1 — a vacuous
    # traversal; the hub exercises real frontier growth. Still a tiny
    # aggregate + limit, never a driver collect.
    seeds = (
        sym.groupBy("src")
        .agg(F.count("*").alias("deg"))
        .orderBy(F.desc("deg"), F.asc("src"))
        .limit(1)
        .select(F.col("src").alias("node"))
    )
    return bfs_hops(sym, seeds, max_hops=3).orderBy("hops", "node")


@query(
    "pareto_parts",
    """
    SELECT p_partkey, p_retailprice, p_size
    FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM part o
        WHERE o.p_retailprice <= p.p_retailprice
          AND o.p_size >= p.p_size
          AND (o.p_retailprice < p.p_retailprice OR o.p_size > p.p_size)
    )
    ORDER BY p_partkey
    """,
)
def pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (``operators.relational.pareto_front``): parts where no
    other part is both cheaper and larger — the classic
    price-vs-capacity shortlist. The operator runs the two-phase
    distributed skyline (bucket-local numpy dominance kernels, then
    one survivor-sized pass); the oracle is the textbook NOT EXISTS
    dominance predicate, quadratic but fine at oracle scale — exactly
    the plan shape the distributed version exists to avoid."""
    from technical_test_data_engineer_spark.operators.relational import (
        pareto_front,
    )

    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    # materialize after: phase 2 groups on a constant bucket, not on
    # p_partkey, so a range exchange below the stage would be re-shuffled
    return ordered_python_stage(
        part,
        lambda p: pareto_front(
            p, minimize=("p_retailprice",), maximize=("p_size",)
        ),
        ["p_partkey"],
        range_first=False,
    )


def _kcore_unrolled_sql(rounds: int, k: int = 2) -> str:
    """Unrolled k-core peel oracle: ``rounds`` chained
    (degree-filter, survivor-join) CTE pairs over the shared
    co-purchase edge relation — the ``_r3`` recurrence generalized.
    EQUAL to the true k-core whenever the peel reaches its fixpoint
    within ``rounds`` (each round only ever removes nodes, so once a
    round removes nobody every later round is the identity)."""
    parts = [f"WITH {_PR_EDGE_CTE}"]
    prev = "e"
    for i in range(1, rounds + 1):
        # AS MATERIALIZED: each round references the previous edge set
        # TWICE (degree agg + survivor join), and DuckDB inlines plain
        # CTEs — without the hint the expression tree doubles per round
        # and the base co-purchase self-join is evaluated 2^rounds
        # times (measured: 175 s at rounds=6 vs 2 s materialized).
        parts.append(
            f", s{i} AS MATERIALIZED (SELECT u FROM "
            f"(SELECT u, COUNT(*) AS c FROM {prev} GROUP BY u) "
            f"WHERE c >= {k})"
        )
        parts.append(
            f", e{i} AS MATERIALIZED (SELECT {prev}.u, {prev}.v FROM {prev} "
            f"JOIN s{i} a ON {prev}.u = a.u "
            f"JOIN s{i} b ON {prev}.v = b.u)"
        )
        prev = f"e{i}"
    parts.append(
        f" SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS degree"
        f" FROM {prev} GROUP BY u ORDER BY node"
    )
    return "".join(parts)


# Oracle peel depth for part_copurchase_kcore: the 2-core fixpoint is
# reached in 1 round at sf0.001 and 3 at sf0.01 (measured r10); 6 gives
# a 2x margin, and tests/test_round10_ops.py asserts fixpoint ==
# 6-round peel on both gate fixtures so drift surfaces in pytest
# before it can redden the driver gate.
_KCORE_ORACLE_ROUNDS = 6


@query("part_copurchase_kcore", _kcore_unrolled_sql(_KCORE_ORACLE_ROUNDS))
def part_copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the frequent co-purchase graph
    (``operators.graph.k_core``): strips pendant products to leave the
    cyclically-connected merchandising clusters — the subgraph the
    triangle query's output lives in (every triangle edge survives any
    2-core peel, asserted in tests).

    Oracle-paired (r10, converted from rows-only): the Spark side runs
    the TRUE shrinking fixpoint; the oracle unrolls the peel recurrence
    {_KCORE_ORACLE_ROUNDS} rounds — identical to the fixpoint whenever
    convergence takes ≤ that many rounds, which holds with 2x margin on
    both gate fixtures (1 round at sf0.001, 3 at sf0.01; pytest-pinned).
    The earlier fixed-depth companion ``part_copurchase_kcore_r3``
    (driver-green r07) stays — it value-checks the per-round machinery
    at a depth where the peel is still strictly shrinking."""
    from technical_test_data_engineer_spark.operators.graph import k_core

    edges = _copurchase_edges(spark, sf_dir)
    return k_core(edges, k=2).orderBy("node")


@query(
    "part_copurchase_kcore_r3",
    f"""
    WITH {_PR_EDGE_CTE},
    s1 AS (SELECT u FROM (SELECT u, COUNT(*) AS c FROM e GROUP BY u)
           WHERE c >= 2),
    e1 AS (SELECT e.u, e.v FROM e
           JOIN s1 a ON e.u = a.u JOIN s1 b ON e.v = b.u),
    s2 AS (SELECT u FROM (SELECT u, COUNT(*) AS c FROM e1 GROUP BY u)
           WHERE c >= 2),
    e2 AS (SELECT e1.u, e1.v FROM e1
           JOIN s2 a ON e1.u = a.u JOIN s2 b ON e1.v = b.u),
    s3 AS (SELECT u FROM (SELECT u, COUNT(*) AS c FROM e2 GROUP BY u)
           WHERE c >= 2),
    e3 AS (SELECT e2.u, e2.v FROM e2
           JOIN s3 a ON e2.u = a.u JOIN s3 b ON e2.v = b.u)
    SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS degree
    FROM e3 GROUP BY u ORDER BY node
    """,
)
def part_copurchase_kcore_r3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three peel rounds toward the 2-core
    (``operators.graph.k_core_peel_rounds``) — the oracle-pairable twin
    of ``part_copurchase_kcore``: the shrinking fixpoint has no SQL
    form, but a FIXED iteration count unrolls into chained CTEs (the
    PageRank / label-propagation convention), so the driver
    value-checks the peel machinery itself — per-round degree
    aggregation, survivor semi joins, and the post-round degree report
    — on the same shared co-purchase edge relation. On this graph most
    pendant shells strip in the first rounds, so r3 is already close
    to (and a superset of) the fixpoint core the rows-only query
    reports."""
    from technical_test_data_engineer_spark.operators.graph import (
        k_core_peel_rounds,
    )

    edges = _copurchase_edges(spark, sf_dir)
    return k_core_peel_rounds(edges, k=2, rounds=3).orderBy("node")


@query(
    "part_cf_similarity",
    """
    WITH li AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT l_partkey, COUNT(*) AS n_orders FROM li GROUP BY l_partkey),
    cooc AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS c
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    ),
    sym AS (
        SELECT pa, pb, c FROM cooc UNION ALL SELECT pb, pa, c FROM cooc
    ),
    scored AS (
        SELECT sym.pa AS part_id, sym.pb AS other_id,
               c / SQRT(CAST(na.n_orders AS DOUBLE)
                        * CAST(nb.n_orders AS DOUBLE)) AS sim
        FROM sym
        JOIN n na ON na.l_partkey = sym.pa
        JOIN n nb ON nb.l_partkey = sym.pb
    )
    SELECT part_id, other_id, ROUND(sim, 6) AS sim, CAST(rn AS INT) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY part_id ORDER BY sim DESC, other_id
        ) AS rn FROM scored
    )
    WHERE rn <= 5
    ORDER BY part_id, rank
    """,
)
def part_cf_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: top-5 'bought together'
    neighbors per part under the Ochiai coefficient
    (cooc / √(n_a·n_b) — cosine over binary order-membership vectors),
    the classic Amazon-style recommender primitive. Co-occurrence
    counts come from the SAME scan-side basket pair generation the
    triangle/PageRank queries use (pair fan-out inside a row, never a
    fact-fact join); normalization joins two vocabulary-sized count
    relations. Support ≥ 2 prunes noise pairs before ranking."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("items")
    )
    # n_orders per part from the SAME basket frame (collect_set already
    # dedupes within an order, so exploded membership == DISTINCT
    # (order, part)) — r13: the former li.distinct().groupBy() path was
    # a second DIFFERENT full fact shuffle; this one recompiles the
    # basket agg, whose duplicate scan is cheaper than either the
    # distinct (A/B: 2.03 vs 2.22 s) or persisting the array frame
    # (3.19 s — materializing baskets costs more than the extra scan,
    # the r10 counter-lesson). Values identical; the oracle keeps its
    # DISTINCT form of the same counts.
    n = (
        baskets.select(F.explode("items").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").alias("n_orders"))
    )
    pairs = F.flatten(
        F.transform(
            F.col("items"),
            lambda x, i: F.transform(
                F.slice(F.col("items"), i + 2, F.size(F.col("items"))),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
    cooc = (
        baskets.select(F.explode(pairs).alias("p"))
        .select("p.pa", "p.pb")
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
    )
    sym = cooc.unionByName(
        cooc.select(
            F.col("pb").alias("pa"), F.col("pa").alias("pb"), "c"
        )
    )
    scored = (
        sym.join(
            n.select(F.col("l_partkey").alias("pa"), F.col("n_orders").alias("na")),
            "pa",
        )
        .join(
            n.select(F.col("l_partkey").alias("pb"), F.col("n_orders").alias("nb")),
            "pb",
        )
        .select(
            F.col("pa").alias("part_id"),
            F.col("pb").alias("other_id"),
            (
                F.col("c")
                / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("part_id").orderBy(F.desc("sim"), F.asc("other_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
        .select("part_id", "other_id", F.round("sim", 6).alias("sim"), "rank")
        .orderBy("part_id", "rank")
    )


@query(
    "orderkey_skew_report",
    """
    WITH k AS (
        SELECT l_orderkey, COUNT(*) AS c FROM lineitem GROUP BY l_orderkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(MAX(c) AS BIGINT) AS max_rows_per_key,
           CAST(SUM(c) AS DOUBLE) / COUNT(*) AS mean_rows_per_key,
           CAST(MAX(c) AS DOUBLE) / (CAST(SUM(c) AS DOUBLE) / COUNT(*))
               AS skew_factor,
           CAST(PERCENTILE_CONT(0.99) WITHIN GROUP (ORDER BY c) AS DOUBLE)
               AS p99_rows_per_key
    FROM k
    """,
)
def orderkey_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic for the fact table's hottest join key:
    rows-per-key max/mean/p99 and the max/mean skew factor — the
    number that decides between a plain hash join, AQE skew splitting,
    and explicit salting (salted_segment_revenue demonstrates the
    cure; this query is the thermometer). One keyed count plus a
    key-cardinality-sized summary aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    k = li.groupBy("l_orderkey").agg(F.count("*").alias("c"))
    return k.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("c").cast("bigint").alias("n_rows"),
        F.max("c").cast("bigint").alias("max_rows_per_key"),
        (F.sum("c").cast("double") / F.count("*")).alias("mean_rows_per_key"),
        (
            F.max("c").cast("double")
            / (F.sum("c").cast("double") / F.count("*"))
        ).alias("skew_factor"),
        F.expr("percentile(c, 0.99)").cast("double").alias("p99_rows_per_key"),
    )


@query(
    "copurchase_edge_churn",
    """
    WITH e1 AS (
        SELECT pa, pb, COUNT(*) AS c FROM (
            SELECT DISTINCT a.l_orderkey, a.l_partkey AS pa, b.l_partkey AS pb
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            WHERE a.l_shipdate < DATE '1998-01-01'
              AND b.l_shipdate < DATE '1998-01-01'
        ) GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    e2 AS (
        SELECT pa, pb, COUNT(*) AS c FROM (
            SELECT DISTINCT a.l_orderkey, a.l_partkey AS pa, b.l_partkey AS pb
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            WHERE a.l_shipdate >= DATE '1998-01-01'
              AND b.l_shipdate >= DATE '1998-01-01'
        ) GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    d AS (
        SELECT CASE WHEN e1.pa IS NULL THEN 'added'
                    WHEN e2.pa IS NULL THEN 'removed'
                    WHEN e1.c <> e2.c THEN 'changed'
               END AS change
        FROM e1 FULL JOIN e2 USING (pa, pb)
    )
    SELECT change, CAST(COUNT(*) AS BIGINT) AS n_edges
    FROM d WHERE change IS NOT NULL
    GROUP BY change ORDER BY change
    """,
)
def copurchase_edge_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph churn between two periods
    (``sources.maintenance.snapshot_diff`` under the oracle gate): the
    pre-/post-1998 frequent co-purchase edge sets diffed by key with
    support as the compared payload — added/removed/changed edge
    counts, the drift report a recommender retrain gate reads. The
    diff itself shuffles an 8-byte row hash per edge (null-bitmap
    prefixed), never the payload; edge building reuses the shared
    basket path with the period filter pushed to the scan. Both
    populated classes (~370 added / ~140 removed at sf0.01) are
    value-checked; the 'changed' class needs an edge persisting
    across halves with different support — absent on this sparse
    fixture, covered by snapshot_diff's unit tests."""
    from technical_test_data_engineer_spark.sources.maintenance import (
        snapshot_diff,
    )

    cutoff = F.lit("1998-01-01").cast("date")
    old = _copurchase_edges(
        spark, sf_dir, where=F.col("l_shipdate") < cutoff, keep_support=True
    )
    new = _copurchase_edges(
        spark, sf_dir, where=F.col("l_shipdate") >= cutoff, keep_support=True
    )
    diff = snapshot_diff(old, new, ["src", "dst"])
    return (
        diff.groupBy("change")
        .agg(F.count("*").cast("bigint").alias("n_edges"))
        .orderBy("change")
    )


_LP_ROUND = """
    l{k} AS (
        SELECT n.node,
               COALESCE(n.label, m.label) AS label
        FROM l{prev} n
        LEFT JOIN (
            SELECT e.v AS node, s.label
            FROM e
            JOIN l{prev} s ON s.node = e.u AND s.label IS NOT NULL
            GROUP BY e.v, s.label
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY e.v ORDER BY COUNT(*) DESC, s.label
            ) = 1
        ) m ON m.node = n.node
    )"""


@query(
    "part_label_propagation",
    f"""
    WITH {_PR_EDGE_CTE},
    nodes AS (SELECT DISTINCT u AS node FROM e),
    l0 AS (
        SELECT n.node,
               CASE WHEN n.node % 3 = 0 THEN NULL ELSE p.p_brand END AS label
        FROM nodes n JOIN part p ON p.p_partkey = n.node
    ),
    {_LP_ROUND.format(k=1, prev=0)},
    {_LP_ROUND.format(k=2, prev=1)}
    SELECT node, label FROM l2 ORDER BY node
    """,
)
def part_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation (2 synchronous rounds): parts
    with hidden brand labels (every 3rd node) inherit the MAJORITY
    label of their co-purchase neighbors, lexicographic tiebreak —
    the graph-ML primitive for propagating sparse annotations
    (language tags, quality labels) across a similarity graph. Each
    round is one labeled-neighbor join + one (node, label) count +
    top-1-per-node window — the same keyed-shuffle budget as a
    PageRank iteration; labeled nodes are fixed points. Fixed rounds
    keep it oracle-unrollable; still-unlabeled nodes (no labeled
    neighbor within 2 hops) stay NULL."""
    from pyspark.sql.window import Window

    und = _copurchase_edges(spark, sf_dir)
    e = und.unionByName(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    nodes = e.select(F.col("src").alias("node")).distinct()
    labels = nodes.join(part, nodes.node == part.p_partkey).select(
        "node",
        F.when(F.col("node") % 3 == 0, F.lit(None)).otherwise(
            F.col("p_brand")
        ).alias("label"),
    )
    w = Window.partitionBy("node").orderBy(F.desc("cnt"), F.asc("label"))
    for _ in range(2):
        contrib = (
            e.join(
                labels.filter(F.col("label").isNotNull()).select(
                    F.col("node").alias("src"), F.col("label")
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count("*").alias("cnt"))
        )
        majority = (
            contrib.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", F.col("label").alias("_ml"))
        )
        labels = (
            labels.join(majority, "node", "left")
            .select(
                "node",
                F.coalesce(F.col("label"), F.col("_ml")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
    return labels.orderBy("node")


@query(
    "copurchase_degree_stats",
    f"""
    WITH {_PR_EDGE_CTE}
    SELECT CAST(FLOOR(LOG2(outdeg)) AS INT) AS degree_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(outdeg) AS BIGINT) AS min_degree,
           CAST(MAX(outdeg) AS BIGINT) AS max_degree
    FROM deg
    GROUP BY 1 ORDER BY 1
    """,
)
def copurchase_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph in log2 buckets —
    the heavy-tail diagnostic read before choosing graph strategies
    (a power-law tail is why triangle enumeration degree-orders its
    wedges and why the MinHash band join caps hot buckets; a hub
    bucket here predicts both). Degree aggregation reuses the shared
    symmetric edge build; the histogram is a degree-table-sized
    aggregate."""
    und = _copurchase_edges(spark, sf_dir)
    sym = und.unionByName(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count("*").alias("outdeg"))
    return (
        deg.groupBy(
            F.floor(F.log2("outdeg")).cast("int").alias("degree_bucket")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.min("outdeg").cast("bigint").alias("min_degree"),
            F.max("outdeg").cast("bigint").alias("max_degree"),
        )
        .orderBy("degree_bucket")
    )


@query(
    "nation_trade_balance",
    f"""
    WITH sell AS (
        SELECT s_nationkey AS nk,
               {_decsum('l_extendedprice * (1 - l_discount)')} AS sold
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY s_nationkey
    ),
    buy AS (
        SELECT c_nationkey AS nk, {_decsum('o_totalprice')} AS bought
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_nationkey
    )
    SELECT n_name,
           COALESCE(sold, 0.0) AS sold,
           COALESCE(bought, 0.0) AS bought,
           COALESCE(sold, 0.0) - COALESCE(bought, 0.0) AS balance
    FROM nation
    LEFT JOIN sell ON nk = n_nationkey
    LEFT JOIN buy ON buy.nk = n_nationkey
    ORDER BY n_name
    """,
)
def nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-role dimension analysis: each nation's supplier-side revenue
    vs customer-side spend and the net balance — the same dimension
    joined through BOTH fact paths (q7's two-role pattern turned into
    a per-entity scoreboard). Two independent fact aggregations
    (decimal-exact) meet at a 25-row dimension with broadcast left
    joins; nations inactive on either side surface with 0, not NULL
    (P6 null-fill discipline)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", F.expr("l_extendedprice * (1 - l_discount)").alias("rev")
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    sell = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(exact_sum(F.col("rev"), "sold"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    buy = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            exact_sum(F.col("o_totalprice"), "bought")
        )
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    return (
        nation.join(sell, nation.n_nationkey == sell.nk, "left")
        .drop("nk")
        .join(buy, nation.n_nationkey == buy.nk, "left")
        .select(
            "n_name",
            F.coalesce("sold", F.lit(0.0)).alias("sold"),
            F.coalesce("bought", F.lit(0.0)).alias("bought"),
            (
                F.coalesce("sold", F.lit(0.0))
                - F.coalesce("bought", F.lit(0.0))
            ).alias("balance"),
        )
        .orderBy("n_name")
    )


@query(
    "lineitem_measures_unpivot",
    f"""
    SELECT measure, COUNT(*) AS n, {_decsum('value')} AS total
    FROM (
        SELECT 'l_quantity' AS measure, l_quantity AS value FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        UNION ALL
        SELECT 'l_discount', l_discount FROM lineitem
        UNION ALL
        SELECT 'l_tax', l_tax FROM lineitem
    )
    GROUP BY measure
    ORDER BY measure
    """,
)
def lineitem_measures_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape (``DataFrame.unpivot``, the melt/stack
    operator) over the four lineitem measures, then a per-measure
    exact-decimal rollup that value-checks EVERY melted row. Unpivot is
    a zero-shuffle scan-side transpose (each input row emits 4 narrow
    rows inside the same task — the oracle's UNION ALL shape is what
    Spark executes as Expand), so at 100 TB the cost is the one fact
    scan plus a 4-group aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="value",
    )
    return (
        long.groupBy("measure")
        .agg(
            F.count("*").alias("n"),
            exact_sum("value", "total"),
        )
        .orderBy("measure")
    )


@query(
    "segment_price_geomean",
    """
    SELECT c_mktsegment,
           ROUND(EXP(AVG(LN(o_totalprice))), 6) AS geomean_price,
           COUNT(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_totalprice > 0
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def segment_price_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF surface proof — the one vectorized-Python shape the
    engine had not yet exercised: a GROUPED_AGG ``pandas_udf``
    (Arrow-batched partial aggregation, the Spark-Python UDAF form)
    computing the per-segment geometric mean of order prices. The UDAF
    receives each group's values as a pandas Series and reduces to one
    scalar JVM-side per group; at scale the shuffle carries raw rows to
    their group (grouped-agg UDAFs have no partial-combine form — the
    documented trade vs built-in aggregates, which is why the engine
    reserves them for semantics built-ins lack). Numerically the UDAF
    computes exp(mean(ln x)) exactly as the oracle does; 6dp rounding
    absorbs the one libm-vs-numpy mean difference."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def geomean(prices: pd.Series) -> float:
        return float(np.exp(np.log(prices.to_numpy(dtype=np.float64)).mean()))

    # grouped-agg pandas UDFs cannot mix with built-in aggregates in
    # one agg() (INVALID_PANDAS_UDF_PLACEMENT) — the count rides a
    # second vectorized UDAF instead
    @pandas_udf("long")
    def n_rows(prices: pd.Series) -> int:
        return int(len(prices))

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 0
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return ordered_python_stage(
        orders.join(
            F.broadcast(customer), orders.o_custkey == customer.c_custkey
        ),
        lambda j: j.groupBy("c_mktsegment").agg(
            F.round(geomean("o_totalprice"), 6).alias("geomean_price"),
            n_rows("o_totalprice").alias("n_orders"),
        ),
        ["c_mktsegment"],
    )


@query(
    "order_calendar_features",
    """
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS year,
           CAST(EXTRACT(QUARTER FROM o_orderdate) AS INTEGER) AS quarter,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS month,
           CAST(WEEKOFYEAR(CAST(o_orderdate AS DATE)) AS INTEGER)
               AS iso_week,
           CAST(ISODOW(o_orderdate) AS INTEGER) AS iso_dow,
           CAST(ISODOW(o_orderdate) >= 6 AS BOOLEAN) AS is_weekend,
           LAST_DAY(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(CAST(o_orderdate AS DATE) =
                LAST_DAY(CAST(o_orderdate AS DATE)) AS BOOLEAN)
               AS is_month_end,
           CAST(DATE_TRUNC('week', CAST(o_orderdate AS DATE)) AS DATE)
               AS week_start,
           CAST(DATEDIFF('day', DATE '1995-01-01',
                         CAST(o_orderdate AS DATE)) AS INTEGER)
               AS days_since_epoch0
    FROM orders
    WHERE o_orderkey % 199 = 0
    ORDER BY o_orderkey
    """,
)
def order_calendar_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar feature engineering — the date-dimension battery a
    training pipeline derives before temporal models (seasonality
    one-hots, weekend flags, ISO week joins): year/quarter/month,
    ISO week + ISO day-of-week (both engines use ISO-8601 here —
    Spark's ``weekofyear`` and ``weekday``+1 match DuckDB's
    ``weekofyear``/``isodow``, unlike the Sunday-based ``dayofweek``),
    month-end flags, Monday week-start, and an epoch-anchored day
    index. Pure scan-side expressions — at 100 TB this is a free ride
    on whatever scan already runs; the bounded key filter keeps the
    proof output small while every function still evaluates per-row
    pre-filter-pushdown."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 199 == 0
    )
    d = F.to_date("o_orderdate")
    iso_dow = (F.weekday(d) + 1).cast("int")
    return orders.select(
        "o_orderkey",
        d.alias("order_date"),
        F.year(d).cast("int").alias("year"),
        F.quarter(d).cast("int").alias("quarter"),
        F.month(d).cast("int").alias("month"),
        F.weekofyear(d).cast("int").alias("iso_week"),
        iso_dow.alias("iso_dow"),
        (iso_dow >= 6).alias("is_weekend"),
        F.last_day(d).alias("month_end"),
        (d == F.last_day(d)).alias("is_month_end"),
        F.date_trunc("week", d).cast("date").alias("week_start"),
        F.datediff(d, F.lit("1995-01-01").cast("date"))
        .cast("int")
        .alias("days_since_epoch0"),
    ).orderBy("o_orderkey")


@query(
    "basket_rules_lift",
    """
    WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM op),
    item AS (
        SELECT l_partkey, COUNT(*) AS supp_item FROM op GROUP BY l_partkey
    ),
    pair AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS supp_pair
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= 3
    ),
    rules AS (
        SELECT pa AS antecedent, pb AS consequent, supp_pair FROM pair
        UNION ALL
        SELECT pb, pa, supp_pair FROM pair
    )
    SELECT r.antecedent, r.consequent,
           CAST(r.supp_pair AS BIGINT) AS supp_pair,
           CAST(r.supp_pair AS DOUBLE) / ia.supp_item AS confidence,
           CAST(r.supp_pair AS DOUBLE) * n.n_orders
               / (ia.supp_item * ic.supp_item) AS lift
    FROM rules r
    JOIN item ia ON ia.l_partkey = r.antecedent
    JOIN item ic ON ic.l_partkey = r.consequent
    CROSS JOIN n
    ORDER BY lift DESC, antecedent, consequent
    LIMIT 50
    """,
)
def basket_rules_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over market baskets — support / confidence /
    lift for frequent co-purchase pairs (the Apriori output a
    recommender or merchandiser reads): both rule directions of every
    pair with support ≥ 3, top 50 by lift. Plan shape at scale: the
    pair relation comes from the SAME scan-side basket-HOF build as
    the co-purchase graph (never a fact×fact self-join — the oracle's
    self-join is ground truth only), item supports are one keyed
    partial+final agg, and the rule join touches only pair-bounded
    rows with item supports broadcast. Doubles enter only in the final
    confidence/lift divisions with identical expression trees on both
    engines.

    ONE action (r12 fusion, the ``pca_components`` fix class): the
    basket count ``n_orders`` used to be an eager driver-side
    ``.count()`` — a second full lineitem scan + distinct ahead of the
    main job. It now rides as a broadcast 1-row aggregate attached via
    ``crossJoin`` (house broadcast-scalar idiom); both it and the item
    supports hang off the SAME ``op.distinct()`` subplan, so Catalyst's
    ReusedExchange dedupes the expensive distinct instead of running it
    twice. ``n_orders`` is an exact integer well under 2^53, so casting
    the aggregate to double is value-identical to the old
    ``F.lit(float(n_orders))``."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    n_df = op.agg(
        F.countDistinct("l_orderkey").cast("double").alias("_n_orders")
    )
    item = op.groupBy("l_partkey").agg(F.count("*").alias("supp_item"))
    pairs = _copurchase_edges(
        spark, sf_dir, min_support=3, keep_support=True
    ).select(
        F.col("src").alias("pa"),
        F.col("dst").alias("pb"),
        F.col("n_orders").alias("supp_pair"),
    )
    rules = pairs.selectExpr(
        "pa AS antecedent", "pb AS consequent", "supp_pair"
    ).unionByName(
        pairs.selectExpr(
            "pb AS antecedent", "pa AS consequent", "supp_pair"
        )
    )
    ia = item.select(
        F.col("l_partkey").alias("antecedent"),
        F.col("supp_item").alias("_sa"),
    )
    ic = item.select(
        F.col("l_partkey").alias("consequent"),
        F.col("supp_item").alias("_sc"),
    )
    return (
        rules.join(F.broadcast(ia), "antecedent")
        .join(F.broadcast(ic), "consequent")
        .crossJoin(F.broadcast(n_df))
        .select(
            "antecedent",
            "consequent",
            F.col("supp_pair").cast("bigint").alias("supp_pair"),
            (F.col("supp_pair").cast("double") / F.col("_sa")).alias(
                "confidence"
            ),
            (
                F.col("supp_pair").cast("double")
                * F.col("_n_orders")
                / (F.col("_sa") * F.col("_sc"))
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "antecedent", "consequent")
        .limit(50)
    )


@query(
    "acctbal_winsorized_stats",
    """
    WITH fences AS (
        SELECT c_mktsegment,
               PERCENTILE_CONT(0.05) WITHIN GROUP (ORDER BY c_acctbal)
                   AS lo,
               PERCENTILE_CONT(0.95) WITHIN GROUP (ORDER BY c_acctbal)
                   AS hi
        FROM customer GROUP BY c_mktsegment
    )
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(30,10))) AS DOUBLE)
               / COUNT(*) AS mean_raw,
           CAST(SUM(CAST(
               LEAST(GREATEST(c.c_acctbal, f.lo), f.hi)
               AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*) AS mean_winsor,
           CAST(SUM(CASE WHEN c.c_acctbal < f.lo OR c.c_acctbal > f.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
    FROM customer c JOIN fences f USING (c_mktsegment)
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def acctbal_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization — the feature-prep clamp applied before
    scale-sensitive models (clip each segment's balances to its own
    [p05, p95] fence, report raw vs winsorized means + clip counts).
    Two passes at scale: a tiny keyed exact-percentile agg (Spark
    ``percentile`` ≡ PERCENTILE_CONT — the per-group-quantile-gate
    convention) broadcast back, then one scan-side clamp feeding
    exact-decimal means. Complements the MAD outlier gate
    (event_value_outliers): that one FLAGS, this one CAPS."""
    customer = load_table(spark, sf_dir, "customer")
    fences = customer.groupBy("c_mktsegment").agg(
        F.expr("percentile(c_acctbal, 0.05)").alias("lo"),
        F.expr("percentile(c_acctbal, 0.95)").alias("hi"),
    )
    clamped = F.least(
        F.greatest(F.col("c_acctbal"), F.col("lo")), F.col("hi")
    )
    clipped = (
        (F.col("c_acctbal") < F.col("lo"))
        | (F.col("c_acctbal") > F.col("hi"))
    ).cast("int")
    return (
        customer.join(F.broadcast(fences), "c_mktsegment")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            (
                exact_sum(F.col("c_acctbal"))
                / F.count("*")
            ).alias("mean_raw"),
            (
                exact_sum(clamped) / F.count("*")
            ).alias("mean_winsor"),
            F.sum(clipped).cast("bigint").alias("n_clipped"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "lineitem_bloom_prune_revenue",
    f"""
    SELECT l_returnflag,
           {_decsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_orderkey IN (
        SELECT o_orderkey FROM orders
        WHERE o_orderpriority = '1-URGENT' AND o_totalprice >= 150000
    )
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def lineitem_bloom_prune_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter runtime pre-filter ahead of a fact semi join
    (``operators.joins.bloom_semi_join``): revenue of lineitems
    belonging to high-value urgent orders. The filter-key side (urgent
    orders ≥ 150k) builds a 128 Ki-bit / 3-hash bloom bitmap (ONE
    broadcast row, ≤ 16 KiB of non-zero words); the lineitem scan
    probes it with pure JVM expressions so non-matching rows die
    scan-side, BEFORE any join shuffle; the trailing exact semi join
    removes the ~1% false positives. Result is therefore exactly the
    plain ``IN`` subquery the oracle runs — the bloom changes shuffle
    volume, never the answer. This is Spark's own runtime-filter
    strategy made explicit (its ``bloom_filter_agg`` is not publicly
    registered), sized per README §Production knobs: n_bits ≈ 10× the
    expected key count."""
    from technical_test_data_engineer_spark.operators.joins import (
        bloom_semi_join,
    )

    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_totalprice") >= 150000)
        )
        .select("o_orderkey")
    )
    li = load_table(spark, sf_dir, "lineitem")
    picked = bloom_semi_join(li, orders, "l_orderkey", "o_orderkey")
    return (
        picked.groupBy("l_returnflag")
        .agg(
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "customer_revenue_gini",
    f"""
    WITH spend AS (
        SELECT o_custkey,
               {_decsum('o_totalprice')} AS x
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT x,
               ROW_NUMBER() OVER (ORDER BY x ASC, o_custkey ASC) AS i,
               COUNT(*) OVER () AS n
        FROM spend
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
           ROUND(CAST(SUM(CAST(x AS DECIMAL(30,10))) AS DOUBLE), 2)
               AS total_revenue,
           ROUND(
               2.0 * CAST(SUM(CAST(i * x AS DECIMAL(30,10))) AS DOUBLE)
               / (MAX(n) * CAST(SUM(CAST(x AS DECIMAL(30,10))) AS DOUBLE))
               - (MAX(n) + 1.0) / MAX(n),
               6
           ) AS gini
    FROM ranked
    """,
)
def customer_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration — the scalar
    companion to pareto_parts' 80/20 curve (a mixing/curation pipeline
    watches the same statistic over per-source token counts to see how
    concentrated the corpus is). Exact rank formula on ascending spend
    (G = 2·Σi·x_i/(n·Σx) − (n+1)/n), deterministic tiebreak on
    custkey, both Σ accumulated in DECIMAL so neither engine's sum
    order reaches the hash. Plan: one keyed shuffle to per-customer
    spend, then a single global sort-rank over the CUSTOMER relation —
    at 100 TB the same statistic computes from a value-histogram
    (Lorenz curve on equi-depth bins) without the global sort; the
    exact rank form here is the oracle-checkable proof."""
    from pyspark.sql.window import Window as W

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        exact_sum(F.col("o_totalprice")).alias("x")
    )
    w = W.orderBy(F.asc("x"), F.asc("o_custkey"))
    ranked = spend.select(
        "x",
        F.row_number().over(w).alias("i"),
        F.count("*").over(W.partitionBy()).alias("n"),
    )
    return ranked.agg(
        F.max("n").cast("bigint").alias("n_customers"),
        F.round(exact_sum(F.col("x")), 2).alias(
            "total_revenue"
        ),
        F.round(
            F.lit(2.0)
            * exact_sum(F.col("i") * F.col("x"))
            / (F.max("n") * exact_sum(F.col("x")))
            - (F.max("n") + F.lit(1.0)) / F.max("n"),
            6,
        ).alias("gini"),
    )


@query(
    "orders_benford_audit",
    """
    WITH d AS (
        SELECT CAST(SUBSTRING(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                                   AS VARCHAR), 1, 1) AS INTEGER) AS digit
        FROM orders WHERE o_totalprice >= 1
    ),
    n AS (SELECT COUNT(*) AS n_total FROM d),
    c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
    grid AS (SELECT UNNEST(RANGE(1, 10)) AS digit)
    SELECT CAST(grid.digit AS INTEGER) AS digit,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n,
           ROUND(CAST(COALESCE(c.n, 0) AS DOUBLE) / n.n_total, 6)
               AS observed_frac,
           ROUND(LOG10(1.0 + 1.0 / grid.digit), 6) AS benford_frac,
           ROUND(POWER(CAST(COALESCE(c.n, 0) AS DOUBLE) / n.n_total
                       - LOG10(1.0 + 1.0 / grid.digit), 2)
                 / LOG10(1.0 + 1.0 / grid.digit) * n.n_total, 6)
               AS chi2_term
    FROM grid LEFT JOIN c ON c.digit = grid.digit CROSS JOIN n
    ORDER BY digit
    """,
)
def orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit on order amounts — the
    classic forensic data-quality screen (fabricated or truncated
    monetary data drifts from the log-uniform digit law; a synthetic
    uniform fixture rightly FAILS it, which the test asserts — the
    audit detects non-Benford data, it doesn't assume conformance).
    The digit comes from the DECIMAL(18,2) string rendering, not
    FLOOR(x/10^FLOOR(LOG10 x)) — float log at exact powers of 10 can
    flip the floor on one engine and not the other, strings cannot.
    Per digit: observed vs expected share and the chi-square term,
    zero-filled over the 1-9 grid. One scan-side digit extraction +
    a 9-row aggregation; nothing else moves at any scale."""
    orders = load_table(spark, sf_dir, "orders")
    d = orders.filter(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count("*").alias("n"))
    n = d.agg(F.count("*").alias("n_total"))
    grid = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    obs = F.coalesce(F.col("n"), F.lit(0)).cast("double") / F.col("n_total")
    return (
        grid.join(c, "digit", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
            F.round(obs, 6).alias("observed_frac"),
            F.round(expected, 6).alias("benford_frac"),
            F.round(
                F.pow(obs - expected, F.lit(2.0))
                / expected
                * F.col("n_total"),
                6,
            ).alias("chi2_term"),
        )
        .orderBy("digit")
    )


@query(
    "price_quantity_elasticity",
    """
    WITH p AS (
        SELECT LN(l_extendedprice / l_quantity) AS x,
               LN(l_quantity) AS y
        FROM lineitem
        WHERE l_quantity > 0 AND l_extendedprice > 0
    ),
    ml AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(x * 1e10, 0) AS BIGINT)) AS BIGINT) AS sxl,
               CAST(SUM(CAST(ROUND(y * 1e10, 0) AS BIGINT)) AS BIGINT) AS syl,
               CAST(SUM(CAST(ROUND(x * y * 1e10, 0) AS BIGINT)) AS BIGINT)
                   AS sxyl,
               CAST(SUM(CAST(ROUND(x * x * 1e10, 0) AS BIGINT)) AS BIGINT)
                   AS sxxl,
               CAST(SUM(CAST(ROUND(y * y * 1e10, 0) AS BIGINT)) AS BIGINT)
                   AS syyl
        FROM p
    ),
    m AS (
        SELECT n,
               CAST(sxl AS DOUBLE) / 1e10 AS sx,
               CAST(syl AS DOUBLE) / 1e10 AS sy,
               CAST(sxyl AS DOUBLE) / 1e10 AS sxy,
               CAST(sxxl AS DOUBLE) / 1e10 AS sxx,
               CAST(syyl AS DOUBLE) / 1e10 AS syy
        FROM ml
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           ROUND((sxy - sx * sy / n) / NULLIF(sxx - sx * sx / n, 0), 6)
               AS elasticity,
           ROUND(sy / n - (sxy - sx * sy / n)
                          / NULLIF(sxx - sx * sx / n, 0) * sx / n,
                 6) AS intercept,
           ROUND(POWER(sxy - sx * sy / n, 2)
                 / NULLIF((sxx - sx * sx / n) * (syy - sy * sy / n), 0),
                 6) AS r2
    FROM m
    """,
)
def price_quantity_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log OLS price elasticity of demand — univariate regression
    as ONE aggregation pass of sufficient statistics (n, Σx, Σy, Σxy,
    Σx², Σy²), the map-side-combinable form every distributed
    regression reduces to (the same moments trick as ab_test_cuped's
    θ and embedding_covariance): slope = cov(x,y)/var(x), plus
    intercept and r². No MLlib, no iteration, no second scan — at
    100 TB this is a single partial-aggregated scan. Per-row LN runs
    on identical doubles (unit price is one exact-rounded division);
    moments accumulate as integer-scaled BIGINT folds (round(t*1e10),
    the operators/linalg.py moment convention) so partition order can't drift
    the hash and the sums stay in whole-stage codegen; NULLIF guards
    degenerate zero-variance fixtures. The
    synthetic fixture's slope ≈ 0 is itself the correct readout
    (price and quantity are drawn independently) — asserted in
    tests, alongside an exact-slope planted-line fixture."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
    )
    p = li.select(
        F.log(F.col("l_extendedprice") / F.col("l_quantity")).alias("x"),
        F.log(F.col("l_quantity")).alias("y"),
    )
    # r13: integer-scaled long folds (round(t*1e10) summed as BIGINT —
    # the operators/linalg.py moment convention) replace the DECIMAL(30,12)
    # accumulators: same order-independence, whole-stage-codegen long
    # sums instead of interpreted BigDecimal (A/B 1.32 vs 2.11 s at
    # sf0.1). bigint->double then /1e10 mirrors the oracle's
    # CAST(BIGINT AS DOUBLE)/1e10 exactly (one rounding each). |terms|
    # <= ~1.3e12, so sums stay under 2^62 up to ~3.5e6 rows per table
    # at this scale; a 100 TB deployment rescales or shards per the
    # linalg._validate_moments int64 guard class.
    m = p.agg(
        F.count("*").alias("n"),
        F.sum(scaled_long(F.col("x"))).alias("sxl"),
        F.sum(scaled_long(F.col("y"))).alias("syl"),
        F.sum(scaled_long(F.col("x") * F.col("y"))).alias("sxyl"),
        F.sum(scaled_long(F.col("x") * F.col("x"))).alias("sxxl"),
        F.sum(scaled_long(F.col("y") * F.col("y"))).alias("syyl"),
    ).select(
        "n",
        unscale("sxl").alias("sx"),
        unscale("syl").alias("sy"),
        unscale("sxyl").alias("sxy"),
        unscale("sxxl").alias("sxx"),
        unscale("syyl").alias("syy"),
    )
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    varx = F.nullif(
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"), F.lit(0.0)
    )
    vary = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    slope = cov / varx
    return m.select(
        F.col("n").cast("bigint").alias("n_rows"),
        F.round(slope, 6).alias("elasticity"),
        F.round(
            F.col("sy") / F.col("n") - slope * F.col("sx") / F.col("n"), 6
        ).alias("intercept"),
        F.round(
            F.pow(cov, F.lit(2.0))
            / F.nullif(varx * vary, F.lit(0.0)),
            6,
        ).alias("r2"),
    )


@query(
    "customer_segment_target_encoding",
    f"""
    WITH cu AS (
        SELECT o_custkey AS ck,
               COUNT(*) AS n,
               {_decsum('o_totalprice')} AS s
        FROM orders GROUP BY o_custkey
    ),
    rows_ AS (
        SELECT c_mktsegment AS segment,
               CAST('0x' || SUBSTRING(MD5(CAST(c_custkey AS VARCHAR)), 1, 8)
                    AS BIGINT) % 5 AS fold,
               n, s
        FROM customer JOIN cu ON ck = c_custkey
    ),
    sf AS (
        SELECT segment, fold,
               CAST(SUM(n) AS BIGINT) AS n_f,
               CAST(SUM(CAST(s AS DECIMAL(30,10))) AS DOUBLE) AS s_f
        FROM rows_ GROUP BY segment, fold
    ),
    st AS (
        SELECT segment,
               CAST(SUM(n_f) AS BIGINT) AS n_tot,
               CAST(SUM(CAST(s_f AS DECIMAL(30,10))) AS DOUBLE) AS s_tot
        FROM sf GROUP BY segment
    ),
    g AS (
        SELECT CAST(SUM(CAST(s AS DECIMAL(30,10))) AS DOUBLE)
               / SUM(n) AS gmean
        FROM cu
    )
    SELECT sf.segment, sf.fold, sf.n_f AS n_rows,
           ROUND((st.s_tot - sf.s_f) / (st.n_tot - sf.n_f), 6) AS oof_mean,
           ROUND((st.s_tot - sf.s_f + 10.0 * g.gmean)
                 / (st.n_tot - sf.n_f + 10.0), 6) AS oof_mean_smoothed
    FROM sf JOIN st USING (segment) CROSS JOIN g
    ORDER BY segment, fold
    """,
)
def customer_segment_target_encoding(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Leakage-safe out-of-fold target encoding — THE categorical
    feature-engineering op of every tabular training pipeline: encode
    ``c_mktsegment`` by the mean order value computed from the OTHER
    folds only, so a row never sees its own target. Fold assignment is
    the house md5-bucket convention on the entity key (per-CUSTOMER
    folds — all of one customer's orders share a fold, the grouped
    K-fold that prevents entity leakage). The complement means come
    from sufficient statistics: orders pre-aggregate to per-customer
    (n, Σ) — the only fact-sized shuffle — join the customer dim
    co-keyed on custkey, then one tiny (segment × 5-fold) aggregate;
    fold f's encoding is (Σ_tot − Σ_f)/(n_tot − n_f), so there is no
    per-fold re-scan. The smoothed variant shrinks toward the global
    mean with m=10 pseudo-observations (the Micci-Barreca estimator).
    All sums ride the DECIMAL exact path; fold arithmetic is
    engine-portable md5."""
    from technical_test_data_engineer_spark.operators.text import md5_bucket

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    # persisted: cu feeds BOTH the segment rows and the global-mean
    # smoothing prior — one orders scan total (tests/PLAN_SHAPES.json)
    cu = orders.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.count("*").alias("n"),
        exact_sum("o_totalprice").alias("s"),
    ).persist()
    rows = customer.join(cu, customer.c_custkey == cu.ck).select(
        F.col("c_mktsegment").alias("segment"),
        md5_bucket(F.col("c_custkey").cast("string"), 5).alias("fold"),
        "n",
        "s",
    )
    sf = rows.groupBy("segment", "fold").agg(
        F.sum("n").cast("bigint").alias("n_f"),
        exact_sum("s", "s_f"),
    )
    st = sf.groupBy("segment").agg(
        F.sum("n_f").cast("bigint").alias("n_tot"),
        exact_sum("s_f", "s_tot"),
    )
    g = cu.agg(
        (exact_sum("s") / F.sum("n")).alias("gmean")
    )
    out = sf.join(st, "segment").crossJoin(F.broadcast(g))
    return out.select(
        "segment",
        "fold",
        F.col("n_f").alias("n_rows"),
        F.round(
            (F.col("s_tot") - F.col("s_f")) / (F.col("n_tot") - F.col("n_f")),
            6,
        ).alias("oof_mean"),
        F.round(
            (F.col("s_tot") - F.col("s_f") + F.lit(10.0) * F.col("gmean"))
            / (F.col("n_tot") - F.col("n_f") + F.lit(10.0)),
            6,
        ).alias("oof_mean_smoothed"),
    ).orderBy("segment", "fold")


@query(
    "customer_acctbal_woe_iv",
    """
    WITH lab AS (
        SELECT c_custkey, c_acctbal,
               CASE WHEN EXISTS (
                   SELECT 1 FROM orders
                   WHERE o_custkey = c_custkey
                     AND o_orderpriority = '1-URGENT'
               ) THEN 1 ELSE 0 END AS bad
        FROM customer
    ),
    binned AS (
        SELECT c_acctbal, bad,
               NTILE(10) OVER (ORDER BY c_acctbal, c_custkey) AS bin
        FROM lab
    ),
    per_bin AS (
        SELECT bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(bad) AS BIGINT) AS n_bad,
               CAST(COUNT(*) - SUM(bad) AS BIGINT) AS n_good,
               ROUND(MIN(c_acctbal), 2) AS bal_min,
               ROUND(MAX(c_acctbal), 2) AS bal_max
        FROM binned GROUP BY bin
    ),
    tot AS (
        SELECT SUM(n_bad) AS tb, SUM(n_good) AS tg FROM per_bin
    )
    SELECT CAST(bin AS INT) AS bin, n, n_bad, n_good, bal_min, bal_max,
           ROUND(LN(NULLIF(CAST(n_good AS DOUBLE) / tg, 0)
                    / NULLIF(CAST(n_bad AS DOUBLE) / tb, 0)), 6) AS woe,
           ROUND((CAST(n_good AS DOUBLE) / tg - CAST(n_bad AS DOUBLE) / tb)
                 * LN(NULLIF(CAST(n_good AS DOUBLE) / tg, 0)
                      / NULLIF(CAST(n_bad AS DOUBLE) / tb, 0)), 6) AS iv_term
    FROM per_bin CROSS JOIN tot
    ORDER BY bin
    """,
)
def customer_acctbal_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value feature audit — the
    credit-scoring-lineage binning diagnostic every tabular feature
    pipeline runs before model training: decile-bin the continuous
    feature (account balance), and per bin report WOE =
    ln(%good/%bad) and its IV contribution, which rank features by
    predictive power against the binary label (customer has placed an
    URGENT-priority order — computed as a semi/anti-join pair, not a
    per-row subquery). NTILE over a deterministic (value, key) order
    is identically defined on both engines (equal buckets, remainder
    to the first). Scale shape: the label join is one keyed semi join,
    the NTILE is the only full sort — the same cost as any global
    quantile binning — and everything after is a 10-row frame.
    Rounded to 6dp (ln ulp). Zero-count bins (possible only at tiny
    fixture scales) yield NULL WOE on BOTH engines: Spark's log(0) is
    NULL by definition, and the oracle mirrors it with NULLIF on both
    class shares — DuckDB's LN(0) would otherwise raise (r09 sf0.001
    sweep); inert at sf0.01+, where no decile bin is single-class."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    urgent = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    lab = customer.join(urgent.withColumn("bad", F.lit(1)), "c_custkey", "left").select(
        "c_custkey", "c_acctbal", F.coalesce("bad", F.lit(0)).alias("bad")
    )
    from pyspark.sql.window import Window

    binned = lab.select(
        "c_acctbal",
        "bad",
        F.ntile(10).over(Window.orderBy("c_acctbal", "c_custkey")).alias("bin"),
    )
    # persisted: the 10-row bin frame feeds the class totals and the
    # final WOE select — one customer/orders pass total (tests/PLAN_SHAPES.json)
    per_bin = binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("bad").cast("bigint").alias("n_bad"),
        (F.count("*") - F.sum("bad")).cast("bigint").alias("n_good"),
        F.round(F.min("c_acctbal"), 2).alias("bal_min"),
        F.round(F.max("c_acctbal"), 2).alias("bal_max"),
    ).persist()
    tot = per_bin.agg(
        F.sum("n_bad").alias("tb"), F.sum("n_good").alias("tg")
    )
    j = per_bin.crossJoin(F.broadcast(tot))
    pg = F.col("n_good").cast("double") / F.col("tg")
    pb = F.col("n_bad").cast("double") / F.col("tb")
    woe = F.log(pg / F.nullif(pb, F.lit(0.0)))
    return j.select(
        F.col("bin").cast("int").alias("bin"),
        "n",
        "n_bad",
        "n_good",
        "bal_min",
        "bal_max",
        F.round(woe, 6).alias("woe"),
        F.round((pg - pb) * woe, 6).alias("iv_term"),
    ).orderBy("bin")


_POIS_CDF = [
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238463, 0.9963401531726563, 0.9994058151824183,
    0.999916758850712, 0.9999897508033253, 0.999998874797402,
]
_N_BOOT = 50


def _pois_case_sql(u: str) -> str:
    """CASE ladder inverting the Poisson(1) CDF at literal constants —
    the SAME literals the Spark side uses, so both engines draw the
    identical integer weight from the identical md5 uniform."""
    branches = "".join(
        f" WHEN {u} < {c!r} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"CASE{branches} ELSE 9 END"


@query(
    "order_value_poisson_bootstrap",
    f"""
    WITH fanned AS (
        SELECT o_orderkey, o_totalprice, r.rep
        FROM orders
        CROSS JOIN (SELECT UNNEST(RANGE(0, {_N_BOOT})) AS rep) r
    ),
    drawn AS (
        SELECT rep, o_totalprice,
               {_pois_case_sql(
                   "(CAST('0x' || SUBSTRING(MD5(CAST(o_orderkey AS VARCHAR)"
                   " || ':' || CAST(rep AS VARCHAR)), 1, 8) AS BIGINT)"
                   " % 1000000) / 1000000.0"
               )} AS w
        FROM fanned
    )
    SELECT CAST(rep AS BIGINT) AS rep,
           CAST(SUM(w) AS BIGINT) AS n_draws,
           ROUND(CAST(SUM(CAST(w * o_totalprice AS DECIMAL(30,10)))
                      AS DOUBLE) / SUM(w), 6) AS boot_mean
    FROM drawn GROUP BY rep ORDER BY rep
    """,
)
def order_value_poisson_bootstrap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Poisson bootstrap (Chamandy et al., Google) of the mean order
    value — THE bootstrap that scales: classical resampling needs
    sampling-with-replacement coordination across the cluster, but
    drawing each row's multiplicity as an independent Poisson(1)
    weight per replicate makes every replicate a single weighted
    aggregation — one scan fans out {_N_BOOT} replicates scan-side
    (explode of a literal range) and one keyed agg yields all
    replicate means; the caller reads its CI off the replicate
    quantiles. Determinism: the uniform is the house md5 convention on
    (orderkey:rep) at 1e-6 granularity, inverted through a LITERAL
    Poisson CDF ladder shared verbatim with the oracle, so both
    engines draw identical weights. Weighted sums ride DECIMAL."""
    from technical_test_data_engineer_spark.operators.text import md5_bucket

    from technical_test_data_engineer_spark.operators.partitioning import (
        fan_out,
    )

    # fan_out: the local parquet is a single row-group; 50 replicates x
    # an md5 per row is expression-heavy per-row work that must not run
    # in one task (18 s -> ~2 s at sf0.1)
    orders = fan_out(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        ),
        32,
    )
    fanned = orders.select(
        "*",
        F.explode(F.sequence(F.lit(0), F.lit(_N_BOOT - 1))).alias("rep"),
    )
    u = (
        md5_bucket(
            F.concat(
                F.col("o_orderkey").cast("string"),
                F.lit(":"),
                F.col("rep").cast("string"),
            ),
            1000000,
        )
        / F.lit(1000000.0)
    )
    w = F.lit(9)
    for k in range(len(_POIS_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(_POIS_CDF[k]), F.lit(k)).otherwise(w)
    drawn = fanned.select("rep", "o_totalprice", w.alias("w"))
    return (
        drawn.groupBy(F.col("rep").cast("bigint").alias("rep"))
        .agg(
            F.sum("w").cast("bigint").alias("n_draws"),
            F.round(
                exact_sum(F.col("w") * F.col("o_totalprice"))
                / F.sum("w"),
                6,
            ).alias("boot_mean"),
        )
        .orderBy("rep")
    )


@query(
    "order_value_conformal",
    f"""
    WITH feat AS (
        SELECT o_orderkey, o_totalprice AS y,
               CAST(n_items AS DOUBLE) AS x,
               CAST('0x' || SUBSTRING(MD5(CAST(o_orderkey AS VARCHAR)), 1, 8)
                    AS BIGINT) % 100 AS bucket
        FROM orders JOIN (
            SELECT l_orderkey, COUNT(*) AS n_items
            FROM lineitem GROUP BY l_orderkey
        ) li ON l_orderkey = o_orderkey
    ),
    fit AS (
        SELECT COUNT(*) AS n,
               {_decsum('x')} AS sx, {_decsum('y')} AS sy,
               {_decsum('x * y')} AS sxy, {_decsum('x * x')} AS sxx
        FROM feat WHERE bucket < 80
    ),
    ab AS (
        SELECT n,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b,
               (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS a
        FROM fit
    ),
    cal AS (
        SELECT COUNT(*) AS n_cal,
               PERCENTILE_CONT(0.9) WITHIN GROUP (
                   ORDER BY ABS(y - (a + b * x))
               ) AS q90
        FROM feat CROSS JOIN ab
        WHERE bucket >= 80 AND bucket < 90
        GROUP BY a, b
    ),
    test AS (
        SELECT COUNT(*) AS n_test,
               CAST(SUM(CASE WHEN ABS(y - (a + b * x)) <= q90
                             THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(*) AS coverage
        FROM feat CROSS JOIN ab CROSS JOIN cal
        WHERE bucket >= 90
        GROUP BY q90
    )
    SELECT CAST(ab.n AS BIGINT) AS n_train,
           CAST(cal.n_cal AS BIGINT) AS n_cal,
           CAST(test.n_test AS BIGINT) AS n_test,
           ROUND(ab.a, 6) AS intercept,
           ROUND(ab.b, 6) AS slope,
           ROUND(cal.q90, 6) AS q90_residual,
           ROUND(test.coverage, 6) AS test_coverage
    FROM ab CROSS JOIN cal CROSS JOIN test
    """,
)
def order_value_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals (Vovk; Lei et al.) — the
    distribution-free uncertainty wrapper a training pipeline puts
    around ANY point model: fit on the train split, take the 90th
    percentile of absolute residuals on a held-out calibration split,
    and ship ŷ ± q̂ — finite-sample ~90% coverage with no Gaussian
    assumption, audited here on the test split. Model: OLS of order
    value on item count via the one-pass sufficient-statistics
    reduction (the elasticity convention); splits are the house
    md5-bucket convention (80/10/10) so membership is recomputable
    from the data alone. Scale shape: one fact-fact co-keyed join for
    the feature, then three scans reduce to scalars (moments,
    interpolated ``percentile`` ≡ PERCENTILE_CONT, coverage). r14: the
    (a, b) and q90 scalars attach as collected LITERALS (the bradley /
    channel_conversion_k8 bounded-collect discipline) instead of
    broadcast crossJoins — the lazy form re-executed the train-moments
    agg 6x and the interpreted percentile 2x (78-operator plan, zero
    exchange reuse; the r14 plan is in git history),
    because every broadcast consumer re-derived its 1-row input. The
    collected doubles are the SAME Spark-computed values (bit-exact;
    literal re-embedding), and each stage now runs exactly once; the
    rounds stay JVM-side. Rounded to 6dp at output only — comparisons
    run on unrounded doubles built from identical expression order on
    both engines."""
    from technical_test_data_engineer_spark.operators.text import md5_bucket

    orders = load_table(spark, sf_dir, "orders")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("n_items"))
    )
    # persisted: the 3-column feature frame feeds train / calibration /
    # test branches — one orders+lineitem join total (tests/PLAN_SHAPES.json)
    feat = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        F.col("o_totalprice").alias("y"),
        F.col("n_items").cast("double").alias("x"),
        md5_bucket(F.col("o_orderkey").cast("string"), 100).alias("bucket"),
    ).persist()
    train = feat.filter(F.col("bucket") < 80)
    fit = train.agg(
        F.count("*").alias("n"),
        exact_sum("x").alias("sx"),
        exact_sum("y").alias("sy"),
        exact_sum(F.col("x") * F.col("y")).alias("sxy"),
        exact_sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    b = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    ab = fit.select("n", b.alias("b"), ((F.col("sy") - b * F.col("sx")) / F.col("n")).alias("a"))
    # bounded collect #1 (1 row): a/b are Spark-computed doubles; the
    # literal re-embeds the exact bits the broadcast column carried
    fit_row = collect_bounded(ab, 1, "order_value_conformal fit").to_pylist()[0]
    a_l = F.lit(fit_row["a"]).cast("double")
    b_l = F.lit(fit_row["b"]).cast("double")
    resid = F.abs(F.col("y") - (a_l + b_l * F.col("x")))
    # bounded collect #2 (1 row): q90 from the interpreted percentile
    # aggregate, now executed exactly once
    cal = feat.filter((F.col("bucket") >= 80) & (F.col("bucket") < 90)).agg(
        F.count("*").alias("n_cal"),
        F.percentile(resid, F.lit(0.9)).alias("q90"),
    )
    cal_row = collect_bounded(cal, 1, "order_value_conformal q90").to_pylist()[0]
    q90_l = F.lit(cal_row["q90"]).cast("double")
    test = feat.filter(F.col("bucket") >= 90).agg(
        F.count("*").alias("n_test"),
        (
            F.sum(F.when(resid <= q90_l, 1).otherwise(0)).cast("double")
            / F.count("*")
        ).alias("coverage"),
    )
    test_row = collect_bounded(test, 1, "order_value_conformal test").to_pylist()[0]
    # 1-row assembly; rounds stay JVM-side (HALF_UP), same as before
    return spark.range(1).select(
        F.lit(fit_row["n"]).cast("bigint").alias("n_train"),
        F.lit(cal_row["n_cal"]).cast("bigint").alias("n_cal"),
        F.lit(test_row["n_test"]).cast("bigint").alias("n_test"),
        F.round(a_l, 6).alias("intercept"),
        F.round(b_l, 6).alias("slope"),
        F.round(q90_l, 6).alias("q90_residual"),
        F.round(F.lit(test_row["coverage"]).cast("double"), 6).alias(
            "test_coverage"
        ),
    )


@query(
    "elasticity_kfold_cv",
    """
    WITH p AS (
        SELECT LN(l_extendedprice / l_quantity) AS x,
               LN(l_quantity) AS y,
               CAST('0x' || SUBSTRING(MD5(CAST(l_orderkey AS VARCHAR)
                    || ':' || CAST(l_linenumber AS VARCHAR)), 1, 8)
                    AS BIGINT) % 5 AS fold
        FROM lineitem
        WHERE l_quantity > 0 AND l_extendedprice > 0
    ),
    ml AS (
        SELECT fold, COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(x * 1e10, 0) AS BIGINT)) AS BIGINT)
                   AS sxl,
               CAST(SUM(CAST(ROUND(y * 1e10, 0) AS BIGINT)) AS BIGINT)
                   AS syl,
               CAST(SUM(CAST(ROUND(x * y * 1e10, 0) AS BIGINT)) AS BIGINT)
                   AS sxyl,
               CAST(SUM(CAST(ROUND(x * x * 1e10, 0) AS BIGINT)) AS BIGINT)
                   AS sxxl,
               CAST(SUM(CAST(ROUND(y * y * 1e10, 0) AS BIGINT)) AS BIGINT)
                   AS syyl
        FROM p GROUP BY fold
    ),
    m AS (
        SELECT fold, n,
               CAST(sxl AS DOUBLE) / 1e10 AS sx,
               CAST(syl AS DOUBLE) / 1e10 AS sy,
               CAST(sxyl AS DOUBLE) / 1e10 AS sxy,
               CAST(sxxl AS DOUBLE) / 1e10 AS sxx,
               CAST(syyl AS DOUBLE) / 1e10 AS syy
        FROM ml
    ),
    t AS (
        SELECT SUM(n) AS n,
               SUM(sxl) AS sxl, SUM(syl) AS syl, SUM(sxyl) AS sxyl,
               SUM(sxxl) AS sxxl
        FROM ml
    ),
    tr AS (
        SELECT ml.fold, t.n - ml.n AS n,
               CAST(t.sxl - ml.sxl AS DOUBLE) / 1e10 AS sx,
               CAST(t.syl - ml.syl AS DOUBLE) / 1e10 AS sy,
               CAST(t.sxyl - ml.sxyl AS DOUBLE) / 1e10 AS sxy,
               CAST(t.sxxl - ml.sxxl AS DOUBLE) / 1e10 AS sxx
        FROM ml CROSS JOIN t
    ),
    ab AS (
        SELECT fold, b, (sy - b * sx) / n AS a
        FROM (
            SELECT fold, n, sx, sy,
                   (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0) AS b
            FROM tr
        )
    )
    SELECT CAST(m.fold AS INT) AS fold,
           CAST(m.n AS BIGINT) AS n_test,
           ROUND(ab.b, 6) AS slope,
           ROUND(ab.a, 6) AS intercept,
           ROUND((m.syy - 2 * ab.a * m.sy - 2 * ab.b * m.sxy
                  + ab.a * ab.a * m.n + 2 * ab.a * ab.b * m.sx
                  + ab.b * ab.b * m.sxx) / m.n, 6) AS test_mse
    FROM m JOIN ab ON m.fold = ab.fold
    ORDER BY fold
    """,
)
def elasticity_kfold_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validated OLS — model evaluation with ZERO re-scan:
    the out-of-fold discipline (customer_segment_target_encoding)
    applied to regression. One pass collects per-fold sufficient
    statistics (n, Σx, Σy, Σxy, Σx², Σy²); each fold's model fits on
    the COMPLEMENT moments (totals − fold, plain algebra on a 5-row
    frame) and its held-out MSE expands entirely in the fold's own
    moments: E[(y−a−bx)²] = (Σy² − 2aΣy − 2bΣxy + a²n + 2abΣx +
    b²Σx²)/n. At 100 TB, k-fold CV costs exactly one partial-
    aggregated scan — the reason sufficient-statistics form matters.
    Folds are the house md5-bucket convention on the row key; fold and
    total moments both ride DECIMAL so neither partition order nor
    fold-summation order can drift the hash."""
    from technical_test_data_engineer_spark.operators.text import md5_bucket

    from technical_test_data_engineer_spark.operators.partitioning import (
        fan_out,
    )

    # fan_out: per-row md5 fold keys over a single-row-group scan
    li = fan_out(
        load_table(spark, sf_dir, "lineitem").filter(
            (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
        ),
        32,
    )
    # r14: integer-scaled long folds (round(t*1e10) summed as BIGINT —
    # the price_quantity_elasticity r13 precedent, oracle mirrored in
    # lockstep) replace the DECIMAL(30,12) accumulators; complement
    # moments subtract EXACTLY in the integer domain before the one
    # double conversion. |terms| ≤ ~1.3e12 ⇒ sums < 2^60 through sf1.
    p = li.select(
        F.log(F.col("l_extendedprice") / F.col("l_quantity")).alias("x"),
        F.log("l_quantity").alias("y"),
        md5_bucket(
            F.concat(
                F.col("l_orderkey").cast("string"),
                F.lit(":"),
                F.col("l_linenumber").cast("string"),
            ),
            5,
        ).alias("fold"),
    )
    # persisted: the 5-row fold-moments frame feeds totals, complement
    # fits, and the MSE join — one lineitem scan total (tests/PLAN_SHAPES.json)
    ml = p.groupBy("fold").agg(
        F.count("*").alias("n"),
        F.sum(scaled_long(F.col("x"))).alias("sxl"),
        F.sum(scaled_long(F.col("y"))).alias("syl"),
        F.sum(scaled_long(F.col("x") * F.col("y"))).alias("sxyl"),
        F.sum(scaled_long(F.col("x") * F.col("x"))).alias("sxxl"),
        F.sum(scaled_long(F.col("y") * F.col("y"))).alias("syyl"),
    ).persist()
    m = ml.select(
        "fold",
        "n",
        unscale("sxl").alias("sx"),
        unscale("syl").alias("sy"),
        unscale("sxyl").alias("sxy"),
        unscale("sxxl").alias("sxx"),
        unscale("syyl").alias("syy"),
    )
    t = ml.agg(
        F.sum("n").alias("tn"),
        F.sum("sxl").alias("tsxl"),
        F.sum("syl").alias("tsyl"),
        F.sum("sxyl").alias("tsxyl"),
        F.sum("sxxl").alias("tsxxl"),
    )
    tr = ml.crossJoin(F.broadcast(t)).select(
        "fold",
        (F.col("tn") - F.col("n")).alias("trn"),
        unscale(F.col("tsxl") - F.col("sxl")).alias("trsx"),
        unscale(F.col("tsyl") - F.col("syl")).alias("trsy"),
        unscale(F.col("tsxyl") - F.col("sxyl")).alias("trsxy"),
        unscale(F.col("tsxxl") - F.col("sxxl")).alias("trsxx"),
    )
    b = (
        F.col("trn") * F.col("trsxy") - F.col("trsx") * F.col("trsy")
    ) / F.nullif(
        F.col("trn") * F.col("trsxx") - F.col("trsx") * F.col("trsx"),
        F.lit(0.0),
    )
    ab = tr.select("fold", b.alias("b")).join(
        tr.select("fold", "trn", "trsx", "trsy"), "fold"
    ).select(
        "fold",
        "b",
        ((F.col("trsy") - F.col("b") * F.col("trsx")) / F.col("trn")).alias(
            "a"
        ),
    )
    mse = (
        F.col("syy")
        - 2 * F.col("a") * F.col("sy")
        - 2 * F.col("b") * F.col("sxy")
        + F.col("a") * F.col("a") * F.col("n")
        + 2 * F.col("a") * F.col("b") * F.col("sx")
        + F.col("b") * F.col("b") * F.col("sxx")
    ) / F.col("n")
    return (
        m.join(ab, "fold")
        .select(
            F.col("fold").cast("int").alias("fold"),
            F.col("n").cast("bigint").alias("n_test"),
            F.round("b", 6).alias("slope"),
            F.round("a", 6).alias("intercept"),
            F.round(mse, 6).alias("test_mse"),
        )
        .orderBy("fold")
    )


@query(
    "star_schema_expectations",
    """
    WITH checks AS (
        SELECT 'orders_custkey_fk' AS check_name,
               (SELECT COUNT(*) FROM orders) AS n_rows,
               (SELECT COUNT(*) FROM orders
                WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
                   AS n_violations
        UNION ALL
        SELECT 'lineitem_orderkey_fk',
               (SELECT COUNT(*) FROM lineitem),
               (SELECT COUNT(*) FROM lineitem
                WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
        UNION ALL
        SELECT 'orders_orderkey_unique',
               (SELECT COUNT(*) FROM orders),
               (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders)
        UNION ALL
        SELECT 'lineitem_qty_range_1_50',
               (SELECT COUNT(*) FROM lineitem),
               (SELECT COUNT(*) FROM lineitem
                WHERE l_quantity < 1 OR l_quantity > 50)
        UNION ALL
        SELECT 'customer_acctbal_nonnull',
               (SELECT COUNT(*) FROM customer),
               (SELECT COUNT(*) FROM customer WHERE c_acctbal IS NULL)
        UNION ALL
        SELECT 'events_value_nonneg',
               (SELECT COUNT(*) FROM events),
               (SELECT COUNT(*) FROM events WHERE value < 0)
    )
    SELECT check_name, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_violations AS BIGINT) AS n_violations,
           n_violations = 0 AS passed
    FROM checks ORDER BY check_name
    """,
)
def star_schema_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract expectation suite (the Great-Expectations /
    dbt-test discipline as an engine op): referential integrity
    (orders→customer, lineitem→orders as LEFT joins + null-key counts —
    never a per-row subquery), key uniqueness, domain ranges, and null
    contracts, emitted as one audit table a pipeline gate can assert on
    before publish — the check layer the atomic-publish sink
    (sources/atomic.py) is designed to sit behind.

    ONE action (r12 fusion, the ``basket_rules_lift`` fix class): the
    suite used to run ~10 eager driver-side ``.count()`` actions — one
    job per expectation, each rescanning its table. Now every table
    contributes ONE lazy aggregate (count + its violation sums fused
    into a single partial-agg pass; the FK checks ride the same pass
    as a LEFT join whose unmatched rows count via a null-key sum), the
    six check rows are assembled with lazy selects + unions, and the
    whole audit executes as a single job. Values are identical — every
    quantity is an exact integer count. The dimension key side of each
    FK join broadcasts when small and stays hash-equi at any scale."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")

    # one pass over orders: row count, FK-orphan count (left join to
    # the customer key side; orphans have a null match key), dup keys
    ord_agg = (
        orders.select("o_custkey", "o_orderkey")
        .join(
            # distinct so the left join is multiplicity-safe like the
            # anti join it replaces (a dup dimension key must not
            # inflate the fact row count)
            customer.select(
                F.col("c_custkey").alias("o_custkey"),
                F.lit(1).alias("_cust_hit"),
            ).distinct(),
            "o_custkey",
            "left",
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(
                F.when(F.col("_cust_hit").isNull(), 1).otherwise(0)
            ).alias("fk_orders"),
            # countDistinct ignores NULL keys, so this form counts
            # every null-key row as a duplicate — deliberate here: a
            # NULL primary key is itself an integrity violation, and
            # o_orderkey is NOT NULL by schema (the oracle's COUNT
            # DISTINCT has identical null semantics, so the two
            # engines agree either way)
            (
                F.count("*") - F.countDistinct("o_orderkey")
            ).alias("dup_keys"),
        )
    )
    li_agg = (
        lineitem.select("l_orderkey", "l_quantity")
        .join(
            orders.select(
                F.col("o_orderkey").alias("l_orderkey"),
                F.lit(1).alias("_ord_hit"),
            ).distinct(),
            "l_orderkey",
            "left",
        )
        .agg(
            F.count("*").alias("n_li"),
            F.sum(
                F.when(F.col("_ord_hit").isNull(), 1).otherwise(0)
            ).alias("fk_li"),
            F.sum(
                F.when(
                    (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50),
                    1,
                ).otherwise(0)
            ).alias("qty_bad"),
        )
    )
    cust_agg = customer.agg(
        F.count("*").alias("n_cust"),
        F.sum(
            F.when(F.col("c_acctbal").isNull(), 1).otherwise(0)
        ).alias("bal_null"),
    )
    ev_agg = events.agg(
        F.count("*").alias("n_ev"),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0)).alias("val_neg"),
    )

    def row(agg: DataFrame, name: str, n_col: str, viol_col: str) -> DataFrame:
        return agg.select(
            F.lit(name).alias("check_name"),
            F.col(n_col).cast("long").alias("n_rows"),
            F.coalesce(F.col(viol_col).cast("long"), F.lit(0)).alias(
                "n_violations"
            ),
        )

    out = (
        row(ord_agg, "orders_custkey_fk", "n_orders", "fk_orders")
        .unionByName(row(li_agg, "lineitem_orderkey_fk", "n_li", "fk_li"))
        .unionByName(
            row(ord_agg, "orders_orderkey_unique", "n_orders", "dup_keys")
        )
        .unionByName(row(li_agg, "lineitem_qty_range_1_50", "n_li", "qty_bad"))
        .unionByName(
            row(cust_agg, "customer_acctbal_nonnull", "n_cust", "bal_null")
        )
        .unionByName(row(ev_agg, "events_value_nonneg", "n_ev", "val_neg"))
    )
    return out.select(
        "check_name",
        "n_rows",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    ).orderBy("check_name")


@query(
    "dataset_version_manifest",
    """
    WITH d AS (
        SELECT 'documents' AS table_name, COUNT(*) AS n_rows,
               BIT_XOR(CAST('0x' || SUBSTRING(MD5(
                   CAST(doc_id AS VARCHAR) || ':' || text), 1, 15)
                   AS BIGINT)) AS checksum64
        FROM documents
        UNION ALL
        SELECT 'embeddings', COUNT(*),
               BIT_XOR(CAST('0x' || SUBSTRING(MD5(
                   CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT))
        FROM embeddings
        UNION ALL
        SELECT 'orders', COUNT(*),
               BIT_XOR(CAST('0x' || SUBSTRING(MD5(
                   CAST(o_orderkey AS VARCHAR) || ':'
                   || CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS VARCHAR)
                   || ':' || CAST(CAST(o_orderdate AS DATE) AS VARCHAR)),
                   1, 15) AS BIGINT))
        FROM orders
    )
    SELECT table_name, CAST(n_rows AS BIGINT) AS n_rows, checksum64
    FROM d ORDER BY table_name
    """,
)
def dataset_version_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset version fingerprint — the reproducibility record a
    training run logs so "which exact data did this checkpoint see?"
    has an answer: per table, the row count plus an order-independent
    BIT_XOR of 60-bit md5 row hashes over the content that defines the
    version (documents: id+text; embeddings: key set; orders:
    key+price+date, with the double normalized through DECIMAL(15,2)
    so both engines hash the same string). Any row added, dropped, or
    edited flips the checksum; XOR's commutativity makes the reduce
    partition-order-free — the same integrity convention as
    doc_epoch_shards, promoted to whole-table scope. One
    partial-aggregated scan per table, no shuffle beyond the 1-row
    combine."""
    from technical_test_data_engineer_spark.operators.text import md5_hash64

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    orders = load_table(spark, sf_dir, "orders")

    def fp(df: DataFrame, name: str, key) -> DataFrame:
        return df.agg(
            F.lit(name).alias("table_name"),
            F.count("*").cast("bigint").alias("n_rows"),
            F.bit_xor(md5_hash64(key)).alias("checksum64"),
        )

    return (
        fp(
            docs,
            "documents",
            F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("text")),
        )
        .unionByName(fp(emb, "embeddings", F.col("vec_id").cast("string")))
        .unionByName(
            fp(
                orders,
                "orders",
                F.concat(
                    F.col("o_orderkey").cast("string"),
                    F.lit(":"),
                    F.col("o_totalprice").cast("decimal(15,2)").cast("string"),
                    F.lit(":"),
                    F.col("o_orderdate").cast("date").cast("string"),
                ),
            )
        )
        .orderBy("table_name")
    )


@query(
    "join_key_health",
    """
    WITH fan AS (
        SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS fanout
        FROM lineitem GROUP BY l_orderkey
    ),
    fstats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(MAX(fanout) AS BIGINT) AS max_fanout,
               CAST(SUM(fanout) AS DOUBLE) / COUNT(*) AS mean_fanout,
               PERCENTILE_CONT(0.99) WITHIN GROUP (ORDER BY fanout)
                   AS p99_fanout,
               CAST(MAX(fanout) AS DOUBLE) / SUM(fanout) AS top_key_share
        FROM fan
    ),
    orph_li AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS li_orphans
        FROM lineitem WHERE l_orderkey NOT IN
            (SELECT o_orderkey FROM orders)
    ),
    childless AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS childless_orders
        FROM orders WHERE o_orderkey NOT IN
            (SELECT l_orderkey FROM lineitem)
    )
    SELECT n_keys, max_fanout, ROUND(mean_fanout, 6) AS mean_fanout,
           ROUND(p99_fanout, 6) AS p99_fanout,
           ROUND(top_key_share, 6) AS top_key_share,
           li_orphans, childless_orders
    FROM fstats CROSS JOIN orph_li CROSS JOIN childless
    """,
)
def join_key_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key health card for the orders↔lineitem fact join — the
    profile a 100 TB shuffle plan is chosen FROM: fanout distribution
    (max / p99 / mean and the hottest key's share decide whether the
    join needs salting or AQE skew splitting), plus both orphan
    directions (anti joins — broken referential integrity silently
    drops or duplicates rows downstream). One keyed count per side and
    two anti joins; everything else is scalar algebra on the key
    histogram. The generalized, always-on version of the one-off skew
    report this family started with."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # persisted: the key histogram feeds the fanout stats AND both
    # orphan checks (orphaned lineitem mass = Σ fanout of keys absent
    # from orders) — one lineitem scan total (tests/PLAN_SHAPES.json)
    fan = li.groupBy("l_orderkey").agg(
        F.count("*").cast("bigint").alias("fanout")
    ).persist()
    fstats = fan.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.max("fanout").cast("bigint").alias("max_fanout"),
        (F.sum("fanout").cast("double") / F.count("*")).alias("mean_fanout"),
        F.percentile("fanout", F.lit(0.99)).alias("p99_fanout"),
        (F.max("fanout").cast("double") / F.sum("fanout")).alias(
            "top_key_share"
        ),
    )
    orph_li = fan.join(
        orders.select(F.col("o_orderkey").alias("l_orderkey")),
        "l_orderkey",
        "left_anti",
    ).agg(
        F.coalesce(F.sum("fanout"), F.lit(0)).cast("bigint").alias("li_orphans")
    )
    childless = orders.join(
        fan.select(F.col("l_orderkey").alias("o_orderkey")),
        "o_orderkey",
        "left_anti",
    ).agg(F.count("*").cast("bigint").alias("childless_orders"))
    return (
        fstats.crossJoin(F.broadcast(orph_li))
        .crossJoin(F.broadcast(childless))
        .select(
            "n_keys",
            "max_fanout",
            F.round("mean_fanout", 6).alias("mean_fanout"),
            F.round("p99_fanout", 6).alias("p99_fanout"),
            F.round("top_key_share", 6).alias("top_key_share"),
            "li_orphans",
            "childless_orders",
        )
    )


@query(
    "orders_littles_law",
    """
    WITH lines_ AS (
        SELECT CAST(o_orderdate AS DATE) AS od,
               CAST(l_shipdate AS DATE) AS sd,
               CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) + 1
                   AS days_in_system
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= o_orderdate
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(MAX(sd) - MIN(od) + 1 AS BIGINT) AS horizon_days,
               CAST(SUM(days_in_system) AS BIGINT) AS total_line_days
        FROM lines_
    )
    SELECT n_lines, horizon_days, total_line_days,
           ROUND(CAST(total_line_days AS DOUBLE) / horizon_days, 6)
               AS avg_in_flight,
           ROUND(CAST(n_lines AS DOUBLE) / horizon_days, 6)
               AS arrivals_per_day,
           ROUND(CAST(total_line_days AS DOUBLE) / n_lines, 6)
               AS avg_days_in_system,
           ROUND((CAST(total_line_days AS DOUBLE) / horizon_days)
                 / ((CAST(n_lines AS DOUBLE) / horizon_days)
                    * (CAST(total_line_days AS DOUBLE) / n_lines)), 6)
               AS littles_ratio
    FROM agg
    """,
)
def orders_littles_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's law readout over the order-to-ship pipeline — the
    queueing identity L = λ·W that every ops/capacity dashboard rests
    on: average in-flight line count, arrival rate, and mean days in
    system, computed WITHOUT the day-spine explode (Fubini: total
    line-days = Σ durations, so the flagship backlog's daily average
    collapses to three integer sufficient statistics from ONE co-keyed
    join scan). The ratio column verifies the identity at exactly 1 —
    the self-check that the backlog spine, the latency battery, and
    the arrival counts are mutually consistent. At 100 TB this is the
    plan you run when you need the AVERAGE, not the daily curve."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    lines_ = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            F.col("o_orderdate").cast("date").alias("od"),
            F.col("l_shipdate").cast("date").alias("sd"),
            (
                F.datediff(
                    F.col("l_shipdate").cast("date"),
                    F.col("o_orderdate").cast("date"),
                )
                + 1
            ).alias("days_in_system"),
        )
    )
    agg = lines_.agg(
        F.count("*").cast("bigint").alias("n_lines"),
        (F.datediff(F.max("sd"), F.min("od")) + 1)
        .cast("bigint")
        .alias("horizon_days"),
        F.sum("days_in_system").cast("bigint").alias("total_line_days"),
    )
    L = F.col("total_line_days").cast("double") / F.col("horizon_days")
    lam = F.col("n_lines").cast("double") / F.col("horizon_days")
    W = F.col("total_line_days").cast("double") / F.col("n_lines")
    return agg.select(
        "n_lines",
        "horizon_days",
        "total_line_days",
        F.round(L, 6).alias("avg_in_flight"),
        F.round(lam, 6).alias("arrivals_per_day"),
        F.round(W, 6).alias("avg_days_in_system"),
        F.round(L / (lam * W), 6).alias("littles_ratio"),
    )


@query(
    "supplier_pareto_abc",
    """
    WITH rev AS (
        SELECT l_suppkey,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                    AS DECIMAL(30,10))) AS DOUBLE) AS revenue
        FROM lineitem GROUP BY l_suppkey
    ),
    tot AS (
        SELECT CAST(SUM(CAST(revenue AS DECIMAL(30,10))) AS DOUBLE) AS t
        FROM rev
    ),
    ranked AS (
        SELECT l_suppkey, revenue,
               CAST(SUM(CAST(revenue AS DECIMAL(30,10))) OVER (
                   ORDER BY revenue DESC, l_suppkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS DOUBLE) / t AS cum_share
        FROM rev CROSS JOIN tot
    ),
    classed AS (
        SELECT CASE WHEN cum_share <= 0.8 THEN 'A'
                    WHEN cum_share <= 0.95 THEN 'B'
                    ELSE 'C' END AS abc_class,
               revenue
        FROM ranked
    )
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           ROUND(CAST(SUM(CAST(revenue AS DECIMAL(30,10))) AS DOUBLE), 6)
               AS class_revenue,
           ROUND(CAST(SUM(CAST(revenue AS DECIMAL(30,10))) AS DOUBLE)
                 / MAX(t), 6) AS revenue_share
    FROM classed CROSS JOIN tot
    GROUP BY abc_class ORDER BY abc_class
    """,
)
def supplier_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of suppliers by revenue — the
    inventory-management standard (A carries ~80% of value, B the next
    15%, C the long tail) and the concentration readout the Gini
    coefficient summarizes as one number, here as actionable classes.
    One keyed revenue aggregation, one descending cumulative-share
    window over the supplier-sized frame (DECIMAL accumulation,
    deterministic (revenue, key) order), then a 3-row class rollup."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey").agg(
        exact_sum(
            F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")), "revenue"
        )
    ).persist()
    tot = rev.agg(exact_sum(F.col("revenue"), "t"))
    w = (
        Window.orderBy(F.desc("revenue"), F.asc("l_suppkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = rev.crossJoin(F.broadcast(tot)).select(
        "revenue",
        "t",
        (F.sum(dec(F.col("revenue"))).over(w).cast("double") / F.col("t")).alias(
            "cum_share"
        ),
    )
    classed = ranked.select(
        F.when(F.col("cum_share") <= 0.8, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
        "revenue",
        "t",
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count("*").cast("bigint").alias("n_suppliers"),
            F.round(exact_sum(F.col("revenue")), 6).alias(
                "class_revenue"
            ),
            F.round(
                exact_sum(F.col("revenue")) / F.max("t"), 6
            ).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


_KM_SEEDS = [
    (-1.0, -1.0, -1.0),
    (0.0, 0.0, 0.0),
    (1.0, 1.0, 1.0),
    (2.0, 2.0, 2.0),
]


def _km_seed_sql() -> str:
    rows = " UNION ALL ".join(
        f"SELECT {i} AS k, {r} AS cr, {f} AS cf, {m} AS cm"
        for i, (r, f, m) in enumerate(_KM_SEEDS)
    )
    return f"({rows})"


@query(
    "customer_rfm_kmeans2",
    f"""
    WITH mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS mxd FROM orders),
    rfm AS (
        SELECT o_custkey AS ck,
               CAST(mxd - MAX(CAST(o_orderdate AS DATE)) AS DOUBLE) AS r,
               CAST(COUNT(*) AS DOUBLE) AS f,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE)
                   AS m
        FROM orders CROSS JOIN mx
        GROUP BY o_custkey, mxd
    ),
    mom AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(r AS DECIMAL(30,10))) AS DOUBLE) AS sr,
               CAST(SUM(CAST(r * r AS DECIMAL(38,8))) AS DOUBLE) AS srr,
               CAST(SUM(CAST(f AS DECIMAL(30,10))) AS DOUBLE) AS sf,
               CAST(SUM(CAST(f * f AS DECIMAL(38,8))) AS DOUBLE) AS sff,
               CAST(SUM(CAST(m AS DECIMAL(30,10))) AS DOUBLE) AS sm,
               CAST(SUM(CAST(m * m AS DECIMAL(38,8))) AS DOUBLE) AS smm
        FROM rfm
    ),
    z AS (
        SELECT ck,
               (r - sr / n) / SQRT(srr / n - (sr / n) * (sr / n)) AS zr,
               (f - sf / n) / SQRT(sff / n - (sf / n) * (sf / n)) AS zf,
               (m - sm / n) / SQRT(smm / n - (sm / n) * (sm / n)) AS zm
        FROM rfm CROSS JOIN mom
    ),
    c0 AS {_km_seed_sql()},
    a1 AS (
        SELECT ck, zr, zf, zm, k FROM (
            SELECT z.*, c0.k,
                   ROW_NUMBER() OVER (
                       PARTITION BY ck
                       ORDER BY (zr - cr) * (zr - cr)
                              + (zf - cf) * (zf - cf)
                              + (zm - cm) * (zm - cm), k
                   ) AS rn
            FROM z CROSS JOIN c0
        ) WHERE rn = 1
    ),
    c1 AS (
        SELECT k,
               CAST(SUM(CAST(zr AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*)
                   AS cr,
               CAST(SUM(CAST(zf AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*)
                   AS cf,
               CAST(SUM(CAST(zm AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*)
                   AS cm
        FROM a1 GROUP BY k
    ),
    a2 AS (
        SELECT ck, zr, zf, zm, k FROM (
            SELECT z.*, c1.k,
                   ROW_NUMBER() OVER (
                       PARTITION BY ck
                       ORDER BY (zr - cr) * (zr - cr)
                              + (zf - cf) * (zf - cf)
                              + (zm - cm) * (zm - cm), k
                   ) AS rn
            FROM z CROSS JOIN c1
        ) WHERE rn = 1
    )
    SELECT CAST(k AS INT) AS cluster,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(CAST(SUM(CAST(zr AS DECIMAL(30,12))) AS DOUBLE)
                 / COUNT(*), 6) AS centroid_r,
           ROUND(CAST(SUM(CAST(zf AS DECIMAL(30,12))) AS DOUBLE)
                 / COUNT(*), 6) AS centroid_f,
           ROUND(CAST(SUM(CAST(zm AS DECIMAL(30,12))) AS DOUBLE)
                 / COUNT(*), 6) AS centroid_m
    FROM a2 GROUP BY k ORDER BY cluster
    """,
)
def customer_rfm_kmeans2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (k=4, 2 Lloyd rounds, unrolled) over
    standardized RFM customer features — clustering itself made
    driver-checkable by the fixed-iteration convention: literal seed
    centroids, per-round argmin assignment (squared euclidean, k as
    tiebreak) and DECIMAL-mean centroid updates are identical algebra
    on both engines, so the driver value-checks assignment AND update
    — the machinery semantic-dedup's trainer runs behind a collect.
    Scale shape: each round is one scan of the customer-sized feature
    frame with the k centroids folded into a SCAN-SIDE argmin
    expression (least() over per-centroid d² columns + a first-match
    when() chain — r14: replaces the crossJoin+window argmin, which
    shuffled and sorted the z frame by customer once per round; the
    array_min-over-structs HOF form measured slower — HOFs evaluate
    outside whole-stage codegen) + one k-row agg; moments standardize via
    one pass. The feature and z frames persist; rounds never rescan
    orders."""
    orders = load_table(spark, sf_dir, "orders")
    # one orders scan: per-customer sufficient stats first (persisted);
    # the global max date is the max of per-customer last orders, so
    # recency derives from the aggregate, never a second fact scan
    rfm0 = orders.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_od"),
        F.count("*").cast("double").alias("f"),
        exact_sum(F.col("o_totalprice"), "m"),
    ).persist()
    mx = rfm0.agg(F.max("last_od").alias("mxd"))
    rfm = rfm0.crossJoin(F.broadcast(mx)).select(
        "ck",
        F.datediff(F.col("mxd"), F.col("last_od")).cast("double").alias("r"),
        "f",
        "m",
    )
    mom = rfm.agg(
        F.count("*").alias("n"),
        exact_sum(F.col("r"), "sr"),
        exact_sum(F.col("r") * F.col("r"), "srr", precision=38, scale=8),
        exact_sum(F.col("f"), "sf"),
        exact_sum(F.col("f") * F.col("f"), "sff", precision=38, scale=8),
        exact_sum(F.col("m"), "sm"),
        exact_sum(F.col("m") * F.col("m"), "smm", precision=38, scale=8),
    )

    def zcol(x: str, s: str, ss: str):
        mean = F.col(s) / F.col("n")
        return (F.col(x) - mean) / F.sqrt(F.col(ss) / F.col("n") - mean * mean)

    z = (
        rfm.crossJoin(F.broadcast(mom))
        .select(
            "ck",
            zcol("r", "sr", "srr").alias("zr"),
            zcol("f", "sf", "sff").alias("zf"),
            zcol("m", "sm", "smm").alias("zm"),
        )
        .persist()
    )
    # Assignment is a pure per-row argmin over k=4 centroids, so it runs
    # SCAN-SIDE: an array of (d2, k) structs reduced by array_min —
    # struct ordering is lexicographic (d2 first, k as tiebreak),
    # exactly the ROW_NUMBER() ORDER BY d2, k the oracle runs. The r13
    # form crossJoined 4 centroid rows onto every customer and ran a
    # ck-partitioned window — one full shuffle + sort of the z frame
    # PER ROUND for what is row-local arithmetic (guide §2.4). Entries
    # whose centroid is absent (empty cluster → no c1 row → NULL
    # coordinates) are filtered out before the min, matching the inner
    # CROSS JOIN semantics of the window form.
    def assign(frame: DataFrame, cent_cols: list[tuple]) -> DataFrame:
        def d2(cr, cf, cm):
            return (
                (F.col("zr") - cr) * (F.col("zr") - cr)
                + (F.col("zf") - cf) * (F.col("zf") - cf)
                + (F.col("zm") - cm) * (F.col("zm") - cm)
            )

        ds = [d2(cr, cf, cm) for _, cr, cf, cm in cent_cols]
        mn = F.least(*ds)  # skips NULL (absent-centroid) entries
        # first k whose distance equals the min — the lowest-k tiebreak
        # (a NULL d compares NULL == mn → false, so absent centroids
        # never match, mirroring the window form's inner cross join);
        # plain columns + least + when stay inside whole-stage codegen,
        # unlike an array_min over structs (HOFs evaluate interpreted)
        best = F.when(ds[0] == mn, F.lit(0))
        for k in range(1, len(ds)):
            best = best.when(ds[k] == mn, F.lit(k))
        return frame.select(
            "ck", "zr", "zf", "zm", best.cast("int").alias("k")
        )

    def update(assigned: DataFrame) -> DataFrame:
        return assigned.groupBy("k").agg(
            (exact_sum(F.col("zr"), precision=30, scale=12) / F.count("*")).alias("cr"),
            (exact_sum(F.col("zf"), precision=30, scale=12) / F.count("*")).alias("cf"),
            (exact_sum(F.col("zm"), precision=30, scale=12) / F.count("*")).alias("cm"),
        )

    a1 = assign(
        z,
        [
            (k, F.lit(r), F.lit(f), F.lit(m))
            for k, (r, f, m) in enumerate(_KM_SEEDS)
        ],
    )
    c1 = update(a1)
    # round-2 centroids arrive as ONE wide broadcast row (k-bounded
    # pivot), so the second assignment is again scan-side arithmetic
    c1w = c1.groupBy().agg(
        *[
            F.min(F.when(F.col("k") == k, F.col(c))).alias(f"_{c}{k}")
            for k in range(len(_KM_SEEDS))
            for c in ("cr", "cf", "cm")
        ]
    )
    a2 = assign(
        z.crossJoin(F.broadcast(c1w)),
        [
            (k, F.col(f"_cr{k}"), F.col(f"_cf{k}"), F.col(f"_cm{k}"))
            for k in range(len(_KM_SEEDS))
        ],
    )
    return (
        a2.groupBy("k")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.round(
                exact_sum(F.col("zr"), precision=30, scale=12) / F.count("*"), 6
            ).alias("centroid_r"),
            F.round(
                exact_sum(F.col("zf"), precision=30, scale=12) / F.count("*"), 6
            ).alias("centroid_f"),
            F.round(
                exact_sum(F.col("zm"), precision=30, scale=12) / F.count("*"), 6
            ).alias("centroid_m"),
        )
        .select(
            F.col("k").cast("int").alias("cluster"),
            "n_customers",
            "centroid_r",
            "centroid_f",
            "centroid_m",
        )
        .orderBy("cluster")
    )


@query(
    "monthly_latency_control_chart",
    """
    WITH lat AS (
        SELECT DATE_TRUNC('month', CAST(o_orderdate AS DATE)) AS mth,
               CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE)
                   AS lat_days
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= o_orderdate
    ),
    monthly AS (
        SELECT mth, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(lat_days) AS DOUBLE) / COUNT(*) AS mean_lat
        FROM lat GROUP BY mth
    ),
    lim AS (
        SELECT COUNT(*) AS nm,
               CAST(SUM(CAST(mean_lat AS DECIMAL(30,12))) AS DOUBLE) AS s,
               CAST(SUM(CAST(mean_lat * mean_lat AS DECIMAL(30,12)))
                    AS DOUBLE) AS ss
        FROM monthly
    ),
    cl AS (
        SELECT s / nm AS center,
               SQRT(ss / nm - (s / nm) * (s / nm)) AS sigma
        FROM lim
    )
    SELECT CAST(mth AS DATE) AS month, n,
           ROUND(mean_lat, 6) AS mean_latency_days,
           ROUND(center, 6) AS center_line,
           ROUND(center + 3.0 * sigma, 6) AS ucl,
           ROUND(center - 3.0 * sigma, 6) AS lcl,
           mean_lat > center + 3.0 * sigma
               OR mean_lat < center - 3.0 * sigma AS out_of_control
    FROM monthly CROSS JOIN cl
    ORDER BY month
    """,
)
def monthly_latency_control_chart(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Statistical process control (Shewhart x̄ chart) over monthly
    order→ship latency — the industrial-quality discipline applied to
    a data pipeline's SLA: months whose mean latency crosses the
    ±3σ control limits are special-cause signals (the chart is the
    classic PRE-alerting complement to the CUSUM curve, which
    accumulates small shifts the limits miss). One co-keyed fact join
    aggregated to the month spine (integer latency sums are exact);
    limits are two moments over the months; the flag is pure algebra.
    Rounded to 6dp."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    lat = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            F.date_trunc(
                "month", F.col("o_orderdate").cast("date")
            ).alias("mth"),
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.col("o_orderdate").cast("date"),
            ).alias("lat_days"),
        )
    )
    # persisted: the month spine feeds the limit moments and the chart
    monthly = lat.groupBy("mth").agg(
        F.count("*").cast("bigint").alias("n"),
        (F.sum("lat_days").cast("double") / F.count("*")).alias("mean_lat"),
    ).persist()
    lim = monthly.agg(
        F.count("*").alias("nm"),
        exact_sum(F.col("mean_lat"), "s", precision=30, scale=12),
        exact_sum(F.col("mean_lat") * F.col("mean_lat"), "ss", precision=30, scale=12),
    )
    cl = lim.select(
        (F.col("s") / F.col("nm")).alias("center"),
        F.sqrt(
            F.col("ss") / F.col("nm")
            - (F.col("s") / F.col("nm")) * (F.col("s") / F.col("nm"))
        ).alias("sigma"),
    )
    ucl = F.col("center") + 3.0 * F.col("sigma")
    lcl = F.col("center") - 3.0 * F.col("sigma")
    return (
        monthly.crossJoin(F.broadcast(cl))
        .select(
            F.col("mth").cast("date").alias("month"),
            "n",
            F.round("mean_lat", 6).alias("mean_latency_days"),
            F.round("center", 6).alias("center_line"),
            F.round(ucl, 6).alias("ucl"),
            F.round(lcl, 6).alias("lcl"),
            ((F.col("mean_lat") > ucl) | (F.col("mean_lat") < lcl)).alias(
                "out_of_control"
            ),
        )
        .orderBy("month")
    )


@query(
    "copurchase_negative_samples",
    f"""
    WITH {_PR_EDGE_CTE},
    nodes AS (SELECT DISTINCT u AS node FROM e),
    bkt AS (
        SELECT node,
               CAST('0x' || SUBSTRING(MD5(CAST(node AS VARCHAR)), 1, 8)
                    AS BIGINT)
               % (SELECT GREATEST(16, CAST(FLOOR(COUNT(*) / 64.0)
                                           AS BIGINT))
                  FROM nodes) AS b
        FROM nodes
    ),
    cand AS (
        SELECT a.node AS na, b.node AS nb
        FROM bkt a JOIN bkt b ON a.b = b.b AND a.node < b.node
    ),
    nonedge AS (
        SELECT na, nb FROM cand
        WHERE NOT EXISTS (
            SELECT 1 FROM pe WHERE pe.pa = cand.na AND pe.pb = cand.nb
        )
    ),
    ranked AS (
        SELECT na, nb,
               ROW_NUMBER() OVER (
                   PARTITION BY na
                   ORDER BY CAST('0x' || SUBSTRING(MD5(
                       CAST(na AS VARCHAR) || ':' || CAST(nb AS VARCHAR)),
                       1, 8) AS BIGINT), nb
               ) AS rn
        FROM nonedge
    )
    SELECT na AS node_a, nb AS node_b, CAST(rn AS INT) AS neg_rank
    FROM ranked WHERE rn <= 2
    ORDER BY node_a, neg_rank
    """,
)
def copurchase_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for link prediction — the
    training-data generator every graph-ML pipeline needs beside its
    positive edges: per node, 2 verified NON-edges drawn from its
    md5 hash bucket, ranked by pair hash. The bucket blocking is the
    scale design, and the bucket count is ADAPTIVE (r08, r07 verdict
    item 4): B = max(16, n_nodes // 64) from a cheap node count, so
    the expected bucket population — and the candidate pairs per node
    — stays ~constant as the graph grows (a fixed B is still O(n²)
    candidates; this is ``adaptive_n_planes`` applied to modulus
    blocking, via ``text.adaptive_buckets``). The anti join against
    real edges is hash-equi and the per-node rank window sees only
    bucket-sized groups. Fully deterministic (house md5 + count-derived
    B, which the oracle recomputes in a scalar subquery), so the sample
    is reproducible from the data alone — no RNG state to ship."""
    from technical_test_data_engineer_spark.operators.text import (
        adaptive_buckets,
        md5_bucket,
    )
    from pyspark.sql.window import Window

    edges = _copurchase_edges(spark, sf_dir).persist()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n_buckets = adaptive_buckets(nodes.count())
    bkt = nodes.select(
        "node", md5_bucket(F.col("node").cast("string"), n_buckets).alias("b")
    )
    a, b = bkt.alias("a"), bkt.alias("b")
    cand = a.join(
        b,
        (F.col("a.b") == F.col("b.b")) & (F.col("a.node") < F.col("b.node")),
    ).select(F.col("a.node").alias("na"), F.col("b.node").alias("nb"))
    nonedge = cand.join(
        edges.select(F.col("src").alias("na"), F.col("dst").alias("nb")),
        ["na", "nb"],
        "left_anti",
    )
    pair_hash = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("na").cast("string"),
                    F.lit(":"),
                    F.col("nb").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    w = Window.partitionBy("na").orderBy(pair_hash.asc(), F.col("nb").asc())
    return (
        nonedge.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select(
            F.col("na").alias("node_a"),
            F.col("nb").alias("node_b"),
            F.col("rn").cast("int").alias("neg_rank"),
        )
        .orderBy("node_a", "neg_rank")
    )


def _part_year_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The matched-basket grid both price indexes read: one row per
    (part, ship year) with that year's average ``unit_price`` and
    ``qty``, joined to the part's base-year (earliest year) ``p0`` and
    ``q0``. Parts absent from the base year drop out."""
    li = load_table(spark, sf_dir, "lineitem")
    # persisted: the (part, year) grid feeds the base-year slice and
    # the index join — one lineitem scan total (tests/PLAN_SHAPES.json).
    # Exact BIGINT cents/units folds: prices are exact 2-decimal values
    # and quantities integral, so unit_price and qty are the correctly
    # rounded doubles of exact rationals; the oracle mirrors the fold.
    cents = F.round(F.col("l_extendedprice") * F.lit(100), 0).cast("bigint")
    qint = F.round(F.col("l_quantity"), 0).cast("bigint")
    py = (
        li.groupBy(
            "l_partkey",
            F.year(F.col("l_shipdate").cast("date")).cast("int").alias("yr"),
        )
        .agg(
            (
                (F.sum(cents).cast("double") / F.lit(100.0))
                / F.sum(qint).cast("double")
            ).alias("unit_price"),
            F.sum(qint).cast("double").alias("qty"),
        )
        .persist()
    )
    min_yr = py.agg(F.min("yr").alias("myr"))
    base = (
        py.crossJoin(F.broadcast(min_yr))
        .filter(F.col("yr") == F.col("myr"))
        .select(
            "l_partkey",
            F.col("unit_price").alias("p0"),
            F.col("qty").alias("q0"),
        )
    )
    return py.join(base, "l_partkey")


@query(
    "yearly_price_index_laspeyres",
    """
    WITH py AS (
        SELECT l_partkey,
               CAST(YEAR(CAST(l_shipdate AS DATE)) AS INT) AS yr,
               (CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                     AS DOUBLE) / 100.0)
                   / CAST(SUM(CAST(ROUND(l_quantity, 0) AS BIGINT))
                          AS DOUBLE) AS unit_price,
               CAST(SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)) AS DOUBLE)
                   AS qty
        FROM lineitem
        GROUP BY l_partkey, YEAR(CAST(l_shipdate AS DATE))
    ),
    base AS (
        SELECT l_partkey, unit_price AS p0, qty AS q0
        FROM py WHERE yr = (SELECT MIN(yr) FROM py)
    ),
    joined AS (
        SELECT py.yr, py.l_partkey,
               py.unit_price * base.q0 AS cur_val,
               base.p0 * base.q0 AS base_val
        FROM py JOIN base USING (l_partkey)
    )
    SELECT yr AS year,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(CAST(SUM(CAST(cur_val AS DECIMAL(30,10))) AS DOUBLE)
                 / CAST(SUM(CAST(base_val AS DECIMAL(30,10))) AS DOUBLE)
                 * 100.0, 6) AS laspeyres_index
    FROM joined GROUP BY yr ORDER BY yr
    """,
)
def yearly_price_index_laspeyres(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Laspeyres price index by ship year — the index-number
    construction behind every CPI-style "are prices rising?" readout:
    value the BASE year's basket (q₀ per part) at each year's average
    unit price, over the base-year basket valued at base prices,
    ×100. Parts missing in a year drop from both numerator and
    denominator for that year (matched-basket convention, the
    practical handling the official indexes also apply). One fact
    aggregation to the (part, year) grid — the only corpus shuffle —
    then a part-keyed join against the base basket and a years-sized
    rollup. All sums DECIMAL; the unit-price ratio is one double
    division on exact sums."""
    joined = _part_year_basket(spark, sf_dir).select(
        "yr",
        (F.col("unit_price") * F.col("q0")).alias("cur_val"),
        (F.col("p0") * F.col("q0")).alias("base_val"),
    )
    return (
        joined.groupBy(F.col("yr").alias("year"))
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            F.round(
                exact_sum(F.col("cur_val"))
                / exact_sum(F.col("base_val"))
                * F.lit(100.0),
                6,
            ).alias("laspeyres_index"),
        )
        .orderBy("year")
    )


@query(
    "daily_arrivals_dispersion",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    m AS (
        SELECT COUNT(*) AS nd,
               CAST(SUM(n) AS DOUBLE) AS s,
               CAST(SUM(n * n) AS DOUBLE) AS ss
        FROM daily
    )
    SELECT CAST(nd AS BIGINT) AS n_days,
           ROUND(s / nd, 6) AS mean_arrivals,
           ROUND((ss - s * s / nd) / (nd - 1), 6) AS var_arrivals,
           ROUND(((ss - s * s / nd) / (nd - 1)) / (s / nd), 6)
               AS dispersion_index,
           ((ss - s * s / nd) / (nd - 1)) / (s / nd) > 1.5
               AS overdispersed
    FROM m
    """,
)
def daily_arrivals_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson dispersion check on daily event arrivals — the
    one-number model-validation gate before any capacity or anomaly
    model assumes Poisson traffic: variance-to-mean ratio of daily
    counts (≈1 under Poisson; >1.5 flags bursty/overdispersed arrivals
    that need a negative-binomial model instead). Integer count sums
    are exact; one scan to the day spine, then scalar algebra."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("bigint").alias("n")
    )
    m = daily.agg(
        F.count("*").alias("nd"),
        F.sum("n").cast("double").alias("s"),
        F.sum(F.col("n") * F.col("n")).cast("double").alias("ss"),
    )
    var_ = (F.col("ss") - F.col("s") * F.col("s") / F.col("nd")) / (
        F.col("nd") - 1
    )
    mean_ = F.col("s") / F.col("nd")
    return m.select(
        F.col("nd").cast("bigint").alias("n_days"),
        F.round(mean_, 6).alias("mean_arrivals"),
        F.round(var_, 6).alias("var_arrivals"),
        F.round(var_ / mean_, 6).alias("dispersion_index"),
        (var_ / mean_ > 1.5).alias("overdispersed"),
    )


@query(
    "orders_concurrency_sweepline",
    """
    WITH spans AS (
        SELECT CAST(o.o_orderdate AS DATE) AS od,
               CAST(l.l_shipdate AS DATE) AS sd
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate >= o.o_orderdate
    ),
    deltas AS (
        SELECT day, CAST(SUM(delta) AS BIGINT) AS delta
        FROM (
            SELECT od AS day, 1 AS delta FROM spans
            UNION ALL
            SELECT CAST(sd + INTERVAL 1 DAY AS DATE), -1 FROM spans
        )
        GROUP BY day
    ),
    stepped AS (
        SELECT day,
               CAST(SUM(delta) OVER (
                   ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS open_lines,
               LEAD(day) OVER (ORDER BY day) AS next_day
        FROM deltas
    ),
    weighted AS (
        SELECT day, open_lines,
               CAST(DATE_DIFF('day', day, next_day) AS BIGINT) AS span_days
        FROM stepped WHERE next_day IS NOT NULL
    )
    SELECT CAST(MAX(open_lines) AS BIGINT) AS peak_backlog,
           MIN(CASE WHEN open_lines = (SELECT MAX(open_lines) FROM weighted)
                    THEN day END) AS peak_day,
           CAST(SUM(span_days) AS BIGINT) AS horizon_days,
           CAST(SUM(open_lines * span_days) AS BIGINT) AS total_line_days,
           ROUND(CAST(SUM(open_lines * span_days) AS DOUBLE)
                 / SUM(span_days), 6) AS avg_in_flight
    FROM weighted
    """,
)
def orders_concurrency_sweepline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak order-pipeline concurrency via a SWEEP-LINE — the
    100 TB-correct twin of ``flagship_daily_backlog``'s day-spine
    explode: instead of materializing one row per (line x open-day)
    (O(n x duration), ~40x amplification on this data), emit two
    delta events per line (+1 at o_orderdate, -1 the day after
    l_shipdate), aggregate deltas per day (one keyed shuffle, O(2n)
    32-byte rows), and run ONE cumulative-sum window over the
    day-sized step frame. Step durations (LEAD) make the time-weighted
    average exact integer arithmetic — total_line_days here must equal
    ``orders_littles_law``'s Fubini sum, and avg_in_flight its L, so
    the two plans cross-verify. Peak day is the earliest day attaining
    the max (deterministic). The final reduce is over the ~2.4k-row
    step frame, not the corpus."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    spans = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            F.col("o_orderdate").cast("date").alias("od"),
            F.col("l_shipdate").cast("date").alias("sd"),
        )
    )
    # one fact scan: both delta events explode scan-side from each span
    # (a unionAll of two selects would scan the join twice)
    deltas = (
        spans.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("od").alias("day"), F.lit(1).alias("delta")
                    ),
                    F.struct(
                        F.date_add("sd", 1).alias("day"),
                        F.lit(-1).alias("delta"),
                    ),
                )
            ).alias("ev")
        )
        .select("ev.day", "ev.delta")
        .groupBy("day")
        .agg(F.sum("delta").cast("bigint").alias("delta"))
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    stepped = deltas.select(
        "day",
        F.sum("delta").over(w).cast("bigint").alias("open_lines"),
        F.lead("day").over(Window.orderBy("day")).alias("next_day"),
    )
    # persisted: the peak-scalar attach and the final reduce both
    # consume the day-step frame (tests/PLAN_SHAPES.json)
    weighted = stepped.filter(F.col("next_day").isNotNull()).select(
        "day",
        "open_lines",
        F.datediff("next_day", "day").cast("bigint").alias("span_days"),
    ).persist()
    peak = weighted.agg(F.max("open_lines").alias("_pk"))
    return (
        weighted.crossJoin(F.broadcast(peak))
        .agg(
            F.max("open_lines").cast("bigint").alias("peak_backlog"),
            F.min(
                F.when(F.col("open_lines") == F.col("_pk"), F.col("day"))
            ).alias("peak_day"),
            F.sum("span_days").cast("bigint").alias("horizon_days"),
            F.sum(F.col("open_lines") * F.col("span_days"))
            .cast("bigint")
            .alias("total_line_days"),
            F.round(
                F.sum(F.col("open_lines") * F.col("span_days")).cast("double")
                / F.sum("span_days"),
                6,
            ).alias("avg_in_flight"),
        )
    )


@query(
    "copurchase_sppmi",
    """
    WITH pc AS (
        SELECT pa, pb, CAST(COUNT(*) AS BIGINT) AS nij
        FROM (
            SELECT DISTINCT a.l_orderkey, a.l_partkey AS pa,
                   b.l_partkey AS pb
            FROM lineitem a
            JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        )
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    ),
    sym AS (
        SELECT pa AS u, pb AS v, nij FROM pc
        UNION ALL
        SELECT pb AS u, pa AS v, nij FROM pc
    ),
    rowsum AS (SELECT u, CAST(SUM(nij) AS BIGINT) AS ni FROM sym GROUP BY u),
    tot AS (SELECT CAST(SUM(nij) AS DOUBLE) AS nn FROM sym)
    SELECT pc.pa, pc.pb, pc.nij,
           ROUND(GREATEST(0.0,
               LN(pc.nij * tot.nn / (ra.ni * rb.ni)) - LN(5.0)), 6)
               AS sppmi
    FROM pc
    JOIN rowsum ra ON ra.u = pc.pa
    JOIN rowsum rb ON rb.u = pc.pb
    CROSS JOIN tot
    ORDER BY sppmi DESC, pc.pa, pc.pb
    LIMIT 50
    """,
)
def copurchase_sppmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shifted positive PMI (SPPMI, shift k=5) over the frequent
    co-purchase graph — the association matrix whose factorization IS
    word2vec/item2vec (Levy & Goldberg, NeurIPS'14): the
    embedding-prep operator that turns transaction logs into the
    sparse matrix an item-embedding trainer consumes. PMI =
    ln(n_ij*N / (n_i*n_j)) over the symmetric co-occurrence counts,
    shifted by ln(k) and clamped at 0 (negative-sampling equivalence).
    Rides the session-materialized edge relation (counts kept); row
    sums are one keyed agg over the edge frame, the total a 1-row
    broadcast attach. Top-50 ordered by ROUNDED score then keys, so
    rank and cutoff are float-drift-proof. At 100 TB the co-occurrence
    build (scan-side basket HOF, no fact-fact join) dominates; this
    layer adds vocabulary-sized joins only."""
    edges = _copurchase_edges(spark, sf_dir, keep_support=True)
    pc = edges.select(
        F.col("src").alias("pa"), F.col("dst").alias("pb"),
        F.col("n_orders").cast("bigint").alias("nij"),
    ).persist()
    sym = pc.select(F.col("pa").alias("u"), "nij").unionByName(
        pc.select(F.col("pb").alias("u"), "nij")
    )
    rowsum = sym.groupBy("u").agg(F.sum("nij").cast("bigint").alias("ni"))
    tot = sym.agg(F.sum("nij").cast("double").alias("nn"))
    ra = rowsum.select(F.col("u").alias("pa"), F.col("ni").alias("na"))
    rb = rowsum.select(F.col("u").alias("pb"), F.col("ni").alias("nb"))
    sppmi = F.greatest(
        F.lit(0.0),
        F.log(
            F.col("nij") * F.col("nn") / (F.col("na") * F.col("nb"))
        )
        - F.log(F.lit(5.0)),
    )
    return (
        pc.join(ra, "pa")
        .join(rb, "pb")
        .crossJoin(F.broadcast(tot))
        .select(
            "pa", "pb", "nij", F.round(sppmi, 6).alias("sppmi")
        )
        .orderBy(F.desc("sppmi"), "pa", "pb")
        .limit(50)
    )


_N_PERM = 64


@query(
    "ab_test_permutation",
    f"""
    WITH u AS (
        SELECT user_id,
               user_id % 2 = 0 AS t,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN CAST(value AS DECIMAL(30,10))
                             ELSE CAST(0 AS DECIMAL(30,10)) END)
                    AS DOUBLE) AS y
        FROM events GROUP BY user_id
    ),
    obs AS (
        SELECT ABS(CAST(SUM(CASE WHEN t THEN CAST(y AS DECIMAL(30,10))
                              ELSE CAST(0 AS DECIMAL(30,10)) END) AS DOUBLE)
                   / COUNT(*) FILTER (WHERE t)
                 - CAST(SUM(CASE WHEN NOT t THEN CAST(y AS DECIMAL(30,10))
                              ELSE CAST(0 AS DECIMAL(30,10)) END) AS DOUBLE)
                   / COUNT(*) FILTER (WHERE NOT t)) AS d
        FROM u
    ),
    fanned AS (
        SELECT r.rep, u.y,
               (CAST('0x' || SUBSTRING(MD5(CAST(u.user_id AS VARCHAR)
                    || ':' || CAST(r.rep AS VARCHAR)), 1, 8) AS BIGINT)
                % 2) = 0 AS pt
        FROM u CROSS JOIN (SELECT UNNEST(RANGE(0, {_N_PERM})) AS rep) r
    ),
    null_dist AS (
        SELECT rep,
               ABS(CAST(SUM(CASE WHEN pt THEN CAST(y AS DECIMAL(30,10))
                              ELSE CAST(0 AS DECIMAL(30,10)) END) AS DOUBLE)
                   / NULLIF(COUNT(*) FILTER (WHERE pt), 0)
                 - CAST(SUM(CASE WHEN NOT pt THEN CAST(y AS DECIMAL(30,10))
                              ELSE CAST(0 AS DECIMAL(30,10)) END) AS DOUBLE)
                   / NULLIF(COUNT(*) FILTER (WHERE NOT pt), 0)) AS d
        FROM fanned GROUP BY rep
    )
    SELECT CAST((SELECT COUNT(*) FROM u) AS BIGINT) AS n_users,
           CAST({_N_PERM} AS BIGINT) AS n_perms,
           ROUND(MAX(obs.d), 6) AS obs_abs_diff,
           CAST(SUM(CASE WHEN null_dist.d >= obs.d THEN 1 ELSE 0 END)
                AS BIGINT) AS n_as_extreme,
           ROUND((1.0 + SUM(CASE WHEN null_dist.d >= obs.d
                                 THEN 1 ELSE 0 END))
                 / (1.0 + {_N_PERM}), 6) AS p_value
    FROM null_dist CROSS JOIN obs
    """,
)
def ab_test_permutation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test of the A/B outcome difference — the
    assumption-free significance readout that closes the
    experimentation family (Welch t, CUPED, SPRT, IPW): the null
    distribution is the |mean difference| under B=64 deterministic
    pseudo-reassignments, each user's trial-b arm drawn from the house
    md5 convention on (user:b) — exactly the Poisson bootstrap's
    fan-out discipline, so both engines generate the identical null
    draws. p = (1 + #{|d_b| >= |d_obs|}) / (B+1), the add-one
    Phipson-Smyth estimator that never returns 0. Scale shape: one
    events scan -> user frame (persisted), scan-side replicate explode
    (fan_out against the single-row-group fixture), one keyed agg for
    all B null diffs, 1-row observed-diff broadcast attach."""
    from technical_test_data_engineer_spark.operators.partitioning import (
        fan_out,
    )
    from technical_test_data_engineer_spark.operators.text import md5_bucket

    events = load_table(spark, sf_dir, "events")
    u = (
        events.groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", dec(F.col("value"))
                ).otherwise(dec(F.lit(0)))
            )
            .cast("double")
            .alias("y")
        )
        .select("user_id", (F.col("user_id") % 2 == 0).alias("t"), "y")
        .persist()
    )
    mean_of = lambda flag: (  # noqa: E731
        F.sum(F.when(flag, dec(F.col("y"))).otherwise(dec(F.lit(0)))).cast(
            "double"
        )
        / F.nullif(F.sum(flag.cast("int")), F.lit(0))
    )
    obs = u.agg(
        F.abs(mean_of(F.col("t")) - mean_of(~F.col("t"))).alias("d"),
        F.count("*").cast("bigint").alias("n_users"),
    )
    fanned = fan_out(u, 32).select(
        "user_id",
        "y",
        F.explode(F.sequence(F.lit(0), F.lit(_N_PERM - 1))).alias("rep"),
    )
    pt = (
        md5_bucket(
            F.concat(
                F.col("user_id").cast("string"),
                F.lit(":"),
                F.col("rep").cast("string"),
            ),
            2,
        )
        == 0
    )
    null_dist = (
        fanned.select("rep", "y", pt.alias("pt"))
        .groupBy("rep")
        .agg(F.abs(mean_of(F.col("pt")) - mean_of(~F.col("pt"))).alias("d"))
    )
    extreme = F.sum(
        (F.col("d") >= F.col("obs_d")).cast("int")
    )
    return (
        null_dist.crossJoin(
            F.broadcast(
                obs.select(
                    F.col("d").alias("obs_d"), F.col("n_users")
                )
            )
        )
        .agg(
            F.max("n_users").cast("bigint").alias("n_users"),
            F.lit(_N_PERM).cast("bigint").alias("n_perms"),
            F.round(F.max("obs_d"), 6).alias("obs_abs_diff"),
            extreme.cast("bigint").alias("n_as_extreme"),
            F.round(
                (F.lit(1.0) + extreme) / F.lit(1.0 + _N_PERM), 6
            ).alias("p_value"),
        )
    )


@query(
    "orders_zonemap_report",
    """
    WITH zones AS (
        SELECT DATE_TRUNC('month', CAST(o_orderdate AS DATE)) AS zone,
               MIN(CAST(o_orderdate AS DATE)) AS dmin,
               MAX(CAST(o_orderdate AS DATE)) AS dmax,
               MIN(o_orderkey) AS kmin,
               MAX(o_orderkey) AS kmax,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM orders GROUP BY 1
    ),
    mk AS (SELECT MAX(kmax) AS maxk FROM zones)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_zones,
           CAST(SUM(n_rows) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN dmax < DATE '1996-06-01'
                           OR dmin > DATE '1996-08-31'
                     THEN 1 ELSE 0 END) AS BIGINT) AS date_pruned_zones,
           ROUND(CAST(SUM(CASE WHEN dmax < DATE '1996-06-01'
                                 OR dmin > DATE '1996-08-31'
                          THEN n_rows ELSE 0 END) AS DOUBLE)
                 / SUM(n_rows), 6) AS date_rows_skipped_frac,
           CAST(SUM(CASE WHEN kmax < CAST(FLOOR(0.4 * mk.maxk) AS BIGINT)
                           OR kmin > CAST(FLOOR(0.6 * mk.maxk) AS BIGINT)
                     THEN 1 ELSE 0 END) AS BIGINT) AS key_pruned_zones,
           ROUND(CAST(SUM(CASE WHEN kmax < CAST(FLOOR(0.4 * mk.maxk) AS BIGINT)
                                 OR kmin > CAST(FLOOR(0.6 * mk.maxk)
                                                AS BIGINT)
                          THEN n_rows ELSE 0 END) AS DOUBLE)
                 / SUM(n_rows), 6) AS key_rows_skipped_frac
    FROM zones CROSS JOIN mk
    """,
)
def orders_zonemap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max data-skipping) effectiveness audit for an
    order-month file layout — the storage-planner diagnostic behind
    every sort-key / Z-order decision (the read-side twin of
    ``sources.parquet_source``'s Z-order compaction): per zone, the
    min/max footer stats of two probe columns, then for each
    reference predicate the fraction of zones (and rows) a scanner
    skips on stats alone. The punchline is the CONTRAST: a 3-month
    o_orderdate window prunes ~96% of zones (the layout is sorted on
    that column), while the equally-selective orderkey band — sized
    as the relative [0.4, 0.6] slice of the key domain via a 1-row
    max-key broadcast attach, so the probe scales with the data —
    prunes ~0%: keys are uniform across months, and a zone map is
    only as good as the layout's correlation with the predicate. One
    scan, one month-keyed agg, one zone-frame reduce; at 100 TB the
    zone frame is file-count-sized and the report costs one
    footer-stat pass."""
    orders = load_table(spark, sf_dir, "orders")
    zones = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate").cast("date")).alias(
            "zone"
        )
    ).agg(
        F.min(F.col("o_orderdate").cast("date")).alias("dmin"),
        F.max(F.col("o_orderdate").cast("date")).alias("dmax"),
        F.min("o_orderkey").alias("kmin"),
        F.max("o_orderkey").alias("kmax"),
        F.count("*").cast("bigint").alias("n_rows"),
    ).persist()  # consumed by the max-key attach AND the final reduce
    mk = zones.agg(F.max("kmax").alias("maxk"))
    date_pruned = (
        (F.col("dmax") < F.lit("1996-06-01").cast("date"))
        | (F.col("dmin") > F.lit("1996-08-31").cast("date"))
    ).cast("int")
    klo = F.floor(0.4 * F.col("maxk")).cast("bigint")
    khi = F.floor(0.6 * F.col("maxk")).cast("bigint")
    key_pruned = F.sum(
        F.when(
            (F.col("kmax") < klo) | (F.col("kmin") > khi), 1
        ).otherwise(0)
    )
    key_rows = F.sum(
        F.when(
            (F.col("kmax") < klo) | (F.col("kmin") > khi),
            F.col("n_rows"),
        ).otherwise(0)
    )
    return zones.crossJoin(F.broadcast(mk)).agg(
        F.count("*").cast("bigint").alias("n_zones"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.sum(date_pruned).cast("bigint").alias("date_pruned_zones"),
        F.round(
            F.sum(date_pruned * F.col("n_rows")).cast("double")
            / F.sum("n_rows"),
            6,
        ).alias("date_rows_skipped_frac"),
        key_pruned.cast("bigint").alias("key_pruned_zones"),
        F.round(
            key_rows.cast("double") / F.sum("n_rows"), 6
        ).alias("key_rows_skipped_frac"),
    )


@query(
    "copurchase_adamic_adar",
    f"""
    WITH {_PR_EDGE_CTE},
    wedge AS (
        SELECT a.u AS mid, a.v AS x, b.v AS y
        FROM e a JOIN e b ON a.u = b.u AND a.v < b.v
    ),
    cand AS (
        SELECT w.x, w.y, w.mid
        FROM wedge w
        LEFT JOIN pe ON pe.pa = w.x AND pe.pb = w.y
        WHERE pe.pa IS NULL
    )
    SELECT cand.x AS node_u, cand.y AS node_w,
           CAST(COUNT(*) AS BIGINT) AS common_neighbors,
           ROUND(CAST(SUM(CAST(ROUND(1.0 / LN(deg.outdeg), 12)
                               AS DECIMAL(30,15))) AS DOUBLE), 6)
               AS aa_score
    FROM cand JOIN deg ON deg.u = cand.mid
    GROUP BY cand.x, cand.y
    ORDER BY aa_score DESC, node_u, node_w
    LIMIT 50
    """,
)
def copurchase_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the frequent co-purchase graph:
    for every NON-adjacent pair (u,w) sharing a neighbor, score
    sum_v 1/ln(deg(v)) over the common neighbors v — rare shared
    neighbors count more, the classic 'people you may know' /
    'products bought together next' ranker (Adamic & Adar 2003;
    Liben-Nowell & Kleinberg 2007). Rides the session-materialized
    edge relation; wedges come from ONE self-join of the symmetric
    edge list keyed on the middle node (the triangle query's shuffle
    shape, Theta(sum deg^2) rows), existing edges are removed with a
    left-anti join, and the degree weight attaches via a
    vocabulary-sized broadcast. Every middle node has degree >= 2 by
    construction (it is adjacent to both endpoints), so ln(deg) > 0.
    At 100 TB the wedge fan-out is the cost driver: production would
    cap hub middle nodes (the banded-dedup hot-bucket discipline) —
    bounded here, where max degree is vocabulary-scale. Exactness:
    each 1/ln term is rounded to 12 digits then DECIMAL-summed
    (order-free), final score rounded to 6; top-50 ordered by the
    ROUNDED score with key tiebreaks, so rank and cutoff are
    float-drift-proof."""
    und = _copurchase_edges(spark, sf_dir)
    # persisted: feeds the degree table AND both sides of the wedge
    # self-join
    sym = und.unionByName(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    deg = sym.groupBy("src").agg(F.count("*").alias("outdeg"))
    a = sym.select(F.col("src").alias("mid"), F.col("dst").alias("x"))
    b = sym.select(F.col("src").alias("mid"), F.col("dst").alias("y"))
    wedge = a.join(b, "mid").filter(F.col("x") < F.col("y"))
    cand = wedge.join(
        F.broadcast(und.select(F.col("src").alias("x"), F.col("dst").alias("y"))),
        ["x", "y"],
        "left_anti",
    )
    term = dec(F.round(F.lit(1.0) / F.log(F.col("outdeg")), 12), 30, 15)
    return (
        cand.join(
            F.broadcast(deg.withColumnRenamed("src", "mid")), "mid"
        )
        .groupBy(F.col("x").alias("node_u"), F.col("y").alias("node_w"))
        .agg(
            F.count("*").cast("bigint").alias("common_neighbors"),
            F.round(F.sum(term).cast("double"), 6).alias("aa_score"),
        )
        .orderBy(F.desc("aa_score"), "node_u", "node_w")
        .limit(50)
    )


@query(
    "segment_priority_mutual_info",
    """
    WITH cells AS (
        SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    m AS (
        SELECT segment, priority, n_orders,
               SUM(n_orders) OVER (PARTITION BY segment) AS ns,
               SUM(n_orders) OVER (PARTITION BY priority) AS np,
               SUM(n_orders) OVER () AS nn
        FROM cells
    ),
    terms AS (
        SELECT segment, priority, n_orders,
               CAST(n_orders AS DOUBLE) / nn AS p_joint,
               LN(CAST(n_orders AS DOUBLE) * nn / (ns * np)) AS pmi
        FROM m
    )
    SELECT segment, priority, n_orders,
           ROUND(p_joint, 6) AS p_joint,
           ROUND(pmi, 6) AS pmi,
           ROUND(CAST(SUM(CAST(ROUND(p_joint * pmi, 12)
                               AS DECIMAL(30,15))) OVER ()
                      AS DOUBLE), 6) AS mi_total
    FROM terms
    ORDER BY segment, priority
    """,
)
def segment_priority_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between customer segment and order priority —
    the model-free dependence measure feature-selection pipelines rank
    categorical features with (MI = sum p(x,y) ln(p(x,y)/(p(x)p(y))),
    zero iff independent): reports each cell's joint probability and
    pointwise MI plus the global MI, so a feature-audit dashboard sees
    both the headline number and which cells drive it. One fact-sized
    join+agg to the segment x priority contingency table; marginals and
    the MI reduction are window sums over the CELL frame (bounded by
    the category-domain product, 25 rows here), so the 100 TB cost is
    the contingency build alone — the textbook sufficient-statistics
    shape. Exactness: each p*ln term is rounded to 12 digits then
    DECIMAL-summed order-free; ln inputs are exact count ratios, so
    both engines evaluate identical rationals."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    cells = (
        orders.join(
            cust.select("c_custkey", "c_mktsegment"),
            orders.o_custkey == cust.c_custkey,
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count("*").cast("bigint").alias("n_orders"))
    )
    from pyspark.sql.window import Window

    ws = Window.partitionBy("segment")
    wp = Window.partitionBy("priority")
    wg = Window.partitionBy()
    m = cells.select(
        "segment",
        "priority",
        "n_orders",
        F.sum("n_orders").over(ws).alias("ns"),
        F.sum("n_orders").over(wp).alias("np"),
        F.sum("n_orders").over(wg).alias("nn"),
    )
    p_joint = F.col("n_orders").cast("double") / F.col("nn")
    pmi = F.log(
        F.col("n_orders").cast("double") * F.col("nn")
        / (F.col("ns") * F.col("np"))
    )
    terms = m.select(
        "segment",
        "priority",
        "n_orders",
        p_joint.alias("p_joint"),
        pmi.alias("pmi"),
    )
    return terms.select(
        "segment",
        "priority",
        "n_orders",
        F.round(F.col("p_joint"), 6).alias("p_joint"),
        F.round(F.col("pmi"), 6).alias("pmi"),
        F.round(
            F.sum(
                dec(F.round(F.col("p_joint") * F.col("pmi"), 12), 30, 15)
            )
            .over(wg)
            .cast("double"),
            6,
        ).alias("mi_total"),
    ).orderBy("segment", "priority")


@query(
    "lineitem_spearman_corr",
    """
    WITH v AS (
        SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem
    ),
    r AS (
        SELECT x, y,
               RANK() OVER (ORDER BY x)
                 + (COUNT(*) OVER (PARTITION BY x) - 1) / 2.0 AS rx,
               RANK() OVER (ORDER BY y)
                 + (COUNT(*) OVER (PARTITION BY y) - 1) / 2.0 AS ry
        FROM v
    ),
    m AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(x AS DECIMAL(30,10))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(y AS DECIMAL(30,10))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x * y AS DECIMAL(38,8))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(x * x AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(y * y AS DECIMAL(38,8))) AS DOUBLE) AS syy,
               CAST(SUM(CAST(rx AS DECIMAL(30,10))) AS DOUBLE) AS srx,
               CAST(SUM(CAST(ry AS DECIMAL(30,10))) AS DOUBLE) AS sry,
               CAST(SUM(CAST(rx * ry AS DECIMAL(38,8))) AS DOUBLE) AS srxy,
               CAST(SUM(CAST(rx * rx AS DECIMAL(38,8))) AS DOUBLE) AS srxx,
               CAST(SUM(CAST(ry * ry AS DECIMAL(38,8))) AS DOUBLE) AS sryy
        FROM r
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           ROUND((sxy - sx * sy / n)
                 / NULLIF(SQRT((sxx - sx * sx / n)
                               * (syy - sy * sy / n)), 0), 6) AS pearson,
           ROUND((srxy - srx * sry / n)
                 / NULLIF(SQRT((srxx - srx * srx / n)
                               * (sryy - sry * sry / n)), 0), 6) AS spearman
    FROM m
    """,
)
def lineitem_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and extended price,
    reported beside the plain Pearson — the monotone-association gauge
    a feature-audit pipeline prefers when the relationship is nonlinear
    or outlier-ridden (Spearman = Pearson computed on average ranks;
    robust to any monotone transform). Ties take the midrank
    (RANK() + (tie_count - 1)/2), the textbook tie correction, so the
    50-value quantity domain is handled exactly and every rank is an
    exact .0/.5 value — rank products are exact and the value hash
    cannot drift. Plan (r13 rewrite of the r08 histogram form): NO
    global sort of the fact, NO fact-sized join. The r08 form built a
    joint (x, y) value histogram assuming a bounded value grid, but
    the y side (extendedprice) is ~unique per row (583k distinct of
    600k at sf0.1), so the "histogram" was fact-sized and its
    marginal build + join back cost two extra fact-scale exchanges
    plus a persist (7.4 s solo). Now each axis uses the shape its
    cardinality wants: the x marginal (50 distinct quantities) is a
    tiny distinct-value midrank frame broadcast back to the fact —
    never a fact-partitioned window, so a hot quantity value cannot
    concentrate a task at scale; the y midranks compute directly on
    fact rows via the two-level range-bucket prefix (order-respecting
    FLOOR(y/1000) buckets: per-bucket partitioned rank/tie-count
    windows over value-range-bounded frames, bucket offsets from the
    tiny bucket frame), so no y-marginal frame and no join. Doubled
    midranks ``u = 2·rank_min + m − 1`` are exact integers
    (rank_min = bucket offset + RANK() within bucket; ties never span
    buckets because equal values share a bucket), so the rank moments
    run in DECIMAL(38,0) integer arithmetic (exact at any scale; /2
    and /4 are power-of-two double scalings, bit-identical to the
    oracle's per-row DECIMAL rank form). Pearson moments ride the
    SAME final aggregate with the same per-row decimal casts as
    before (the r08 per-cell x c form summed c identical exact terms
    — values unchanged). A/B same JVM: 2.21 vs 7.37 s at sf0.1,
    output identical. The oracle keeps the per-row rank form — DuckDB
    is single-node anyway."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("y")
    )

    # y: doubled midranks on the fact via range buckets (y is
    # ~unique, so any distinct-value frame is fact-sized anyway)
    d = li.withColumn("_bkt", F.floor(F.col("y") / 1000.0))
    wb = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    pre = (
        d.groupBy("_bkt")
        .agg(F.count("*").alias("bm"))
        .select(
            "_bkt",
            F.coalesce(F.sum("bm").over(wb), F.lit(0)).alias("_boff"),
        )
    )
    wr = Window.partitionBy("_bkt").orderBy("y")
    wm = Window.partitionBy("_bkt", "y")
    r = (
        d.join(F.broadcast(pre), "_bkt")
        .withColumn(
            "uy",
            2 * (F.col("_boff") + F.rank().over(wr))
            + F.count("*").over(wm)
            - 1,
        )
        .drop("_bkt", "_boff")
    )
    # x: 50-row distinct-value midrank frame, broadcast back — the
    # skew-proof shape for a low-cardinality axis
    xh = li.groupBy("x").agg(F.count("*").alias("m"))
    wxp = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    xu = xh.select(
        "x",
        (
            2 * F.coalesce(F.sum("m").over(wxp), F.lit(0))
            + F.col("m")
            + 1
        ).alias("ux"),
    )
    r = r.join(F.broadcast(xu), "x")

    m = r.agg(
        F.count("*").alias("n"),
        exact_sum(F.col("x"), "sx"),
        exact_sum(F.col("y"), "sy"),
        exact_sum(F.col("x") * F.col("y"), "sxy", precision=38, scale=8),
        exact_sum(F.col("x") * F.col("x"), "sxx", precision=38, scale=8),
        exact_sum(F.col("y") * F.col("y"), "syy", precision=38, scale=8),
        (exact_sum(F.col("ux"), precision=19, scale=0) / 2).alias("srx"),
        (exact_sum(F.col("uy"), precision=19, scale=0) / 2).alias("sry"),
        (
            F.sum(dec(F.col("ux"), 19, 0) * dec(F.col("uy"), 19, 0)).cast("double") / 4
        ).alias("srxy"),
        (
            F.sum(dec(F.col("ux"), 19, 0) * dec(F.col("ux"), 19, 0)).cast("double") / 4
        ).alias("srxx"),
        (
            F.sum(dec(F.col("uy"), 19, 0) * dec(F.col("uy"), 19, 0)).cast("double") / 4
        ).alias("sryy"),
    )

    def corr(sxy, sx, sy, sxx, syy):
        return (F.col(sxy) - F.col(sx) * F.col(sy) / F.col("n")) / F.nullif(
            F.sqrt(
                (F.col(sxx) - F.col(sx) * F.col(sx) / F.col("n"))
                * (F.col(syy) - F.col(sy) * F.col(sy) / F.col("n"))
            ),
            F.lit(0.0),
        )

    return m.select(
        F.col("n").cast("bigint").alias("n_rows"),
        F.round(corr("sxy", "sx", "sy", "sxx", "syy"), 6).alias("pearson"),
        F.round(corr("srxy", "srx", "sry", "srxx", "sryy"), 6).alias(
            "spearman"
        ),
    )


@query(
    "customer_theil_index",
    """
    WITH spend AS (
        SELECT o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10)))
                    AS DOUBLE) AS x
        FROM orders GROUP BY o_custkey
    ),
    tot AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(x AS DECIMAL(30,10))) AS DOUBLE) AS s
        FROM spend
    ),
    terms AS (
        SELECT t.n,
               ROUND((sp.x / t.s) * LN(sp.x * t.n / t.s), 12) AS tt,
               ROUND(LN(t.s / (t.n * sp.x)), 12) AS tl
        FROM spend sp CROSS JOIN tot t
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
           ROUND(CAST(SUM(CAST(tt AS DECIMAL(30,15))) AS DOUBLE), 6)
               AS theil_t,
           ROUND(CAST(SUM(CAST(tl AS DECIMAL(30,15))) AS DOUBLE)
                 / MAX(n), 6) AS theil_l
    FROM terms
    """,
)
def customer_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T and Theil L (mean log deviation) of customer revenue
    concentration — the decomposable inequality pair beside
    ``customer_revenue_gini``: unlike Gini, Theil splits exactly into
    within-group + between-group terms, so a curation dashboard can
    attribute corpus concentration to sources vs documents-within-
    source. T = (1/n)Σ(x/μ)ln(x/μ) rewritten sort-free as
    Σ(x/S)ln(xn/S); L = (1/n)Σln(μ/x). No global sort at all (the
    advantage over the Gini rank form): one keyed shuffle to
    per-customer spend, a 1-row total broadcast-attach, scan-side
    log terms rounded to 12 digits then DECIMAL-summed order-free —
    the same cost profile at any scale. o_totalprice > 0 by
    construction so every ln input is positive."""
    orders = load_table(spark, sf_dir, "orders")
    # persisted: feeds the 1-row total agg AND the term frame
    spend = orders.groupBy("o_custkey").agg(
        exact_sum(F.col("o_totalprice")).alias("x")
    ).persist()
    tot = spend.agg(
        F.count("*").alias("n"),
        exact_sum(F.col("x"), "s"),
    )
    j = spend.crossJoin(F.broadcast(tot))
    terms = j.select(
        "n",
        F.round(
            (F.col("x") / F.col("s"))
            * F.log(F.col("x") * F.col("n") / F.col("s")),
            12,
        ).alias("tt"),
        F.round(F.log(F.col("s") / (F.col("n") * F.col("x"))), 12).alias(
            "tl"
        ),
    )
    return terms.agg(
        F.max("n").cast("bigint").alias("n_customers"),
        F.round(
            exact_sum(F.col("tt"), precision=30, scale=15), 6
        ).alias("theil_t"),
        F.round(
            exact_sum(F.col("tl"), precision=30, scale=15)
            / F.max("n"),
            6,
        ).alias("theil_l"),
    )


@query(
    "order_value_decision_stump",
    """
    WITH b AS (
        SELECT CAST(FLOOR(o_totalprice / 10000) AS BIGINT) * 10000 AS bin,
               COUNT(*) AS n,
               COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                          THEN 1 END) AS npos
        FROM orders GROUP BY 1
    ),
    c AS (
        SELECT bin,
               SUM(n) OVER (ORDER BY bin) AS nl,
               SUM(npos) OVER (ORDER BY bin) AS pl,
               SUM(n) OVER () AS nn,
               SUM(npos) OVER () AS pp
        FROM b
    ),
    g AS (
        SELECT bin + 10000 AS split_at,
               nl, nn - nl AS nr, pl, pp - pl AS pr, nn, pp,
               1.0 - POW(CAST(pp AS DOUBLE) / nn, 2)
                   - POW(1.0 - CAST(pp AS DOUBLE) / nn, 2) AS gini_parent,
               (CAST(nl AS DOUBLE) / nn)
                   * (1.0 - POW(CAST(pl AS DOUBLE) / nl, 2)
                          - POW(1.0 - CAST(pl AS DOUBLE) / nl, 2))
               + (CAST(nn - nl AS DOUBLE) / nn)
                   * (1.0 - POW(CAST(pp - pl AS DOUBLE) / (nn - nl), 2)
                          - POW(1.0 - CAST(pp - pl AS DOUBLE) / (nn - nl),
                                2)) AS gini_split
        FROM c
        WHERE nl < nn
    )
    SELECT CAST(split_at AS BIGINT) AS split_at,
           CAST(nl AS BIGINT) AS n_left,
           CAST(nr AS BIGINT) AS n_right,
           ROUND(CAST(pl AS DOUBLE) / nl, 6) AS pos_rate_left,
           ROUND(CAST(pr AS DOUBLE) / nr, 6) AS pos_rate_right,
           ROUND(gini_parent, 6) AS gini_parent,
           ROUND(gini_split, 6) AS gini_split,
           ROUND(gini_parent - gini_split, 6) AS gain
    FROM g
    QUALIFY ROW_NUMBER() OVER (
        ORDER BY ROUND(gini_parent - gini_split, 9) DESC, split_at
    ) = 1
    """,
)
def order_value_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision stump on order value predicting urgent priority — the
    single-feature CART split (best threshold by weighted Gini
    impurity reduction) that feature-engineering pipelines use both as
    a baseline model and as a supervised discretizer (the WOE/IV
    binning query's impurity-driven cousin). Candidate thresholds are
    the 10k-wide value-bin boundaries, so every split's (n, n_pos)
    left/right composition comes from ONE cumulative window over the
    bounded bin frame — the changepoint query's
    sufficient-statistics discipline: one fact-sized agg, zero
    per-candidate re-scans at any data size. Argmax on the
    9-digit-rounded gain with threshold tiebreak (drift-proof rank);
    all rates are exact integer ratios so both engines score identical
    doubles."""
    orders = load_table(spark, sf_dir, "orders")
    b = orders.groupBy(
        (F.floor(F.col("o_totalprice") / 10000).cast("bigint") * 10000).alias(
            "bin"
        )
    ).agg(
        F.count("*").alias("n"),
        F.count(
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
            )
        ).alias("npos"),
    )
    wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wg = Window.partitionBy()
    c = b.select(
        "bin",
        F.sum("n").over(wc).alias("nl"),
        F.sum("npos").over(wc).alias("pl"),
        F.sum("n").over(wg).alias("nn"),
        F.sum("npos").over(wg).alias("pp"),
    ).filter(F.col("nl") < F.col("nn"))

    def gini(p, n):
        r = p.cast("double") / n
        return F.lit(1.0) - F.pow(r, 2) - F.pow(F.lit(1.0) - r, 2)

    nr = F.col("nn") - F.col("nl")
    pr = F.col("pp") - F.col("pl")
    g = c.select(
        (F.col("bin") + 10000).cast("bigint").alias("split_at"),
        "nl",
        nr.alias("nr"),
        "pl",
        pr.alias("pr"),
        gini(F.col("pp"), F.col("nn")).alias("gini_parent"),
        (
            (F.col("nl").cast("double") / F.col("nn"))
            * gini(F.col("pl"), F.col("nl"))
            + (nr.cast("double") / F.col("nn")) * gini(pr, nr)
        ).alias("gini_split"),
    )
    gain = F.col("gini_parent") - F.col("gini_split")
    from technical_test_data_engineer_spark.operators.windows import (
        top1_per_group,
    )

    best = top1_per_group(
        g.withColumn("gain9", F.round(gain, 9)),
        [],
        [F.desc("gain9"), F.asc("split_at")],
    )
    return best.select(
        "split_at",
        F.col("nl").cast("bigint").alias("n_left"),
        F.col("nr").cast("bigint").alias("n_right"),
        F.round(F.col("pl").cast("double") / F.col("nl"), 6).alias(
            "pos_rate_left"
        ),
        F.round(F.col("pr").cast("double") / F.col("nr"), 6).alias(
            "pos_rate_right"
        ),
        F.round("gini_parent", 6).alias("gini_parent"),
        F.round("gini_split", 6).alias("gini_split"),
        F.round(gain, 6).alias("gain"),
    )


@query(
    "customer_mahalanobis_outliers",
    """
    WITH feat AS (
        SELECT c.c_custkey, c.c_acctbal AS x1,
               CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(30,10))),
                             0) AS DOUBLE) AS x2
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_acctbal
    ),
    m AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(x1 AS DECIMAL(30,10))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(x2 AS DECIMAL(30,10))) AS DOUBLE) AS s2,
               CAST(SUM(CAST(x1 * x1 AS DECIMAL(38,8))) AS DOUBLE) AS s11,
               CAST(SUM(CAST(x2 * x2 AS DECIMAL(38,8))) AS DOUBLE) AS s22,
               CAST(SUM(CAST(x1 * x2 AS DECIMAL(38,8))) AS DOUBLE) AS s12
        FROM feat
    ),
    cov AS (
        SELECT n, s1 / n AS m1, s2 / n AS m2,
               s11 / n - (s1 / n) * (s1 / n) AS v11,
               s22 / n - (s2 / n) * (s2 / n) AS v22,
               s12 / n - (s1 / n) * (s2 / n) AS v12
        FROM m
    ),
    d AS (
        SELECT f.c_custkey, f.x1, f.x2,
               ((f.x1 - c.m1) * (f.x1 - c.m1) * c.v22
                - 2 * (f.x1 - c.m1) * (f.x2 - c.m2) * c.v12
                + (f.x2 - c.m2) * (f.x2 - c.m2) * c.v11)
               / NULLIF(c.v11 * c.v22 - c.v12 * c.v12, 0) AS d2
        FROM feat f CROSS JOIN cov c
    )
    SELECT c_custkey, ROUND(x1, 2) AS acctbal, ROUND(x2, 2) AS spend,
           ROUND(d2, 6) AS mahalanobis_d2
    FROM d
    ORDER BY ROUND(d2, 9) DESC, c_custkey
    LIMIT 20
    """,
)
def customer_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate outlier screen: squared Mahalanobis distance of
    each customer in (account balance, lifetime spend) space — the
    covariance-aware anomaly score that catches points univariate
    z-scores miss (a customer whose balance AND spend are individually
    unremarkable but jointly inconsistent). The 2×2 covariance inverts
    in closed form (d² = [(dx)²v22 − 2·dx·dy·v12 + (dy)²v11]/det), so
    the whole statistic is: one left-join agg to the feature frame,
    one 1-row DECIMAL moment reduce, a broadcast attach, scan-side
    algebra, top-20 by 9-digit-rounded distance with key tiebreak
    (drift-proof rank). No sort until the TakeOrdered top-k; at 100 TB
    the cost is the feature build. NULLIF guards a singular covariance
    (degenerate fixtures)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    feat = (
        cust.select("c_custkey", "c_acctbal")
        .join(
            orders.select("o_custkey", "o_totalprice"),
            cust.c_custkey == orders.o_custkey,
            "left",
        )
        .groupBy("c_custkey", "c_acctbal")
        .agg(
            F.coalesce(
                F.sum(dec(F.col("o_totalprice"))),
                dec(F.lit(0)),
            )
            .cast("double")
            .alias("x2")
        )
        .withColumnRenamed("c_acctbal", "x1")
        .persist()  # feeds the 1-row moment reduce AND the distance pass
    )
    m = feat.agg(
        F.count("*").alias("n"),
        exact_sum(F.col("x1"), "s1"),
        exact_sum(F.col("x2"), "s2"),
        exact_sum(F.col("x1") * F.col("x1"), "s11", precision=38, scale=8),
        exact_sum(F.col("x2") * F.col("x2"), "s22", precision=38, scale=8),
        exact_sum(F.col("x1") * F.col("x2"), "s12", precision=38, scale=8),
    )
    cov = m.select(
        (F.col("s1") / F.col("n")).alias("m1"),
        (F.col("s2") / F.col("n")).alias("m2"),
        (
            F.col("s11") / F.col("n")
            - (F.col("s1") / F.col("n")) * (F.col("s1") / F.col("n"))
        ).alias("v11"),
        (
            F.col("s22") / F.col("n")
            - (F.col("s2") / F.col("n")) * (F.col("s2") / F.col("n"))
        ).alias("v22"),
        (
            F.col("s12") / F.col("n")
            - (F.col("s1") / F.col("n")) * (F.col("s2") / F.col("n"))
        ).alias("v12"),
    )
    j = feat.crossJoin(F.broadcast(cov))
    dx = F.col("x1") - F.col("m1")
    dy = F.col("x2") - F.col("m2")
    det = F.col("v11") * F.col("v22") - F.col("v12") * F.col("v12")
    d2 = (
        dx * dx * F.col("v22") - 2 * dx * dy * F.col("v12") + dy * dy * F.col("v11")
    ) / F.nullif(det, F.lit(0.0))
    return (
        j.select(
            "c_custkey",
            F.round("x1", 2).alias("acctbal"),
            F.round("x2", 2).alias("spend"),
            d2.alias("d2"),
        )
        .orderBy(F.round(F.col("d2"), 9).desc(), F.asc("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "acctbal",
            "spend",
            F.round("d2", 6).alias("mahalanobis_d2"),
        )
    )


@query(
    "nation_supplier_hhi",
    """
    WITH rev AS (
        SELECT s.s_nationkey, l.l_suppkey,
               CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(30,10))) AS DOUBLE) AS r
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY s.s_nationkey, l.l_suppkey
    ),
    sh AS (
        SELECT s_nationkey,
               COUNT(*) AS n_suppliers,
               CAST(SUM(CAST(r AS DECIMAL(30,10))) AS DOUBLE) AS total,
               CAST(SUM(CAST(ROUND(POW(r, 2), 4) AS DECIMAL(38,4)))
                    AS DOUBLE) AS sumsq
        FROM rev GROUP BY s_nationkey
    )
    SELECT n.n_name AS nation,
           CAST(sh.n_suppliers AS BIGINT) AS n_suppliers,
           ROUND(sh.total, 2) AS total_revenue,
           ROUND(sh.sumsq / (sh.total * sh.total), 6) AS hhi,
           ROUND((sh.sumsq / (sh.total * sh.total) - 1.0 / sh.n_suppliers)
                 / NULLIF(1.0 - 1.0 / sh.n_suppliers, 0), 6)
               AS hhi_normalized
    FROM sh JOIN nation n ON sh.s_nationkey = n.n_nationkey
    ORDER BY nation
    """,
)
def nation_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index of supplier revenue
    within each nation — the antitrust-style market-concentration
    gauge (Σ share², 1/n = perfectly even, 1 = monopoly) a sourcing or
    corpus-mixing dashboard reads to see whether one supplier (or one
    data source) dominates a market. HHI is computed as Σr²/(Σr)² so
    it needs NO per-share division: one fact-sized join+agg to
    (nation, supplier) revenue, then a nations-sized agg where r² is
    rounded to 4 decimals and DECIMAL-summed order-free (revenues are
    ~1e7 so r² ~1e14 — DECIMAL(38,4) holds the sum exactly); the
    normalized variant rescales by the 1/n floor. Broadcast nation
    dimension for the name. Cost at any scale: the (nation, supplier)
    agg."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(
            F.broadcast(sup.select("s_suppkey", "s_nationkey")),
            li.l_suppkey == sup.s_suppkey,
        )
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "r")
        )
    )
    sh = rev.groupBy("s_nationkey").agg(
        F.count("*").alias("n_suppliers"),
        exact_sum(F.col("r"), "total"),
        exact_sum(F.round(F.pow(F.col("r"), 2), 4), "sumsq", precision=38, scale=4),
    )
    hhi = F.col("sumsq") / (F.col("total") * F.col("total"))
    return (
        sh.join(
            F.broadcast(nat.select("n_nationkey", "n_name")),
            sh.s_nationkey == nat.n_nationkey,
        )
        .select(
            F.col("n_name").alias("nation"),
            F.col("n_suppliers").cast("bigint").alias("n_suppliers"),
            F.round("total", 2).alias("total_revenue"),
            F.round(hhi, 6).alias("hhi"),
            F.round(
                (hhi - 1.0 / F.col("n_suppliers"))
                / F.nullif(
                    F.lit(1.0) - 1.0 / F.col("n_suppliers"), F.lit(0.0)
                ),
                6,
            ).alias("hhi_normalized"),
        )
        .orderBy("nation")
    )


@query(
    "nation_jackknife_mean",
    """
    WITH grp AS (
        SELECT n.n_name AS nation,
               COUNT(*) AS n_g,
               SUM(CAST(o.o_totalprice AS DECIMAL(30,10))) AS s_g
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    ),
    t AS (
        SELECT nation, n_g, s_g,
               SUM(n_g) OVER () AS nn,
               SUM(s_g) OVER () AS ss,
               COUNT(*) OVER () AS gg
        FROM grp
    ),
    pv AS (
        SELECT nation, n_g, gg,
               CAST(ss AS DOUBLE) / nn AS mean_full,
               CAST(ss - s_g AS DOUBLE) / (nn - n_g) AS loo_mean,
               gg * (CAST(ss AS DOUBLE) / nn)
                 - (gg - 1) * (CAST(ss - s_g AS DOUBLE) / (nn - n_g))
                 AS pseudo
        FROM t
    ),
    se AS (
        SELECT *,
               CAST(SUM(CAST(ROUND(pseudo, 9) AS DECIMAL(30,12)))
                    OVER () AS DOUBLE) / gg AS pbar
        FROM pv
    )
    SELECT nation,
           CAST(n_g AS BIGINT) AS n_orders,
           ROUND(loo_mean, 6) AS loo_mean,
           ROUND(pseudo, 6) AS pseudovalue,
           ROUND(SQRT(CAST(SUM(CAST(ROUND(POW(pseudo - pbar, 2), 6)
                                    AS DECIMAL(30,12))) OVER ()
                           AS DOUBLE) / (gg * (gg - 1))), 6) AS jk_se
    FROM se
    ORDER BY nation
    """,
)
def nation_jackknife_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-GROUP jackknife for the global mean order value with
    customer nations as the resampling blocks (Tukey 1958; the grouped
    variant survey statisticians use when observations cluster): each
    nation's leave-it-out mean and pseudo-value G·θ̂ − (G−1)·θ̂₋g, and
    the jackknife standard error from the pseudo-value spread — the
    uncertainty readout that respects cluster correlation where the
    naive iid SE understates it. The whole procedure is closed-form on
    per-group sufficient statistics: one join+agg to the 25-row
    (nation, n, Σ) frame, then window algebra — G leave-one-out
    re-estimates WITHOUT G re-scans, at any scale. Pseudo-values are
    rounded then DECIMAL-summed for the SE (order-free); all ratios
    are exact-sum quotients."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    grp = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders.o_custkey == cust.c_custkey,
        )
        .join(
            F.broadcast(nat.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_g"),
            F.sum(dec(F.col("o_totalprice"))).alias(
                "s_g"
            ),
        )
    )
    wg = Window.partitionBy()
    t = grp.select(
        "nation",
        "n_g",
        "s_g",
        F.sum("n_g").over(wg).alias("nn"),
        F.sum("s_g").over(wg).alias("ss"),
        F.count("*").over(wg).alias("gg"),
    )
    mean_full = F.col("ss").cast("double") / F.col("nn")
    loo = (F.col("ss") - F.col("s_g")).cast("double") / (
        F.col("nn") - F.col("n_g")
    )
    pv = t.select(
        "nation",
        "n_g",
        "gg",
        loo.alias("loo_mean"),
        (F.col("gg") * mean_full - (F.col("gg") - 1) * loo).alias("pseudo"),
    )
    se = pv.select(
        "*",
        (
            F.sum(dec(F.round(F.col("pseudo"), 9), 30, 12))
            .over(wg)
            .cast("double")
            / F.col("gg")
        ).alias("pbar"),
    )
    return se.select(
        "nation",
        F.col("n_g").cast("bigint").alias("n_orders"),
        F.round("loo_mean", 6).alias("loo_mean"),
        F.round("pseudo", 6).alias("pseudovalue"),
        F.round(
            F.sqrt(
                F.sum(
                    dec(
                        F.round(F.pow(F.col("pseudo") - F.col("pbar"), 2), 6),
                        30,
                        12,
                    )
                )
                .over(wg)
                .cast("double")
                / (F.col("gg") * (F.col("gg") - 1))
            ),
            6,
        ).alias("jk_se"),
    ).orderBy("nation")


@query(
    "part_pps_systematic",
    """
    WITH rev AS (
        SELECT l_partkey,
               SUM(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(30,10))) AS r
        FROM lineitem GROUP BY l_partkey
    ),
    c AS (
        SELECT l_partkey, r,
               CAST(SUM(r) OVER (ORDER BY l_partkey) AS DOUBLE)
                   / CAST(SUM(r) OVER () AS DOUBLE) AS cum,
               CAST(SUM(r) OVER (ORDER BY l_partkey) - r AS DOUBLE)
                   / CAST(SUM(r) OVER () AS DOUBLE) AS cum_prev
        FROM rev
    ),
    s AS (
        SELECT l_partkey,
               CAST(r AS DOUBLE) AS revenue,
               cum - cum_prev AS share,
               CAST(FLOOR(cum * 25) - FLOOR(cum_prev * 25) AS BIGINT)
                   AS n_inclusions
        FROM c
    )
    SELECT l_partkey, ROUND(revenue, 2) AS revenue,
           ROUND(share, 6) AS share, n_inclusions
    FROM s WHERE n_inclusions >= 1
    ORDER BY l_partkey
    """,
)
def part_pps_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic probability-proportional-to-size sampling of parts by
    revenue — the πps design audit samplers use when big units MUST be
    seen (a part holding > 1/K of total revenue is selected with
    certainty, possibly multiple times): lay the units on a [0,1)
    cumulative-share line in fixed frame order (partkey), drop K = 25
    equally spaced probes, and a unit is included once per probe its
    interval covers — floor(cum·K) − floor(cum_prev·K), the
    closed-form systematic rule that needs NO random start to be a
    valid πps skeleton (the deterministic variant; production would
    md5-derive the start offset the house way). Completes the sampling
    family (hash/stratified/weighted/Neyman/Poisson) with the
    inclusion-probability-∝-size design. One fact-sized keyed agg,
    one DECIMAL prefix window over the parts frame; shares are exact
    decimal ratios surfaced once as doubles, so both engines floor the
    identical values."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        ).alias("r")
    )
    wo = Window.orderBy("l_partkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wg = Window.partitionBy()
    c = rev.select(
        "l_partkey",
        "r",
        (
            F.sum("r").over(wo).cast("double")
            / F.sum("r").over(wg).cast("double")
        ).alias("cum"),
        (
            (F.sum("r").over(wo) - F.col("r")).cast("double")
            / F.sum("r").over(wg).cast("double")
        ).alias("cum_prev"),
    )
    s = c.select(
        "l_partkey",
        F.col("r").cast("double").alias("revenue"),
        (F.col("cum") - F.col("cum_prev")).alias("share"),
        (
            F.floor(F.col("cum") * 25) - F.floor(F.col("cum_prev") * 25)
        )
        .cast("bigint")
        .alias("n_inclusions"),
    )
    return (
        s.filter(F.col("n_inclusions") >= 1)
        .select(
            "l_partkey",
            F.round("revenue", 2).alias("revenue"),
            F.round("share", 6).alias("share"),
            "n_inclusions",
        )
        .orderBy("l_partkey")
    )


@query(
    "copurchase_assortativity",
    """
    WITH ranked AS (
        SELECT l_orderkey, l_partkey,
               ROW_NUMBER() OVER (
                   PARTITION BY l_orderkey ORDER BY l_partkey
               ) AS rn
        FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    ),
    pairs AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst
        FROM ranked a JOIN ranked b
          ON a.l_orderkey = b.l_orderkey AND a.rn < b.rn
    ),
    und AS (
        SELECT src, dst FROM pairs
        GROUP BY src, dst HAVING COUNT(*) >= 2
    ),
    sym AS (
        SELECT src, dst FROM und
        UNION ALL
        SELECT dst AS src, src AS dst FROM und
    ),
    deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM sym GROUP BY src
    ),
    ed AS (
        SELECT du.d AS dx, dv.d AS dy
        FROM sym e
        JOIN deg du ON e.src = du.node
        JOIN deg dv ON e.dst = dv.node
    ),
    m AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(dx AS DECIMAL(30,10))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(dy AS DECIMAL(30,10))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(dx * dy AS DECIMAL(38,8))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(dx * dx AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(dy * dy AS DECIMAL(38,8))) AS DOUBLE) AS syy
        FROM ed
    )
    SELECT CAST(n / 2 AS BIGINT) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           ROUND((sxy - sx * sy / n)
                 / NULLIF(SQRT((sxx - sx * sx / n)
                               * (syy - sy * sy / n)), 0), 6)
               AS assortativity
    FROM m
    """,
)
def copurchase_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the frequent co-purchase graph — the
    Pearson correlation of endpoint degrees over all directed edge
    stubs (Newman 2002): positive means hubs link to hubs (assortative
    mixing, social-network-like), negative means hubs bridge the
    periphery (disassortative, retail/biological-like) — the one-
    number topology gauge that tells the recommender whether
    hub-capping (the banded-dedup discipline) will bite. Rides the
    session-materialized edge relation; degrees are one vocab-sized
    agg broadcast onto the symmetric edge list (two hash-equi joins);
    the correlation is a 1-row DECIMAL moment reduce. Degrees are
    integers so every product is exact."""
    und = _copurchase_edges(spark, sf_dir)
    # persisted: feeds the degree agg AND both endpoint joins
    sym = und.unionByName(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    du = F.broadcast(deg.select(F.col("node").alias("_u"), F.col("d").alias("dx")))
    dv = F.broadcast(deg.select(F.col("node").alias("_v"), F.col("d").alias("dy")))
    ed = (
        sym.join(du, sym.src == F.col("_u"))
        .join(dv, sym.dst == F.col("_v"))
        .select("dx", "dy")
    )
    m = ed.agg(
        F.count("*").alias("n"),
        exact_sum(F.col("dx"), "sx"),
        exact_sum(F.col("dy"), "sy"),
        exact_sum(F.col("dx") * F.col("dy"), "sxy", precision=38, scale=8),
        exact_sum(F.col("dx") * F.col("dx"), "sxx", precision=38, scale=8),
        exact_sum(F.col("dy") * F.col("dy"), "syy", precision=38, scale=8),
    )
    n_nodes = deg.agg(F.count("*").cast("bigint").alias("c"))
    r = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / F.nullif(
        F.sqrt(
            (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
            * (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n"))
        ),
        F.lit(0.0),
    )
    return m.crossJoin(F.broadcast(n_nodes)).select(
        (F.col("n") / 2).cast("bigint").alias("n_edges"),
        F.col("c").alias("n_nodes"),
        F.round(r, 6).alias("assortativity"),
    )


@query(
    "yearly_price_index_fisher",
    """
    WITH py AS (
        SELECT l_partkey,
               CAST(YEAR(CAST(l_shipdate AS DATE)) AS INT) AS yr,
               (CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                     AS DOUBLE) / 100.0)
                   / CAST(SUM(CAST(ROUND(l_quantity, 0) AS BIGINT))
                          AS DOUBLE) AS unit_price,
               CAST(SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)) AS DOUBLE)
                   AS qty
        FROM lineitem
        GROUP BY l_partkey, YEAR(CAST(l_shipdate AS DATE))
    ),
    base AS (
        SELECT l_partkey, unit_price AS p0, qty AS q0
        FROM py WHERE yr = (SELECT MIN(yr) FROM py)
    ),
    joined AS (
        SELECT py.yr,
               py.unit_price * base.q0 AS l_num,
               base.p0 * base.q0 AS l_den,
               py.unit_price * py.qty AS p_num,
               base.p0 * py.qty AS p_den
        FROM py JOIN base USING (l_partkey)
    ),
    ix AS (
        SELECT yr AS year,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(CAST(l_num AS DECIMAL(30,10))) AS DOUBLE)
                   / CAST(SUM(CAST(l_den AS DECIMAL(30,10))) AS DOUBLE)
                   * 100.0 AS laspeyres,
               CAST(SUM(CAST(p_num AS DECIMAL(30,10))) AS DOUBLE)
                   / CAST(SUM(CAST(p_den AS DECIMAL(30,10))) AS DOUBLE)
                   * 100.0 AS paasche
        FROM joined GROUP BY yr
    )
    SELECT year, n_parts,
           ROUND(laspeyres, 6) AS laspeyres,
           ROUND(paasche, 6) AS paasche,
           ROUND(SQRT(laspeyres * paasche), 6) AS fisher
    FROM ix ORDER BY year
    """,
)
def yearly_price_index_fisher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher ideal price index — the geometric mean of Laspeyres
    (base-basket) and Paasche (current-basket) that cancels their
    opposite substitution biases (Fisher 1922; the construction
    official chained indexes converge to): extends
    ``yearly_price_index_laspeyres`` with the Paasche leg
    Σp_t q_t / Σp_0 q_t on the SAME matched-basket (part, year) grid,
    so the two legs and their geometric mean come from one extra pair
    of DECIMAL-summed columns — no new scan, no new join. Cost profile
    identical to the Laspeyres query: one fact agg, one part-keyed
    join against the base basket, a years-sized rollup."""
    joined = _part_year_basket(spark, sf_dir).select(
        "yr",
        (F.col("unit_price") * F.col("q0")).alias("l_num"),
        (F.col("p0") * F.col("q0")).alias("l_den"),
        (F.col("unit_price") * F.col("qty")).alias("p_num"),
        (F.col("p0") * F.col("qty")).alias("p_den"),
    )
    ix = joined.groupBy(F.col("yr").alias("year")).agg(
        F.count("*").cast("bigint").alias("n_parts"),
        (
            exact_sum(F.col("l_num"))
            / exact_sum(F.col("l_den"))
            * F.lit(100.0)
        ).alias("laspeyres"),
        (
            exact_sum(F.col("p_num"))
            / exact_sum(F.col("p_den"))
            * F.lit(100.0)
        ).alias("paasche"),
    )
    return ix.select(
        "year",
        "n_parts",
        F.round("laspeyres", 6).alias("laspeyres"),
        F.round("paasche", 6).alias("paasche"),
        F.round(F.sqrt(F.col("laspeyres") * F.col("paasche")), 6).alias(
            "fisher"
        ),
    ).orderBy("year")


@query(
    "customer_lorenz_curve",
    """
    WITH spend AS (
        SELECT o_custkey,
               SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS x
        FROM orders GROUP BY o_custkey
    ),
    r AS (
        SELECT x,
               ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS i,
               COUNT(*) OVER () AS n,
               SUM(x) OVER (ORDER BY x, o_custkey) AS cum,
               SUM(x) OVER () AS tot
        FROM spend
    ),
    d AS (
        SELECT CAST(FLOOR((i - 1) * 10 / n) + 1 AS INTEGER) AS decile,
               i, n, cum, tot
        FROM r
    ),
    top AS (
        SELECT decile,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               MAX(i) AS max_i, MAX(n) AS n, MAX(tot) AS tot,
               MAX(cum) AS cum_at_end
        FROM d GROUP BY decile
    )
    SELECT decile, n_customers,
           ROUND(CAST(max_i AS DOUBLE) / n, 6) AS pop_share,
           ROUND(CAST(cum_at_end AS DOUBLE) / CAST(tot AS DOUBLE), 6)
               AS cum_revenue_share
    FROM top
    ORDER BY decile
    """,
)
def customer_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer revenue — the 10-point concentration
    curve behind ``customer_revenue_gini``'s scalar: customers sorted
    ascending by spend, cumulative revenue share at each population
    decile boundary ('the bottom 50% of customers hold X% of
    revenue'). Ranks use the (spend, custkey) total order, decile
    assignment is pure integer arithmetic floor((i−1)·10/n), and
    cumulative sums stay DECIMAL until the final share division — the
    whole curve is drift-proof. Same plan as the Gini: one keyed
    shuffle to per-customer spend, one global sort-rank (the exact
    oracle-checkable form; at 100 TB the curve reads off an equi-depth
    histogram instead), one 10-row rollup."""
    from pyspark.sql.window import Window as W

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(dec(F.col("o_totalprice"))).alias("x")
    )
    wo = W.orderBy(F.asc("x"), F.asc("o_custkey"))
    wor = wo.rowsBetween(W.unboundedPreceding, 0)
    wg = W.partitionBy()
    r = spend.select(
        "x",
        F.row_number().over(wo).alias("i"),
        F.count("*").over(wg).alias("n"),
        F.sum("x").over(wor).alias("cum"),
        F.sum("x").over(wg).alias("tot"),
    )
    d = r.select(
        (F.floor((F.col("i") - 1) * 10 / F.col("n")) + 1)
        .cast("int")
        .alias("decile"),
        "i",
        "n",
        "cum",
        "tot",
    )
    top = d.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.max("i").alias("max_i"),
        F.max("n").alias("n"),
        F.max("tot").alias("tot"),
        F.max("cum").alias("cum_at_end"),
    )
    return top.select(
        "decile",
        "n_customers",
        F.round(F.col("max_i").cast("double") / F.col("n"), 6).alias(
            "pop_share"
        ),
        F.round(
            F.col("cum_at_end").cast("double") / F.col("tot").cast("double"),
            6,
        ).alias("cum_revenue_share"),
    ).orderBy("decile")


@query(
    "segment_growth_contribution",
    """
    WITH seg AS (
        SELECT c.c_mktsegment AS segment,
               SUM(CASE WHEN YEAR(CAST(o.o_orderdate AS DATE)) = 1996
                        THEN CAST(o.o_totalprice AS DECIMAL(30,10))
                        ELSE CAST(0 AS DECIMAL(30,10)) END) AS rev_prev,
               SUM(CASE WHEN YEAR(CAST(o.o_orderdate AS DATE)) = 1997
                        THEN CAST(o.o_totalprice AS DECIMAL(30,10))
                        ELSE CAST(0 AS DECIMAL(30,10)) END) AS rev_cur
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE YEAR(CAST(o.o_orderdate AS DATE)) IN (1996, 1997)
        GROUP BY c.c_mktsegment
    ),
    t AS (
        SELECT segment, rev_prev, rev_cur,
               SUM(rev_prev) OVER () AS tot_prev,
               SUM(rev_cur) OVER () AS tot_cur
        FROM seg
    )
    SELECT segment,
           ROUND(CAST(rev_prev AS DOUBLE), 2) AS rev_1996,
           ROUND(CAST(rev_cur AS DOUBLE), 2) AS rev_1997,
           ROUND((CAST(rev_cur AS DOUBLE) - CAST(rev_prev AS DOUBLE))
                 / CAST(rev_prev AS DOUBLE) * 100, 6) AS growth_pct,
           ROUND((CAST(rev_cur AS DOUBLE) - CAST(rev_prev AS DOUBLE))
                 / CAST(tot_prev AS DOUBLE) * 100, 6)
               AS contribution_pp,
           ROUND((CAST(tot_cur AS DOUBLE) - CAST(tot_prev AS DOUBLE))
                 / CAST(tot_prev AS DOUBLE) * 100, 6)
               AS total_growth_pct
    FROM t
    ORDER BY segment
    """,
)
def segment_growth_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth-contribution (shift-share) decomposition of 1996→1997
    revenue growth by market segment — the board-deck readout that
    splits 'revenue grew G%' into additive per-segment percentage-
    point contributions (Δrev_s / total_prev, summing exactly to the
    headline G): which segment MOVED the number, not just which grew
    fastest — a small segment growing 40% can contribute less than a
    large one growing 4%. One year-pruned join+agg (the predicate
    reaches the orders scan) to the 5-row segment frame with BOTH
    years' DECIMAL sums as conditional aggregates — one pass, no
    year-by-year re-scan; totals are window sums over that frame.
    Additivity is exact because every term shares the one tot_prev
    denominator."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    yr = F.year(F.col("o_orderdate").cast("date"))
    zero = dec(F.lit(0))
    seg = (
        orders.filter(yr.isin(1996, 1997))
        .join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == cust.c_custkey,
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.sum(
                F.when(
                    yr == 1996, dec(F.col("o_totalprice"))
                ).otherwise(zero)
            ).alias("rev_prev"),
            F.sum(
                F.when(
                    yr == 1997, dec(F.col("o_totalprice"))
                ).otherwise(zero)
            ).alias("rev_cur"),
        )
    )
    wg = Window.partitionBy()
    t = seg.select(
        "segment",
        "rev_prev",
        "rev_cur",
        F.sum("rev_prev").over(wg).alias("tot_prev"),
        F.sum("rev_cur").over(wg).alias("tot_cur"),
    )
    rp = F.col("rev_prev").cast("double")
    rc = F.col("rev_cur").cast("double")
    tp = F.col("tot_prev").cast("double")
    tc = F.col("tot_cur").cast("double")
    return t.select(
        "segment",
        F.round(rp, 2).alias("rev_1996"),
        F.round(rc, 2).alias("rev_1997"),
        F.round((rc - rp) / rp * 100, 6).alias("growth_pct"),
        F.round((rc - rp) / tp * 100, 6).alias("contribution_pp"),
        F.round((tc - tp) / tp * 100, 6).alias("total_growth_pct"),
    ).orderBy("segment")


# supplier_bradley_terry's pair-count fetch ceiling: C(|supplier|, 2) at
# sf1's 10,000 suppliers (~1.6 GB), the scale its docstring calls the
# limit of the driver-side solve
_BT_MAX_PAIRS = 10_000 * 9_999 // 2


@query(
    "supplier_bradley_terry",
    """
    WITH ps AS (
        SELECT l_partkey, l_suppkey,
               (CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                     AS DOUBLE) / 100.0)
                   / CAST(SUM(CAST(ROUND(l_quantity, 0) AS BIGINT))
                          AS DOUBLE) AS price
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    duel AS (
        SELECT a.l_suppkey AS i, b.l_suppkey AS j,
               CASE WHEN a.price < b.price THEN 1
                    WHEN a.price > b.price THEN 0
                    ELSE 0.5 END AS w
        FROM ps a JOIN ps b
          ON a.l_partkey = b.l_partkey AND a.l_suppkey <> b.l_suppkey
    ),
    pair AS (
        SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(w) AS DOUBLE) AS wins
        FROM duel GROUP BY i, j
    ),
    tot AS (
        SELECT i, SUM(n) AS games,
               ROUND(SUM(wins), 6) AS w_i
        FROM pair GROUP BY i
    ),
    it1 AS (
        SELECT t.i, t.games, t.w_i,
               ROUND(t.w_i / CAST(SUM(CAST(ROUND(p.n / 2.0, 9)
                                           AS DECIMAL(30,12)))
                                  AS DOUBLE), 12) AS s1
        FROM tot t JOIN pair p ON t.i = p.i
        GROUP BY t.i, t.games, t.w_i
    ),
    it2 AS (
        SELECT t.i, t.games, t.w_i,
               ROUND(t.w_i / CAST(SUM(CAST(ROUND(
                   p.n / (a.s1 + b.s1), 9) AS DECIMAL(30,12)))
                   AS DOUBLE), 12) AS s2
        FROM tot t
        JOIN pair p ON t.i = p.i
        JOIN it1 a ON p.i = a.i
        JOIN it1 b ON p.j = b.i
        GROUP BY t.i, t.games, t.w_i
    )
    SELECT i AS suppkey,
           CAST(games AS BIGINT) AS n_games,
           ROUND(w_i, 2) AS n_wins,
           ROUND(s2, 6) AS bt_strength
    FROM it2
    ORDER BY ROUND(s2, 9) DESC, i
    LIMIT 20
    """,
)
def supplier_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry preference aggregation over supplier price duels —
    the pairwise-comparison → latent-strength model (Bradley & Terry
    1952; Hunter 2004 MM) that preference-data pipelines run on human
    A-vs-B judgments to build reward-model training targets: here two
    suppliers 'duel' whenever they sell the same part, the cheaper
    unit price wins (ties split 0.5), and two unrolled MM iterations
    s_i ← W_i / Σ_j n_ij/(s_i+s_j) from the uniform start convert win
    counts into strengths that account for WHO each supplier beat —
    beating a strong rival counts more than farming weak ones, exactly
    why raw win-rate misranks preference data. Fixed-iteration
    unrolling is the house fixpoint convention (PageRank/k-core); each
    MM denominator term is rounded then DECIMAL-summed and each
    strength rounded to 12, so both engines iterate identical values;
    final rank on the 9-digit-rounded strength with key tiebreak. The
    duel self-join is part-keyed (suppliers-per-part bounded) and runs
    in whole-stage codegen — measured 1.6× faster than the HOF
    collect_list/transform pair generator, whose nested lambdas
    evaluate interpreted (r08 experiment).

    MM bookkeeping (r14, r13 verdict item 4): the DISTRIBUTED work is
    exactly the fact-sized part — unit prices, the part-keyed duel
    join, and the duel→pair-count reduction (r14 opt: unit prices fold
    as exact BIGINT cents/units with bit-identical price doubles, and
    the pair reduction groups on one packed i·2³²+j long with integer
    doubled-wins sums — same-JVM A/B 3.35 → 2.35 s on the pair
    pipeline, values unchanged). The reduced pair-count
    matrix is supplier²/2-bounded (499,500 rows ≈ 20 MB at sf0.1 —
    the bound is C(|supplier|, 2), stated per the house
    bounded-collect discipline). SCALE CEILING
    (r14 verdict item 2): the bound is dimension-QUADRATIC, not
    dimension-linear like the channel-vocabulary collects — ~1.6 GB at
    sf1 supplier cardinality and untenable beyond; past ~10⁵ suppliers
    the documented fallback is the r08 distributed shape (keep the
    pair frame distributed, run each MM round as a broadcast join of
    the supplier-strength vector + pair-keyed reduction, supplier
    vector stays driver-sized). The collect is fetched ONCE via Arrow
    and
    BOTH MM rounds run driver-side in numpy (the channel_conversion_k8
    attribution discipline), replacing r08's second pair-frame pass +
    two broadcast joins + distributed top-20 sort. Driver arithmetic
    mirrors the oracle step for step: wins and their sums are exact
    halves (< 2^52, order-free); round-1's Σ ROUND(n/2.0, 9) is
    exactly games/2 (n/2.0 is exactly representable and survives
    9-digit rounding unchanged, each term casts to DECIMAL(30,12)
    exactly, and the decimal sum games/2 round-trips to binary64);
    round-2 terms ROUND(n/(s_i+s_j), 9) are folded as 1e9-scaled
    int64 (exact — the decimal-sum-then-CAST-DOUBLE of 9-digit
    multiples is the correctly-rounded quotient sum/1e9, and the
    scaled sum stays < 2^53 through sf1), with the half-up rounding
    computed as floor(t·1e9 + 0.5) EXCEPT in a magnitude-aware guard
    band — max(1e-4, 8 ulp of t·1e9) — around .5 boundaries, where the
    decimal-repr-faithful Decimal(repr(t)) path runs instead; the band
    scales with the term because the float product's drift is
    ulp-proportional, so every term matches
    BigDecimal(Double.toString) HALF_UP bit-for-bit at ANY magnitude
    (the linalg r13 ADVICE boundary-window class, closed by
    construction here). All per-supplier strengths, rank keys, and
    display roundings take the exact Decimal path (supplier-bounded)."""
    li = load_table(spark, sf_dir, "lineitem")
    # r14 (guide §2.3 narrower types / §1.2 per-task work): the two
    # DECIMAL(30,10) accumulators were ~1.4 s of interpreted BigDecimal
    # adds over the fact; prices are exact 2-decimal values and
    # quantities integral in this schema, so the sums fold as exact
    # BIGINT cents / units in whole-stage codegen. The PRICE IS
    # BIT-IDENTICAL to the decimal form: both CAST(decimal_sum AS
    # DOUBLE) and CAST(cents_sum AS DOUBLE)/100.0 produce the
    # correctly-rounded double of the same exact rational (cents stay
    # < 2^53 through sf1), so every duel outcome — and the whole query
    # result — is unchanged; the oracle mirrors the same fold.
    cents = F.round(F.col("l_extendedprice") * F.lit(100), 0).cast("bigint")
    qint = F.round(F.col("l_quantity"), 0).cast("bigint")
    ps = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(
            (
                (F.sum(cents).cast("double") / F.lit(100.0))
                / F.sum(qint).cast("double")
            ).alias("price")
        )
        # no persist: the self-join's two sides reuse one shuffle via
        # ReusedExchange (same-JVM A/B r14: persist 2.90 vs bare 2.92 s)
    )
    a = ps.select(
        F.col("l_partkey").alias("pk"),
        F.col("l_suppkey").alias("i"),
        F.col("price").alias("pa"),
    )
    b = ps.select(
        F.col("l_partkey").alias("pk"),
        F.col("l_suppkey").alias("j"),
        F.col("price").alias("pb"),
    )
    # each unordered pair enumerated ONCE (i<j) — half the duel rows
    # and half the partial-agg work of the <> form; the mirrored
    # direction is derived exactly after aggregation (wins_ji =
    # n - wins_ij: per-game w flips 1<->0, 0.5 stays, and sums of
    # halves below 2^52 are exact), so the pair frame is value-
    # identical to enumerating both directions
    # r14 (guide §2.3 shuffle fewer bytes / §1.2 per-task work): the
    # 8.7M-row duel stream aggregates to ~C(|supplier|,2) groups — too
    # many groups for partial aggregation to reduce much, so the hash
    # agg itself is the cost. Pack the pair key into ONE long
    # (i·2³² + j — supplier keys < 2³¹ by schema) and fold doubled wins
    # as an integer (w2 ∈ {0,1,2}): a single-long-key, integer-sum
    # codegen hash agg in place of a two-col struct key + double sum.
    # wins = w2/2 is exact (halves < 2^52), so the pair frame is
    # value-identical to the r13 form.
    duel = (
        a.join(b, "pk")
        .filter(F.col("i") < F.col("j"))
        .select(
            (
                F.shiftleft(F.col("i").cast("bigint"), 32)
                + F.col("j").cast("bigint")
            ).alias("ij"),
            F.when(F.col("pa") < F.col("pb"), F.lit(2))
            .when(F.col("pa") > F.col("pb"), F.lit(0))
            .otherwise(F.lit(1))
            .cast("bigint")
            .alias("w2"),
        )
    )
    # r15 (VERDICT item 6): the int32-count fetch trim (24 → 16
    # bytes/row) was A/B'd and measured 0.92× — the ~7 MB Arrow saving
    # is below this query's noise floor while the narrower casts add
    # per-group work in the agg. NOT landed; recorded in
    # OPTIMIZATION_r15.md.
    pair_u = duel.groupBy("ij").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("w2").alias("wins2"),
    )
    # bounded collect — C(|supplier|, 2) rows max (499,500 / ~20 MB at
    # sf0.1), fetched up to the docstring's sf1 ceiling: the whole MM
    # solve below is pair-matrix-sized, so it runs driver-side off this
    # ONE Arrow fetch (see docstring). Every sum below is exact, so the
    # fetch order does not matter.
    from pyspark.sql import types as T

    pdf = collect_bounded(
        pair_u, _BT_MAX_PAIRS, "supplier_bradley_terry pair counts"
    ).to_pandas()
    key_type = li.schema["l_suppkey"].dataType
    out_schema = T.StructType(
        [
            T.StructField("suppkey", key_type),
            T.StructField("n_games", T.LongType()),
            T.StructField("n_wins", T.DoubleType()),
            T.StructField("bt_strength", T.DoubleType()),
        ]
    )
    if len(pdf) == 0:
        return local_frame(spark, [], out_schema)

    from decimal import ROUND_HALF_UP, Decimal

    from technical_test_data_engineer_spark.functions.mirrors import spark_round

    # mirror both duel directions: wins_ji = n - wins_ij (exact — per-
    # game w flips 1<->0, 0.5 stays, and sums of halves are exact)
    ij = pdf["ij"].to_numpy(dtype=np.int64)
    iu = ij >> 32
    ju = ij & 0xFFFFFFFF
    nu = pdf["n"].to_numpy(dtype=np.int64)
    # wins2/2 is exact in float64 (multiples of 0.5 below 2^52)
    wu = pdf["wins2"].to_numpy(dtype=np.int64).astype(np.float64) / 2.0
    src = np.concatenate([iu, ju])
    dst = np.concatenate([ju, iu])
    n = np.concatenate([nu, nu])
    wins = np.concatenate([wu, nu.astype(np.float64) - wu])

    # src already contains every duel participant (both directions are
    # mirrored above), so one 2M-element unique + a dense LUT over the
    # key range replaces the 4M-element return_inverse sort (~0.8 s →
    # ~0.2 s); suppkeys are 1..|supplier| so the LUT is supplier-sized
    supp = np.unique(src)
    lut = np.zeros(int(supp[-1]) + 1, dtype=np.int64)
    lut[supp] = np.arange(len(supp))
    si_ix = lut[src]
    sj_ix = lut[dst]
    games = np.bincount(si_ix, weights=n, minlength=len(supp))
    # exact: wins are multiples of 0.5 and games < 2^52
    w_i = np.bincount(si_ix, weights=wins, minlength=len(supp))
    w_i = np.array([spark_round(x, 6) for x in w_i])
    # round 1: Σ_j ROUND(n/2.0, 9) == games/2 exactly (see docstring)
    s1 = np.array(
        [spark_round(w, 12) for w in w_i / (games / 2.0)]
    )

    def _fold_terms(t: np.ndarray) -> np.ndarray:
        """1e9-scaled int64 of ROUND(t, 9): vectorized floor(f+0.5)
        with terms near a .5 boundary recomputed via Decimal(repr).
        The guard band is MAGNITUDE-AWARE — max(1e-4, 8 ulp of f) —
        because the float product f = t·1e9 carries ~2-ulp error,
        which at f ~ 1e13 is ~2e-3 in units of the last decimal
        digit: a fixed 1e-4 band would miss real boundary cases for
        large terms (8 ulp = 4× the worst-case drift budget:
        repr-vs-binary gap + multiply + probe-add roundings)."""
        f = t * 1e9
        scaled = np.floor(f + 0.5).astype(np.int64)
        frac = f - np.floor(f)
        band = np.maximum(1e-4, 8.0 * np.spacing(np.abs(f)))
        risky = np.abs(frac - 0.5) < band
        for k in np.nonzero(risky)[0]:
            scaled[k] = int(
                (
                    Decimal(repr(float(t[k]))) * (10**9)
                ).quantize(Decimal(1), ROUND_HALF_UP)
            )
        return scaled

    den2_scaled = np.zeros(len(supp), dtype=np.int64)
    terms = _fold_terms(n / (s1[si_ix] + s1[sj_ix]))
    np.add.at(den2_scaled, si_ix, terms)
    den2 = den2_scaled.astype(np.float64) / 1e9
    s2 = np.array([spark_round(w, 12) for w in w_i / den2])

    order = sorted(
        range(len(supp)),
        key=lambda k: (-spark_round(s2[k], 9), int(supp[k])),
    )[:20]
    rows = [
        (
            int(supp[k]),
            int(games[k]),
            spark_round(w_i[k], 2),
            spark_round(s2[k], 6),
        )
        for k in order
    ]
    return local_frame(spark, rows, out_schema)


@query(
    "priority_value_gamma",
    """
    WITH cells AS (
        SELECT CAST(SUBSTRING(o_orderpriority, 1, 1) AS INTEGER) AS pr,
               CAST(FLOOR(o_totalprice / 50000) AS INTEGER) AS vb,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.n * b.n AS w,
               CASE WHEN (a.pr < b.pr AND a.vb < b.vb)
                      OR (a.pr > b.pr AND a.vb > b.vb)
                    THEN 1 ELSE 0 END AS conc,
               CASE WHEN (a.pr < b.pr AND a.vb > b.vb)
                      OR (a.pr > b.pr AND a.vb < b.vb)
                    THEN 1 ELSE 0 END AS disc
        FROM cells a JOIN cells b
          ON a.pr < b.pr OR (a.pr = b.pr AND a.vb < b.vb)
    ),
    m AS (
        SELECT CAST(SUM(CASE WHEN conc = 1 THEN w ELSE 0 END) AS BIGINT)
                   AS nc,
               CAST(SUM(CASE WHEN disc = 1 THEN w ELSE 0 END) AS BIGINT)
                   AS nd
        FROM pairs
    )
    SELECT nc AS n_concordant, nd AS n_discordant,
           ROUND((CAST(nc AS DOUBLE) - nd) / (CAST(nc AS DOUBLE) + nd), 6)
               AS gamma
    FROM m
    """,
)
def priority_value_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman-Kruskal gamma between order priority (ordinal 1..5) and
    order-value band — the ordinal-ordinal association measure for
    CONTINGENCY data (γ = (C−D)/(C+D), ignoring ties entirely): do
    urgent orders tend to be bigger, measured without pretending the
    categories are interval-scaled (Pearson's sin) or exploding to row
    pairs (Kendall's cost). Concordant/discordant mass comes from CELL
    pairs weighted by count products — the grid is priority×band
    bounded, so after ONE fact-sized agg the entire statistic is
    integer arithmetic on ≤(5·bands)² cell pairs; the cell-pair join
    enumerates each unordered pair once via the lexicographic
    condition. Integer counts end-to-end: nothing can drift."""
    orders = load_table(spark, sf_dir, "orders")
    cells = orders.groupBy(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("pr"),
        F.floor(F.col("o_totalprice") / 50000).cast("int").alias("vb"),
    ).agg(F.count("*").cast("bigint").alias("n")).persist()
    a = cells.select(
        F.col("pr").alias("pa"), F.col("vb").alias("va"), F.col("n").alias("na")
    )
    b = cells.select(
        F.col("pr").alias("pb"), F.col("vb").alias("vp"), F.col("n").alias("nb")
    )
    pairs = a.join(
        b,
        (F.col("pa") < F.col("pb"))
        | ((F.col("pa") == F.col("pb")) & (F.col("va") < F.col("vp"))),
    ).select(
        (F.col("na") * F.col("nb")).alias("w"),
        (
            ((F.col("pa") < F.col("pb")) & (F.col("va") < F.col("vp")))
            | ((F.col("pa") > F.col("pb")) & (F.col("va") > F.col("vp")))
        ).alias("conc"),
        (
            ((F.col("pa") < F.col("pb")) & (F.col("va") > F.col("vp")))
            | ((F.col("pa") > F.col("pb")) & (F.col("va") < F.col("vp")))
        ).alias("disc"),
    )
    m = pairs.agg(
        F.sum(F.when(F.col("conc"), F.col("w")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("nc"),
        F.sum(F.when(F.col("disc"), F.col("w")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("nd"),
    )
    return m.select(
        F.col("nc").alias("n_concordant"),
        F.col("nd").alias("n_discordant"),
        F.round(
            (F.col("nc").cast("double") - F.col("nd"))
            / (F.col("nc").cast("double") + F.col("nd")),
            6,
        ).alias("gamma"),
    )


@query(
    "customer_value_quartile_migration",
    """
    WITH spend AS (
        SELECT o_custkey,
               SUM(CASE WHEN YEAR(CAST(o_orderdate AS DATE)) = 1996
                        THEN CAST(o_totalprice AS DECIMAL(30,10))
                        ELSE CAST(0 AS DECIMAL(30,10)) END) AS s96,
               SUM(CASE WHEN YEAR(CAST(o_orderdate AS DATE)) = 1997
                        THEN CAST(o_totalprice AS DECIMAL(30,10))
                        ELSE CAST(0 AS DECIMAL(30,10)) END) AS s97
        FROM orders
        WHERE YEAR(CAST(o_orderdate AS DATE)) IN (1996, 1997)
        GROUP BY o_custkey
        HAVING SUM(CASE WHEN YEAR(CAST(o_orderdate AS DATE)) = 1996
                        THEN 1 ELSE 0 END) > 0
           AND SUM(CASE WHEN YEAR(CAST(o_orderdate AS DATE)) = 1997
                        THEN 1 ELSE 0 END) > 0
    ),
    q AS (
        SELECT CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY s96, o_custkey)
                           - 1) * 4
                          / COUNT(*) OVER ()) + 1 AS INTEGER) AS q96,
               CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY s97, o_custkey)
                           - 1) * 4
                          / COUNT(*) OVER ()) + 1 AS INTEGER) AS q97
        FROM spend
    ),
    m AS (
        SELECT q96, q97, CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM q GROUP BY q96, q97
    )
    SELECT q96, q97, n_customers,
           ROUND(CAST(n_customers AS DOUBLE)
                 / SUM(n_customers) OVER (PARTITION BY q96), 6)
               AS row_share
    FROM m
    ORDER BY q96, q97
    """,
)
def customer_value_quartile_migration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Value-quartile migration matrix 1996 → 1997 — the
    upgrade/downgrade/churn-risk grid a CRM reads: customers active in
    BOTH years, bucketed into spend quartiles per year, with row-
    normalized transition shares (of 1996's top quartile, what share
    stayed top?). Quartiles are integer rank arithmetic
    floor((rank−1)·4/n) with (spend, custkey) total order — the
    portable Lorenz-decile convention, immune to NTILE dialect
    differences. One year-pruned agg builds both spend columns in a
    single pass; two global sort-ranks over the customers-active-in-
    both frame (the Gini discipline — at 100 TB quartile boundaries
    come from an equi-depth histogram instead); the matrix is a ≤16-row
    rollup."""
    orders = load_table(spark, sf_dir, "orders")
    yr = F.year(F.col("o_orderdate").cast("date"))
    zero = dec(F.lit(0))
    spend = (
        orders.filter(yr.isin(1996, 1997))
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.when(
                    yr == 1996,
                    dec(F.col("o_totalprice")),
                ).otherwise(zero)
            ).alias("s96"),
            F.sum(
                F.when(
                    yr == 1997,
                    dec(F.col("o_totalprice")),
                ).otherwise(zero)
            ).alias("s97"),
            F.sum(F.when(yr == 1996, 1).otherwise(0)).alias("n96"),
            F.sum(F.when(yr == 1997, 1).otherwise(0)).alias("n97"),
        )
        .filter((F.col("n96") > 0) & (F.col("n97") > 0))
    )
    w96 = Window.orderBy(F.asc("s96"), F.asc("o_custkey"))
    w97 = Window.orderBy(F.asc("s97"), F.asc("o_custkey"))
    wg = Window.partitionBy()
    q = spend.select(
        (
            F.floor(
                (F.row_number().over(w96) - 1) * 4 / F.count("*").over(wg)
            )
            + 1
        )
        .cast("int")
        .alias("q96"),
        (
            F.floor(
                (F.row_number().over(w97) - 1) * 4 / F.count("*").over(wg)
            )
            + 1
        )
        .cast("int")
        .alias("q97"),
    )
    m = q.groupBy("q96", "q97").agg(
        F.count("*").cast("bigint").alias("n_customers")
    )
    return m.select(
        "q96",
        "q97",
        "n_customers",
        F.round(
            F.col("n_customers").cast("double")
            / F.sum("n_customers").over(Window.partitionBy("q96")),
            6,
        ).alias("row_share"),
    ).orderBy("q96", "q97")


@query(
    "supplier_acctbal_kruskal",
    """
    WITH cells AS (
        SELECT s_acctbal AS v, s_nationkey AS g,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM supplier GROUP BY s_acctbal, s_nationkey
    ),
    vals AS (
        SELECT v, SUM(c) AS cv FROM cells GROUP BY v
    ),
    rk AS (
        SELECT v, cv,
               SUM(cv) OVER (ORDER BY v) - (cv - 1) / 2.0 AS midrank,
               SUM(cv) OVER () AS nn
        FROM vals
    ),
    grp AS (
        SELECT ce.g,
               CAST(SUM(ce.c) AS BIGINT) AS n_g,
               CAST(SUM(CAST(ROUND(ce.c * rk.midrank, 6)
                             AS DECIMAL(38,6))) AS DOUBLE) AS r_g,
               MAX(rk.nn) AS nn
        FROM cells ce JOIN rk ON ce.v = rk.v
        GROUP BY ce.g
    ),
    ties AS (
        SELECT CAST(SUM(CAST(cv * cv * cv - cv AS DECIMAL(38,0)))
                    AS DOUBLE) AS t3
        FROM vals
    ),
    h AS (
        SELECT g, n_g, r_g, nn,
               12.0 / (CAST(nn AS DOUBLE) * (nn + 1))
                 * SUM(CAST(ROUND(r_g * r_g / n_g, 6) AS DECIMAL(38,6)))
                   OVER ()
                 - 3.0 * (nn + 1) AS h_raw
        FROM grp
    )
    SELECT n.n_name AS nation,
           h.n_g AS n_suppliers,
           ROUND(h.r_g / h.n_g, 6) AS mean_rank,
           ROUND(h.h_raw, 6) AS h_stat,
           ROUND(h.h_raw / (1.0 - t.t3
                 / (CAST(h.nn AS DOUBLE) * h.nn * h.nn - h.nn)), 6)
               AS h_tie_corrected
    FROM h JOIN nation n ON h.g = n.n_nationkey
    CROSS JOIN ties t
    ORDER BY nation
    """,
)
def supplier_acctbal_kruskal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across nations for supplier account balances —
    the k-group rank ANOVA (Kruskal & Wallis 1952) that extends
    Mann-Whitney beyond two samples: does ANY nation's balance
    distribution sit higher, with no normality assumption — the
    nonparametric twin of ``orders_weekday_anova``. Same scale
    discipline as the U test: pooled midranks come from the
    per-DISTINCT-VALUE frame (one cumulative window over values, never
    row width), per-group rank sums are count-weighted DECIMAL sums,
    and the tie-corrected H divides by 1 − Σ(t³−t)/(N³−N). Per-nation
    mean ranks surface the direction the scalar H only detects."""
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    cells = sup.groupBy(
        F.col("s_acctbal").alias("v"), F.col("s_nationkey").alias("g")
    ).agg(F.count("*").cast("bigint").alias("c")).persist()
    vals = cells.groupBy("v").agg(F.sum("c").alias("cv")).persist()
    wo = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wg = Window.partitionBy()
    rk = vals.select(
        "v",
        "cv",
        (F.sum("cv").over(wo) - (F.col("cv") - 1) / 2.0).alias("midrank"),
        F.sum("cv").over(wg).alias("nn"),
    )
    grp = (
        cells.join(rk, "v")
        .groupBy("g")
        .agg(
            F.sum("c").cast("bigint").alias("n_g"),
            exact_sum(
                F.round(F.col("c") * F.col("midrank"), 6),
                "r_g",
                precision=38,
                scale=6,
            ),
            F.max("nn").alias("nn"),
        )
    )
    ties = vals.agg(
        exact_sum(
            F.col("cv") * F.col("cv") * F.col("cv") - F.col("cv"),
            "t3",
            precision=38,
            scale=0,
        )
    )
    nnd = F.col("nn").cast("double")
    h = grp.select(
        "g",
        "n_g",
        "r_g",
        "nn",
        (
            F.lit(12.0)
            / (nnd * (F.col("nn") + 1))
            * F.sum(
                dec(F.round(F.col("r_g") * F.col("r_g") / F.col("n_g"), 6), 38, 6)
            ).over(wg)
            - F.lit(3.0) * (F.col("nn") + 1)
        ).alias("h_raw"),
    )
    return (
        h.join(
            F.broadcast(nat.select("n_nationkey", "n_name")),
            h.g == F.col("n_nationkey"),
        )
        .crossJoin(F.broadcast(ties))
        .select(
            F.col("n_name").alias("nation"),
            F.col("n_g").alias("n_suppliers"),
            F.round(F.col("r_g") / F.col("n_g"), 6).alias("mean_rank"),
            F.round("h_raw", 6).alias("h_stat"),
            F.round(
                F.col("h_raw")
                / (
                    F.lit(1.0)
                    - F.col("t3") / (nnd * nnd * nnd - F.col("nn"))
                ),
                6,
            ).alias("h_tie_corrected"),
        )
        .orderBy("nation")
    )


@query(
    "part_abc_xyz_matrix",
    """
    WITH pm AS (
        SELECT l_partkey,
               DATE_TRUNC('month', CAST(l_shipdate AS DATE)) AS month,
               SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)) AS q
        FROM lineitem GROUP BY 1, 2
    ),
    stats AS (
        SELECT l_partkey,
               CAST(COUNT(*) AS BIGINT) AS n_months,
               CAST(SUM(q) AS DOUBLE) AS demand,
               SQRT(CAST(SUM(q * q) AS DOUBLE)
                    / COUNT(*)
                    - POW(CAST(SUM(q) AS DOUBLE) / COUNT(*), 2))
                 / (CAST(SUM(q) AS DOUBLE) / COUNT(*)) AS cv
        FROM pm GROUP BY l_partkey
    ),
    rev AS (
        SELECT l_partkey,
               SUM(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(30,10))) AS r
        FROM lineitem GROUP BY l_partkey
    ),
    abc AS (
        SELECT s.l_partkey, s.cv,
               CASE WHEN CAST(SUM(rev.r) OVER (
                        ORDER BY rev.r DESC, rev.l_partkey) AS DOUBLE)
                        / CAST(SUM(rev.r) OVER () AS DOUBLE) <= 0.8
                    THEN 'A'
                    WHEN CAST(SUM(rev.r) OVER (
                        ORDER BY rev.r DESC, rev.l_partkey) AS DOUBLE)
                        / CAST(SUM(rev.r) OVER () AS DOUBLE) <= 0.95
                    THEN 'B' ELSE 'C' END AS abc_class,
               CASE WHEN s.cv < 0.5 THEN 'X'
                    WHEN s.cv < 1.0 THEN 'Y' ELSE 'Z' END AS xyz_class
        FROM stats s JOIN rev ON s.l_partkey = rev.l_partkey
        WHERE s.n_months >= 3
    )
    SELECT abc_class, xyz_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (), 6) AS share,
           ROUND(CAST(SUM(CAST(ROUND(cv, 9) AS DECIMAL(30,12)))
                      AS DOUBLE) / COUNT(*), 6) AS mean_cv
    FROM abc
    GROUP BY abc_class, xyz_class
    ORDER BY abc_class, xyz_class
    """,
)
def part_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC × XYZ inventory matrix — the 9-cell planning grid every
    supply/inventory system segments on: ABC = cumulative revenue
    share classes (the ``supplier_pareto_abc`` discipline applied to
    parts), XYZ = monthly demand variability classes (CV < 0.5
    steady X, < 1 variable Y, else erratic Z — the
    ``customer_interpurchase_cv`` buckets applied to demand): an AX
    part gets automated reorder, a CZ part gets make-to-order. ONE
    fact agg to the (part, month) demand grid carrying BOTH measures,
    ONE part-keyed agg producing the CV moments AND the revenue total
    together (r14: the revenue rollup was a second pm consumer behind
    a persist + part-keyed join — fusing it into the stats agg removed
    the persist, the join, and a shuffle; same-JVM A/B 2.00 vs 2.98 s,
    value-identical), one revenue-ordered cumulative window over the
    parts frame, a 9-row rollup; parts under 3 active months excluded
    as unclassifiable. All class boundaries apply to exact
    integer/DECIMAL ratios. fan_out spreads the map-side decimal
    partial aggregation off the single-row-group local scan task;
    order-free sums, same result."""
    from technical_test_data_engineer_spark.operators.partitioning import (
        fan_out,
    )

    li = fan_out(
        load_table(spark, sf_dir, "lineitem").select(
            "l_partkey", "l_shipdate", "l_quantity",
            "l_extendedprice", "l_discount",
        )
    )
    # ONE lineitem scan builds the (part, month) grid with BOTH
    # measures; the CV moments AND the revenue total come out of ONE
    # part-keyed agg (r14 fusion — see docstring), so pm has a single
    # consumer and needs no persist
    pm = li.groupBy(
        "l_partkey",
        F.date_trunc("month", F.col("l_shipdate").cast("date")).alias(
            "month"
        ),
    ).agg(
        # r14: quantities are integral, so the demand side folds as
        # exact BIGINT units (bit-identical downstream doubles — the
        # price-index-grid proof); revenue keeps the decimal path
        # (p·(1−d) is an arbitrary double)
        F.sum(F.round(F.col("l_quantity"), 0).cast("bigint")).alias("q"),
        F.sum(
            dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        ).alias("rm"),
    )
    mean_q = F.col("sq").cast("double") / F.col("n_months")
    stats = (
        pm.groupBy("l_partkey")
        .agg(
            F.count("*").cast("bigint").alias("n_months"),
            F.sum("q").alias("sq"),
            F.sum(F.col("q") * F.col("q")).alias("sqq"),
            F.sum("rm").alias("r"),
        )
        .select(
            "l_partkey",
            "n_months",
            (
                F.sqrt(
                    F.col("sqq").cast("double") / F.col("n_months")
                    - mean_q * mean_q
                )
                / mean_q
            ).alias("cv"),
            "r",
        )
    )
    wo = Window.orderBy(F.desc("r"), F.asc("l_partkey")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wg = Window.partitionBy()
    cum_share = (
        F.sum("r").over(wo).cast("double")
        / F.sum("r").over(wg).cast("double")
    )
    abc = (
        stats.filter(F.col("n_months") >= 3)
        .select(
            "cv",
            F.when(cum_share <= 0.8, "A")
            .when(cum_share <= 0.95, "B")
            .otherwise("C")
            .alias("abc_class"),
            F.when(F.col("cv") < 0.5, "X")
            .when(F.col("cv") < 1.0, "Y")
            .otherwise("Z")
            .alias("xyz_class"),
        )
    )
    return (
        abc.groupBy("abc_class", "xyz_class")
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            F.sum(dec(F.round(F.col("cv"), 9), 30, 12)).alias(
                "_cvsum"
            ),
        )
        .select(
            "abc_class",
            "xyz_class",
            "n_parts",
            F.round(
                F.col("n_parts").cast("double")
                / F.sum("n_parts").over(wg),
                6,
            ).alias("share"),
            F.round(
                F.col("_cvsum").cast("double") / F.col("n_parts"), 6
            ).alias("mean_cv"),
        )
        .orderBy("abc_class", "xyz_class")
    )


@query(
    "nation_theil_decomposition",
    """
    WITH spend AS (
        SELECT o.o_custkey, c.c_nationkey,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(30,10)))
                    AS DOUBLE) AS x
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY o.o_custkey, c.c_nationkey
    ),
    tot AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(x AS DECIMAL(30,10))) AS DOUBLE) AS s
        FROM spend
    ),
    grp AS (
        SELECT c_nationkey,
               COUNT(*) AS n_g,
               CAST(SUM(CAST(x AS DECIMAL(30,10))) AS DOUBLE) AS s_g,
               CAST(SUM(CAST(ROUND((x / (SELECT s FROM tot))
                   * LN(x * (SELECT n FROM tot) / (SELECT s FROM tot)),
                   12) AS DECIMAL(30,15))) AS DOUBLE) AS t_term
        FROM spend GROUP BY c_nationkey
    ),
    parts AS (
        SELECT g.c_nationkey, g.n_g, g.s_g,
               ROUND((g.s_g / t.s) * LN((g.s_g / t.s) / (CAST(g.n_g
                   AS DOUBLE) / t.n)), 12) AS between_term,
               CAST(SUM(CAST(ROUND((g.s_g / t.s)
                   * LN((g.s_g / t.s) / (CAST(g.n_g AS DOUBLE) / t.n)),
                   12) AS DECIMAL(30,15))) OVER () AS DOUBLE)
                   AS t_between,
               CAST(SUM(CAST(ROUND(g.t_term, 12) AS DECIMAL(30,15)))
                    OVER () AS DOUBLE) AS t_total
        FROM grp g CROSS JOIN tot t
    )
    SELECT n.n_name AS nation,
           CAST(p.n_g AS BIGINT) AS n_customers,
           ROUND(p.between_term, 6) AS between_contribution,
           ROUND(p.t_total, 6) AS theil_total,
           ROUND(p.t_between, 6) AS theil_between,
           ROUND(p.t_total - p.t_between, 6) AS theil_within
    FROM parts p JOIN nation n ON p.c_nationkey = n.n_nationkey
    ORDER BY nation
    """,
)
def nation_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T between/within decomposition by customer nation — the
    property ``customer_theil_index``'s docstring advertises, now
    computed: T_total = T_between (inequality of nation MEANS, each
    nation collapsed to its revenue share vs population share) +
    T_within (the remainder), with each nation's between-term
    surfaced — 'is revenue concentration a cross-country story or a
    within-country story', and for a corpus the same split over
    sources vs documents-within-source decides WHERE to rebalance.
    One join+agg to per-customer spend with its group key, a 1-row
    total, nations-sized group sums; every log term rounded to 12 and
    DECIMAL-summed, so the identity holds exactly in both engines
    (within reported as total − between, the division-free form)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    spend = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders.o_custkey == cust.c_custkey,
        )
        .groupBy("o_custkey", "c_nationkey")
        .agg(exact_sum(F.col("o_totalprice")).alias("x"))
        .persist()  # feeds the 1-row total AND the group rollup
    )
    tot = spend.agg(
        F.count("*").alias("n"),
        exact_sum(F.col("x"), "s"),
    )
    j = spend.crossJoin(F.broadcast(tot))
    t_term = F.round(
        (F.col("x") / F.col("s"))
        * F.log(F.col("x") * F.col("n") / F.col("s")),
        12,
    )
    grp = j.groupBy("c_nationkey").agg(
        F.count("*").alias("n_g"),
        exact_sum(F.col("x"), "s_g"),
        exact_sum(t_term, "t_term", precision=30, scale=15),
        F.max("n").alias("n"),
        F.max("s").alias("s"),
    )
    share = F.col("s_g") / F.col("s")
    pop = F.col("n_g").cast("double") / F.col("n")
    between_term = F.round(share * F.log(share / pop), 12)
    wg = Window.partitionBy()
    parts = grp.select(
        "c_nationkey",
        "n_g",
        between_term.alias("between_term"),
        F.sum(dec(between_term, 30, 15))
        .over(wg)
        .cast("double")
        .alias("t_between"),
        F.sum(dec(F.round(F.col("t_term"), 12), 30, 15))
        .over(wg)
        .cast("double")
        .alias("t_total"),
    )
    return (
        parts.join(
            F.broadcast(nat.select("n_nationkey", "n_name")),
            parts.c_nationkey == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            F.col("n_g").cast("bigint").alias("n_customers"),
            F.round("between_term", 6).alias("between_contribution"),
            F.round("t_total", 6).alias("theil_total"),
            F.round("t_between", 6).alias("theil_between"),
            F.round(F.col("t_total") - F.col("t_between"), 6).alias(
                "theil_within"
            ),
        )
        .orderBy("nation")
    )


@query(
    "customer_partition_ari",
    """
    WITH spend AS (
        SELECT o.o_custkey,
               MAX(c.c_mktsegment) AS segment,
               SUM(CAST(o.o_totalprice AS DECIMAL(30,10))) AS x
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY o.o_custkey
    ),
    q AS (
        SELECT segment,
               CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY x, o_custkey) - 1)
                          * 4 / COUNT(*) OVER ()) + 1 AS INTEGER)
                   AS quartile
        FROM spend
    ),
    cells AS (
        SELECT segment, quartile, CAST(COUNT(*) AS BIGINT) AS n
        FROM q GROUP BY segment, quartile
    ),
    comb AS (
        SELECT CAST(SUM(n * (n - 1) / 2) AS BIGINT) AS idx,
               CAST(SUM(n) AS BIGINT) AS nn
        FROM cells
    ),
    rowc AS (
        SELECT CAST(SUM(a * (a - 1) / 2) AS BIGINT) AS ra
        FROM (SELECT SUM(n) AS a FROM cells GROUP BY segment)
    ),
    colc AS (
        SELECT CAST(SUM(b * (b - 1) / 2) AS BIGINT) AS cb
        FROM (SELECT SUM(n) AS b FROM cells GROUP BY quartile)
    )
    SELECT comb.nn AS n_customers,
           comb.idx AS pair_index,
           ROUND(CAST(rowc.ra AS DOUBLE) * colc.cb
                 / (CAST(comb.nn AS DOUBLE) * (comb.nn - 1) / 2), 6)
               AS expected_index,
           ROUND((comb.idx - CAST(rowc.ra AS DOUBLE) * colc.cb
                  / (CAST(comb.nn AS DOUBLE) * (comb.nn - 1) / 2))
                 / ((CAST(rowc.ra AS DOUBLE) + colc.cb) / 2
                    - CAST(rowc.ra AS DOUBLE) * colc.cb
                      / (CAST(comb.nn AS DOUBLE) * (comb.nn - 1) / 2)),
                 6) AS adjusted_rand_index
    FROM comb CROSS JOIN rowc CROSS JOIN colc
    """,
)
def customer_partition_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted Rand Index between two customer partitions — market
    segment vs spend quartile (Hubert & Arabie 1985): the
    chance-corrected clustering-agreement score (0 ≈ independent
    partitions, 1 = identical) that completes the cluster-eval family
    (silhouette measures geometry, ARI measures agreement with a
    reference labeling — how a pipeline validates unsupervised
    clusters against business labels). Everything is pair-counting
    combinatorics on the contingency table: ΣC(n_ij,2) vs its
    hypergeometric expectation — INTEGER arithmetic from one
    segment×quartile rollup (quartiles via the portable integer-rank
    convention), so nothing can drift; only the final normalization
    divides."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    spend = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == cust.c_custkey,
        )
        .groupBy("o_custkey")
        .agg(
            F.max("c_mktsegment").alias("segment"),
            F.sum(dec(F.col("o_totalprice"))).alias("x"),
        )
    )
    wo = Window.orderBy(F.asc("x"), F.asc("o_custkey"))
    wg = Window.partitionBy()
    q = spend.select(
        "segment",
        (
            F.floor(
                (F.row_number().over(wo) - 1) * 4 / F.count("*").over(wg)
            )
            + 1
        )
        .cast("int")
        .alias("quartile"),
    )
    cells = q.groupBy("segment", "quartile").agg(
        F.count("*").cast("bigint").alias("n")
    ).persist()  # feeds the cell, row and column combinatorics
    comb = cells.agg(
        F.sum(F.col("n") * (F.col("n") - 1) / 2).cast("bigint").alias(
            "idx"
        ),
        F.sum("n").cast("bigint").alias("nn"),
    )
    rowc = (
        cells.groupBy("segment")
        .agg(F.sum("n").alias("a"))
        .agg(
            F.sum(F.col("a") * (F.col("a") - 1) / 2)
            .cast("bigint")
            .alias("ra")
        )
    )
    colc = (
        cells.groupBy("quartile")
        .agg(F.sum("n").alias("b"))
        .agg(
            F.sum(F.col("b") * (F.col("b") - 1) / 2)
            .cast("bigint")
            .alias("cb")
        )
    )
    j = comb.crossJoin(F.broadcast(rowc)).crossJoin(F.broadcast(colc))
    total_pairs = F.col("nn").cast("double") * (F.col("nn") - 1) / 2
    expected = F.col("ra").cast("double") * F.col("cb") / total_pairs
    max_idx = (F.col("ra").cast("double") + F.col("cb")) / 2
    return j.select(
        F.col("nn").alias("n_customers"),
        F.col("idx").alias("pair_index"),
        F.round(expected, 6).alias("expected_index"),
        F.round(
            (F.col("idx") - expected) / (max_idx - expected), 6
        ).alias("adjusted_rand_index"),
    )


@query(
    "copurchase_brand_modularity",
    f"""
    WITH {_PR_EDGE_CTE},
    bm AS (SELECT p_partkey, p_brand FROM part),
    dc AS (
        SELECT bm.p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS d_c
        FROM e JOIN bm ON e.u = bm.p_partkey
        GROUP BY 1
    ),
    nc AS (
        SELECT bm.p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM deg JOIN bm ON deg.u = bm.p_partkey
        GROUP BY 1
    ),
    mc AS (
        SELECT ba.p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS m_c
        FROM pe
        JOIN bm ba ON pe.pa = ba.p_partkey
        JOIN bm bb ON pe.pb = bb.p_partkey
        WHERE ba.p_brand = bb.p_brand
        GROUP BY 1
    ),
    g AS (
        SELECT dc.brand, nc.n_nodes, dc.d_c,
               COALESCE(mc.m_c, 0) AS m_c,
               CAST(SUM(dc.d_c) OVER () AS DOUBLE) / 2 AS m
        FROM dc
        JOIN nc ON dc.brand = nc.brand
        LEFT JOIN mc ON dc.brand = mc.brand
    )
    SELECT brand, n_nodes, d_c,
           CAST(m_c AS BIGINT) AS m_c,
           ROUND(m_c / m - (d_c / (2 * m)) * (d_c / (2 * m)), 6) + 0.0
               AS q_brand,
           ROUND(CAST(SUM(CAST(ROUND(
               m_c / m - (d_c / (2 * m)) * (d_c / (2 * m)), 12)
               AS DECIMAL(30,15))) OVER () AS DOUBLE), 6) + 0.0 AS q_total
    FROM g
    ORDER BY brand
    """,
)
def copurchase_brand_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the brand partition on the co-purchase
    graph — the community-quality scalar (Newman & Girvan 2004) every
    community-detection pipeline reports: per brand c,
    q_c = m_c/m − (d_c/2m)² (intra-edge share minus the share expected
    under the degree-preserving null), summed to the familiar Q.
    Positive Q = parts co-purchase WITHIN brands more than chance —
    the validation readout for using brand as a blocking/partition key
    (and the objective Louvain-style algorithms maximize; here the
    partition is given, so the measure is exact and closed-form).
    Rides the session-materialized edge relation: degree mass d_c and
    node counts come from the symmetric edge list joined to the
    broadcast part dim, intra-brand edges m_c from the undirected list
    with both endpoints brand-attached, all rolled to the brand-bounded
    frame where 2m = Σd_c closes the computation without a separate
    global count. Each q_c is rounded to 12 and DECIMAL-summed for the
    drift-proof Q; `+ 0.0` normalizes the signed zero a near-null
    q_brand can round to (ADVICE signed-zero convention)."""
    und = _copurchase_edges(spark, sf_dir)
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pk"), F.col("p_brand").alias("brand")
    )
    sym = und.unionByName(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()  # feeds the degree-mass agg AND the node-count agg
    dc = (
        sym.join(F.broadcast(part), sym.src == part.pk)
        .groupBy("brand")
        .agg(F.count("*").cast("bigint").alias("d_c"))
    )
    nc = (
        sym.select("src").distinct()
        .join(F.broadcast(part), F.col("src") == part.pk)
        .groupBy("brand")
        .agg(F.count("*").cast("bigint").alias("n_nodes"))
    )
    ba = part.select(F.col("pk").alias("_pa"), F.col("brand").alias("_b1"))
    bb = part.select(F.col("pk").alias("_pb"), F.col("brand").alias("_b2"))
    mc = (
        und.join(F.broadcast(ba), und.src == F.col("_pa"))
        .join(F.broadcast(bb), und.dst == F.col("_pb"))
        .filter(F.col("_b1") == F.col("_b2"))
        .groupBy(F.col("_b1").alias("brand"))
        .agg(F.count("*").cast("bigint").alias("m_c"))
    )
    wg = Window.partitionBy()
    g = (
        dc.join(nc, "brand")
        .join(mc, "brand", "left")
        .select(
            "brand",
            "n_nodes",
            "d_c",
            F.coalesce(F.col("m_c"), F.lit(0)).alias("m_c"),
            (F.sum("d_c").over(wg).cast("double") / 2).alias("m"),
        )
    )
    qexpr = F.col("m_c") / F.col("m") - (
        F.col("d_c") / (2 * F.col("m"))
    ) * (F.col("d_c") / (2 * F.col("m")))
    return g.select(
        "brand",
        "n_nodes",
        "d_c",
        F.col("m_c").cast("bigint").alias("m_c"),
        (F.round(qexpr, 6) + F.lit(0.0)).alias("q_brand"),
        (
            F.round(
                F.sum(dec(F.round(qexpr, 12), 30, 15))
                .over(wg)
                .cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("q_total"),
    ).orderBy("brand")


_TWO_60F = float(1 << 60)


@query(
    "order_es_weighted_sample",
    f"""
    WITH k AS (
        SELECT o_orderkey, o_totalprice AS weight,
               ROUND(LN(
                   (CAST(('0x' || SUBSTRING(MD5(
                        CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)
                    + 0.5) / {_TWO_60F!r}
               ) / o_totalprice, 12) AS es_key
        FROM orders
    )
    SELECT o_orderkey, weight, es_key,
           CAST(ROW_NUMBER() OVER (ORDER BY es_key DESC, o_orderkey)
                AS BIGINT) AS sample_rank
    FROM k
    ORDER BY es_key DESC, o_orderkey
    LIMIT 50
    """,
)
def order_es_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via Efraimidis-Spirakis
    A-ES keys (Efraimidis & Spirakis 2006) — THE distributed one-pass
    weighted sampler (Spark's own ``sampleByKey`` lineage): each order
    draws key ln(u)/w with u an md5-derived uniform and w its value,
    and the top-K keys ARE an exact without-replacement sample with
    inclusion probability proportional to weight. Completes the
    sampling family (hash / stratified / Neyman / Poisson / PPS
    systematic) with the weighted-without-replacement member, fully
    deterministic (house md5 uniform, no RNG state) and embarrassingly
    parallel: one scan, per-partition local top-K, one K-row merge
    (TakeOrderedAndProject) — nothing corpus-sized ever moves. Keys are
    rounded to 12 before ranking (libm LN convention) with key
    tiebreak, so the cut is drift-proof; the final 50-row rank window
    is output-sized."""
    from technical_test_data_engineer_spark.operators.text import md5_hash64

    orders = load_table(spark, sf_dir, "orders")
    u = (
        md5_hash64(F.col("o_orderkey").cast("string")).cast("double")
        + F.lit(0.5)
    ) / F.lit(_TWO_60F)
    k = orders.select(
        "o_orderkey",
        F.col("o_totalprice").alias("weight"),
        F.round(F.log(u) / F.col("o_totalprice"), 12).alias("es_key"),
    )
    top = (
        k.orderBy(F.desc("es_key"), F.asc("o_orderkey")).limit(50)
    )
    w = Window.orderBy(F.desc("es_key"), F.asc("o_orderkey"))
    return top.select(
        "o_orderkey",
        "weight",
        "es_key",
        F.row_number().over(w).cast("bigint").alias("sample_rank"),
    ).orderBy(F.desc("es_key"), F.asc("o_orderkey"))


# literal decay rate (half-life ~= 180 days): a LITERAL, never
# LN(2)/180 computed at runtime — a last-ulp libm difference in the
# rate would be amplified by day counts in the thousands before EXP
_DECAY_RATE = 0.003851


@query(
    "customer_decayed_value",
    f"""
    WITH mx AS (
        SELECT MAX(CAST(o_orderdate AS DATE)) AS ref FROM orders
    ),
    t AS (
        SELECT o.o_custkey,
               ROUND(o.o_totalprice * EXP(
                   -{_DECAY_RATE!r} * DATE_DIFF('day',
                        CAST(o.o_orderdate AS DATE), mx.ref)
               ), 6) AS dv,
               o.o_totalprice AS raw
        FROM orders o CROSS JOIN mx
    )
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(CAST(raw AS DECIMAL(30,10))) AS DOUBLE), 2)
               AS raw_value,
           ROUND(CAST(SUM(CAST(dv AS DECIMAL(30,12))) AS DOUBLE), 2)
               AS decayed_value
    FROM t
    GROUP BY o_custkey
    ORDER BY decayed_value DESC, o_custkey
    LIMIT 100
    """,
)
def customer_decayed_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed customer value — the recency-weighted
    LTV feature (half-life ≈ 180 days) every churn/ranking model
    prefers over the raw lifetime sum, and the one-pass closed form of
    what the grouped-EWMA recurrence computes sequentially: value =
    Σ wᵢ·exp(−λ·days_before_ref(i)), computed scan-side against a
    1-row broadcast horizon (the cohort-LTV convention) — no per-
    customer ordering, no recurrence, one keyed shuffle. The decay
    rate is a LITERAL (never LN(2)/180 at runtime — a last-ulp libm
    difference would be amplified by day counts in the thousands
    before EXP); each decayed term is rounded to 6 then DECIMAL-summed
    (order-free), final ranking on the rounded value with key
    tiebreak. Top-100 bounds the output."""
    orders = load_table(spark, sf_dir, "orders")
    mx = orders.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("ref")
    )
    t = orders.crossJoin(F.broadcast(mx)).select(
        "o_custkey",
        F.col("o_totalprice").alias("raw"),
        F.round(
            F.col("o_totalprice")
            * F.exp(
                -F.lit(_DECAY_RATE)
                * F.datediff(F.col("ref"), F.col("o_orderdate").cast("date"))
            ),
            6,
        ).alias("dv"),
    )
    return (
        t.groupBy("o_custkey")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.round(
                exact_sum(F.col("raw")), 2
            ).alias("raw_value"),
            F.round(
                exact_sum(F.col("dv"), precision=30, scale=12), 2
            ).alias("decayed_value"),
        )
        .orderBy(F.desc("decayed_value"), F.asc("o_custkey"))
        .limit(100)
    )
