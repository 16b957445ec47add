"""Multi-join / aggregate coverage queries (SURVEY.md §2.3-§2.6) in
TPC-H shapes over the driver star schema.

Scale notes: dimension chains (region⋈nation⋈customer) broadcast; the
fact-side joins (orders⋈lineitem) are shuffle hash/sort-merge on the
key with AQE skew handling; aggregates are partial+final hash aggs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from technical_test_data_engineer_spark.functions.scalars import (
    dec,
    exact_sum,
    exact_sum_expr,
)
from technical_test_data_engineer_spark.operators.joins import anti_join, semi_join
from technical_test_data_engineer_spark.plans.star_queries import _decsum, query
from technical_test_data_engineer_spark.sources.parquet_source import load_table


@query(
    "q3_shipping_priority",
    f"""
    SELECT l_orderkey,
           {_decsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join → grouped revenue → deterministic
    top-10 (TakeOrderedAndProject — no full sort at scale)."""
    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-01-01 00:00:00").cast("timestamp")
    )
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(exact_sum_expr("l_extendedprice * (1 - l_discount)", "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_region_revenue",
    f"""
    SELECT n_name,
           {_decsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM region
    JOIN nation ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE r_name = 'EUROPE'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way star join. The dim chain
    region→nation→customer is broadcast; only orders⋈lineitem shuffles."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    dims = F.broadcast(
        region.join(nation, nation.n_regionkey == region.r_regionkey)
        .join(customer, customer.c_nationkey == nation.n_nationkey)
        .select("n_name", "c_custkey")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(dims, orders.o_custkey == dims.c_custkey)
        .groupBy("n_name")
        .agg(exact_sum_expr("l_extendedprice * (1 - l_discount)", "revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


@query(
    "global_minmax_orders",
    """
    SELECT MIN(o_orderdate) AS min_orderdate,
           MAX(o_orderdate) AS max_orderdate,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price,
           COUNT(*) AS n_orders
    FROM orders
    """,
)
def global_minmax_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — global MIN/MAX bounds (slider bounds,
    visualization.py:237-238). Min/max are order-independent, so raw
    doubles are safe here (no summation)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        F.min("o_orderdate").alias("min_orderdate"),
        F.max("o_orderdate").alias("max_orderdate"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.count("*").alias("n_orders"),
    )


@query(
    "distinct_mktsegments",
    "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment",
)
def distinct_mktsegments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — DISTINCT column values, sorted (UI selector source,
    visualization.py:136/:255)."""
    customer = load_table(spark, sf_dir, "customer")
    return customer.select("c_mktsegment").distinct().orderBy("c_mktsegment")


@query(
    "rollup_acctbal",
    f"""
    SELECT r_name, n_name,
           {_decsum('c_acctbal')} AS total_acctbal,
           COUNT(*) AS nb_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
    """,
)
def rollup_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (engine surface beyond the reference,
    SURVEY.md §2.4 'free extras'): per-nation, per-region subtotal,
    grand total in one pass."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            exact_sum("c_acctbal", "total_acctbal"),
            F.count("*").alias("nb_customers"),
        )
        .orderBy(F.asc_nulls_first("r_name"), F.asc_nulls_first("n_name"))
    )


@query(
    "customers_without_orders",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'
    )
    ORDER BY c_custkey
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join — the rows an inner join silently drops (the orphan
    keys SURVEY.md §2.3 notes the reference cannot express). The anti
    side is the 1995 order book, NOT all orders: on this fixture every
    customer has SOME order, so the unfiltered version returned 0 rows
    and the driver check passed vacuously (empty == empty — the round-3
    finding-3 class; caught in round 4's vanilla-session sweep). With
    the year filter the result is 326 customers at sf0.01 and the
    anti-join machinery is value-checked on real output. The filter is
    pushed below the join (scan-side) — same plan family either way."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1995-01-01", "1995-12-31")
    ).select(F.col("o_custkey").alias("c_custkey"))
    return (
        anti_join(customer, orders, "c_custkey")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "suppliers_with_shipments",
    """
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_suppkey = s_suppkey
          AND l_quantity = 50 AND l_returnflag = 'R'
          AND l_shipdate >= DATE '1998-01-01'
    )
    ORDER BY s_suppkey
    """,
)
def suppliers_with_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join — EXISTS without row duplication. The EXISTS side is
    restricted (recent max-quantity returned shipments) so the semi
    join demonstrably FILTERS: unrestricted, every supplier on this
    fixture has shipments and the check passed trivially
    (result == input, the round-4 zero-row-sweep class); restricted,
    87 of 100 suppliers survive at sf0.01 — kept and dropped rows
    both exist. Predicates are scan-side (pushed below the join)."""
    supplier = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") == 50)
        & (F.col("l_returnflag") == "R")
        & (F.col("l_shipdate") >= "1998-01-01")
    ).select(F.col("l_suppkey").alias("s_suppkey"))
    return (
        semi_join(supplier, li, "s_suppkey")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@query(
    "part_slug_filter",
    """
    SELECT p_partkey,
           REPLACE(p_name, ' ', '_') AS slug,
           UPPER(p_brand) AS brand_uc,
           p_retailprice
    FROM part
    WHERE p_size BETWEEN 10 AND 25
    ORDER BY p_partkey
    """,
)
def part_slug_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-shape literal replace + string functions + range predicate
    (the repair pattern of visualization.py:44 generalized)."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_size").between(10, 25))
        .select(
            "p_partkey",
            F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("slug"),
            F.upper("p_brand").alias("brand_uc"),
            "p_retailprice",
        )
        .orderBy("p_partkey")
    )


@query(
    "q7_nation_volume",
    f"""
    SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
           CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS ship_year,
           {_decsum('l_extendedprice * (1 - l_discount)')} AS volume
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE n1.n_name <> n2.n_name
      AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1998-01-01'
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q7 shape: cross-nation shipping volume by year — a 6-table
    join where every dimension chain broadcasts and only the fact
    tables shuffle; year extraction as a grouping key."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("cust_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n2), supp.s_nationkey == F.col("n2_key"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
    )
    return (
        joined.groupBy(
            "cust_nation",
            "supp_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(exact_sum_expr("l_extendedprice * (1 - l_discount)", "volume"))
        .orderBy("cust_nation", "supp_nation", "ship_year")
    )


@query(
    "q10_returned_items",
    f"""
    SELECT c_custkey, c_name, n_name,
           {_decsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-07-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q10 shape: revenue lost to returns per customer, top-20 —
    TakeOrderedAndProject caps the sort at k rows per partition."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-07-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(exact_sum_expr("l_extendedprice * (1 - l_discount)", "revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "q18_large_orders",
    f"""
    SELECT o_orderkey, o_custkey, o_orderdate,
           {_decsum('l_quantity')} AS total_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderkey, o_custkey, o_orderdate
    HAVING SUM(CAST(l_quantity AS DECIMAL(30,10))) > 140
    ORDER BY total_qty DESC, o_orderkey
    LIMIT 50
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q18 shape: HAVING over a grouped sum (post-aggregation
    filter), top-50 largest orders."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    qty = F.sum(dec(F.col("l_quantity")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_custkey", "o_orderdate")
        .agg(qty.cast("double").alias("total_qty"), qty.alias("_q"))
        .filter(F.col("_q") > 140)
        .drop("_q")
        .orderBy(F.desc("total_qty"), "o_orderkey")
        .limit(50)
    )


@query(
    "q6_forecast_revenue",
    f"""
    SELECT {_decsum('l_extendedprice * l_discount')} AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q6 shape: pure filtered global aggregate — every predicate
    parquet-pushable (date range, numeric range, bound), zero joins."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        exact_sum_expr("l_extendedprice * l_discount", "revenue"),
        F.count("*").alias("n_lines"),
    )


@query(
    "q17_small_quantity_revenue",
    f"""
    SELECT {_decsum('l_extendedprice')} AS total_price, COUNT(*) AS n_lines
    FROM lineitem l
    JOIN (
        SELECT l_partkey AS pk,
               0.5 * (SUM(CAST(l_quantity AS DECIMAL(30,10))) / COUNT(*))
                   AS half_avg_qty
        FROM lineitem GROUP BY l_partkey
    ) a ON l.l_partkey = a.pk
    WHERE CAST(l.l_quantity AS DECIMAL(30,10)) < half_avg_qty
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q17 shape: correlated scalar subquery (per-part average)
    decorrelated into a grouped aggregate + self-join — the standard
    rewrite; the per-part avg side is small and broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    avg_qty = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            F.lit(0.5)
            * (F.sum(dec(F.col("l_quantity"))) / F.count("*"))
        ).alias("half_avg_qty")
    )
    joined = li.join(F.broadcast(avg_qty), li.l_partkey == avg_qty.pk).filter(
        dec("l_quantity") < F.col("half_avg_qty")
    )
    return joined.agg(
        exact_sum("l_extendedprice", "total_price"),
        F.count("*").alias("n_lines"),
    )


@query(
    "q19_disjunctive_predicates",
    f"""
    SELECT {_decsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 21)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 40)
    """,
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q19 shape: OR-of-ANDs spanning both join sides — Catalyst
    extracts the common single-side conjuncts (brand/size, quantity
    envelopes) below the join; the residual disjunction evaluates on
    joined rows."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")

    def arm(brand, s_lo, s_hi, q_lo, q_hi):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(s_lo, s_hi)
            & F.col("l_quantity").between(q_lo, q_hi)
        )

    cond = (
        arm("Brand#1", 1, 15, 1, 21)
        | arm("Brand#2", 10, 30, 10, 30)
        | arm("Brand#3", 20, 50, 20, 40)
    )
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).filter(cond)
    return joined.agg(
        exact_sum_expr("l_extendedprice * (1 - l_discount)", "revenue"),
        F.count("*").alias("n_lines"),
    )


@query(
    "q22_idle_rich_customers",
    f"""
    WITH avg_bal AS (
        SELECT (SUM(CAST(c_acctbal AS DECIMAL(30,10))) / COUNT(*)) AS a
        FROM customer WHERE c_acctbal > 0
    )
    SELECT RIGHT(c_name, 2) AS key_suffix,
           COUNT(*) AS n_customers,
           {_decsum('c_acctbal')} AS total_bal
    FROM customer, avg_bal
    WHERE CAST(c_acctbal AS DECIMAL(30,10)) > a
      AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey
            AND o_orderdate >= DATE '1998-01-01'
      )
    GROUP BY 1
    ORDER BY 1
    """,
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q22 shape: scalar subquery (global positive-balance
    average, crossJoin-broadcast as a literal-like column) + NOT EXISTS
    (no recent orders) as LEFT ANTI join + string-suffix grouping."""
    cust = load_table(spark, sf_dir, "customer")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1998-01-01"))
        .select("o_custkey")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(dec(F.col("c_acctbal"))) / F.count("*")
        ).alias("a")
    )
    rich = (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(dec("c_acctbal") > F.col("a"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
    )
    return (
        rich.groupBy(F.expr("right(c_name, 2)").alias("key_suffix"))
        .agg(
            F.count("*").alias("n_customers"),
            exact_sum("c_acctbal", "total_bal"),
        )
        .orderBy("key_suffix")
    )
