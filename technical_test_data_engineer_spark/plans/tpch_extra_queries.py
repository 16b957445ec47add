"""The remaining TPC-H operator shapes (Q2/Q4/Q8/Q9/Q11/Q12/Q13/Q14/
Q15/Q16/Q20/Q21 — with tpch_queries.py this completes all 22),
adapted to the driver star schema — there is no ``partsupp`` table and
lineitem carries no receipt/commit dates, so each query keeps its
DISTINCTIVE plan shape (correlated scalar min, share-of-total, scalar
threshold vs group, outer-join distribution, argmax-vs-scalar,
grouped-HAVING semi join, double-correlated EXISTS/NOT EXISTS) over the
columns that exist.

Scale notes mirror tpch_queries.py: dims broadcast, fact joins shuffle
on their keys under AQE, aggregates are partial+final. The correlated
subqueries are all expressed as joins against small grouped sides —
Catalyst decorrelates the SQL forms the same way.
"""

from __future__ import annotations

from pyspark import StorageLevel
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
    "q2_min_cost_supplier",
    """
    WITH cost AS (
        SELECT l_partkey, l_suppkey,
               MIN(l_extendedprice / l_quantity) AS unit_cost
        FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT p_partkey, p_brand, s_name, s_acctbal,
           CAST(c.unit_cost AS DOUBLE) AS unit_cost
    FROM part p
    JOIN cost c ON p.p_partkey = c.l_partkey
    JOIN supplier s ON s.s_suppkey = c.l_suppkey
    WHERE p_size <= 3
      AND c.unit_cost = (SELECT MIN(c2.unit_cost) FROM cost c2
                          WHERE c2.l_partkey = p.p_partkey)
    ORDER BY s_acctbal DESC, p_partkey, s_name
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated scalar-min subquery — for each small
    part, the supplier(s) achieving the minimum observed unit price.
    The per-(part,supplier) cost table is the partsupp surrogate.

    r15 (guide §2.4 remove shuffles outright): the decorrelated
    grouped-min side + equality join-back (persisted cost → part-keyed
    min agg → part-keyed join: two extra exchanges of the cost table
    plus a cache) is the same relation as a part-partitioned window
    MIN over the cost aggregate with an in-row equality filter — one
    exchange, no persist, and lineitem is scanned exactly once. Ties
    (several suppliers at the min) survive both forms identically.
    Oracle unchanged."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 3)
    supplier = load_table(spark, sf_dir, "supplier")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    wmin = Window.partitionBy("l_partkey")
    return (
        cost.withColumn("_mc", F.min("unit_cost").over(wmin))
        .filter(F.col("unit_cost") == F.col("_mc"))
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .join(F.broadcast(supplier), F.col("l_suppkey") == supplier.s_suppkey)
        .select("p_partkey", "p_brand", "s_name", "s_acctbal", "unit_cost")
        .orderBy(F.desc("s_acctbal"), "p_partkey", "s_name")
    )


@query(
    "q8_market_share",
    f"""
    WITH rev AS (
        SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               n2.n_name AS supp_nation
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'EUROPE'
    )
    SELECT o_year,
           CAST({_decsum("CASE WHEN supp_nation = 'NATION_7' THEN volume ELSE 0 END")}
                / {_decsum('volume')} AS DOUBLE) AS mkt_share
    FROM rev
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: a nation's yearly share of a region's market —
    conditional-sum over total-sum per group, 7-table join with the
    whole dimension chain broadcast (only orders⋈lineitem shuffles)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    supplier = load_table(spark, sf_dir, "supplier")

    cust_dim = F.broadcast(
        customer.join(
            nation, customer.c_nationkey == nation.n_nationkey
        ).join(region, nation.n_regionkey == region.r_regionkey)
        .select("c_custkey")
    )
    supp_dim = F.broadcast(
        supplier.join(
            nation.select(
                F.col("n_nationkey").alias("_snk"), F.col("n_name").alias("supp_nation")
            ),
            supplier.s_nationkey == F.col("_snk"),
        ).select("s_suppkey", "supp_nation")
    )
    volume = dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    national = F.when(F.col("supp_nation") == "NATION_7", volume).otherwise(
        dec(F.lit(0))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_dim, orders.o_custkey == F.col("c_custkey"))
        .join(supp_dim, li.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (
                F.sum(national).cast("double") / F.sum(volume).cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query(
    "q9_product_profit",
    f"""
    SELECT supp_nation, o_year, {_decsum('profit')} AS total_profit
    FROM (
        SELECT n_name AS supp_nation,
               CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
               l_extendedprice * (1 - l_discount)
                   - 0.5 * p_retailprice * l_quantity AS profit
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%red%'
    )
    GROUP BY supp_nation, o_year
    ORDER BY supp_nation, o_year DESC
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per supplier-nation per year over a
    name-pattern part filter; supply cost proxied by 0.5×retailprice
    (no partsupp table). LIKE pushes to the part scan; part+supplier+
    nation broadcast; the mixed-direction sort is the Q9 signature."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    supp_dim = F.broadcast(
        supplier.join(
            nation, supplier.s_nationkey == nation.n_nationkey
        ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp_dim, li.l_suppkey == F.col("s_suppkey"))
        .groupBy(
            "supp_nation", F.year("o_orderdate").cast("int").alias("o_year")
        )
        .agg(exact_sum_expr(
            "l_extendedprice * (1 - l_discount) - 0.5 * p_retailprice * l_quantity",
            "total_profit",
        ))
        .orderBy("supp_nation", F.desc("o_year"))
    )


@query(
    "q11_important_parts",
    """
    WITH pv AS (
        SELECT l_partkey,
               SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10)))
                   AS value_dec
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_3'
        GROUP BY l_partkey
    )
    SELECT l_partkey, CAST(value_dec AS DOUBLE) AS part_value
    FROM pv
    WHERE CAST(value_dec AS DOUBLE) >
          (SELECT CAST(SUM(value_dec) AS DOUBLE) FROM pv) * 0.002
    ORDER BY part_value DESC, l_partkey
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part supplied value from one nation,
    HAVING value > fraction of the GLOBAL total — a group-by compared
    against a broadcast scalar subquery. Exact decimal sums on both
    sides make the threshold comparison engine-stable."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3"
    )
    supp = F.broadcast(
        supplier.join(nation, supplier.s_nationkey == nation.n_nationkey).select(
            "s_suppkey"
        )
    )
    # persist: pv feeds both the threshold rows and the global-total
    # scalar; one materialization of the per-part aggregate replaces a
    # second full lineitem scan
    pv = (
        li.join(supp, li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(
                dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("value_dec")
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    total = pv.agg(F.sum("value_dec").cast("double").alias("_total"))
    return (
        pv.crossJoin(F.broadcast(total))
        .filter(F.col("value_dec").cast("double") > F.col("_total") * 0.002)
        .select(
            "l_partkey", F.col("value_dec").cast("double").alias("part_value")
        )
        .orderBy(F.desc("part_value"), "l_partkey")
    )


@query(
    "q13_order_count_distribution",
    """
    WITH per_cust AS (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
                        AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM per_cust
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer order-count distribution via LEFT join
    with the filter INSIDE the join condition (customers with zero
    qualifying orders must appear as c_count=0), then a second
    aggregation over the counts — the double-aggregate signature."""
    customer = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        customer.join(
            orders, customer.c_custkey == orders.o_custkey, "left"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "q15_top_supplier",
    f"""
    WITH srev AS (
        SELECT l_suppkey,
               {_decsum('l_extendedprice * (1 - l_discount)')} AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_rev
    FROM supplier JOIN srev ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT MAX(total_rev) FROM srev)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: quarterly revenue per supplier, select the
    argmax via equality with a scalar MAX subquery (ties kept — the
    spec's semantics). Exact decimal revenue makes the equality safe."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    supplier = load_table(spark, sf_dir, "supplier")
    # persist: srev feeds both the argmax scalar and the equality
    # filter — one quarterly-revenue aggregate, not two lineitem scans
    srev = li.groupBy("l_suppkey").agg(
        exact_sum_expr("l_extendedprice * (1 - l_discount)", "total_rev")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    mx = srev.agg(F.max("total_rev").alias("_mx"))
    return (
        srev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("_mx"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
        .orderBy("s_suppkey")
    )


@query(
    "q20_volume_suppliers",
    """
    WITH pq AS (
        SELECT l_partkey, l_suppkey,
               SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)) AS sq
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    pt AS (SELECT l_partkey, SUM(sq) AS tq FROM pq GROUP BY l_partkey)
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
        SELECT l_suppkey FROM pq JOIN pt USING (l_partkey)
        WHERE CAST(sq AS DOUBLE) > 0.15 * CAST(tq AS DOUBLE)
    )
    ORDER BY s_suppkey
    """,
)
def q20_volume_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: semi join against a grouped-HAVING subquery —
    suppliers who shipped >15% of some part's total quantity (availqty
    surrogate; with ~26 suppliers per part in the fixture, 15% is a
    meaningful concentration and yields non-trivial rows at every SF).
    Two stacked aggregations reuse the first shuffle's partitioning on
    l_partkey."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    # persist: pq feeds both the per-part total and the share filter.
    # r14: quantities are integral in this schema, so the sums fold as
    # exact BIGINT units (bit-identical doubles at the share filter —
    # the price-index-grid proof); oracle mirrored in lockstep
    pq = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.round(F.col("l_quantity"), 0).cast("bigint")).alias("sq")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    pt = pq.groupBy("l_partkey").agg(F.sum("sq").alias("tq"))
    majority = (
        pq.join(pt, "l_partkey")
        .filter(F.col("sq").cast("double") > 0.15 * F.col("tq").cast("double"))
        .select("l_suppkey")
    )
    return (
        semi_join(supplier, majority, supplier.s_suppkey == majority.l_suppkey)
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@query(
    "q21_waiting_suppliers",
    """
    WITH l AS (
        SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F'
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM l l1
    JOIN supplier ON l1.l_suppkey = s_suppkey
    WHERE l1.l_shipdate > l1.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM l l2
                   WHERE l2.l_orderkey = l1.l_orderkey
                     AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM l l3
                       WHERE l3.l_orderkey = l1.l_orderkey
                         AND l3.l_suppkey <> l1.l_suppkey
                         AND l3.l_shipdate > l3.o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the double-correlated EXISTS / NOT EXISTS —
    suppliers whose late line (ship > order + 60d; no receipt dates in
    this schema) was the ONLY late line on a multi-supplier order.
    Expressed as semi + anti joins on (orderkey, other-supplier) pairs;
    both correlations reuse the same shuffled base relation."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    base = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey", "l_suppkey", "l_shipdate", "o_orderdate"
    )
    late = base.filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
    )
    l1 = late.alias("l1")
    l2 = base.select(
        F.col("l_orderkey").alias("_ok2"), F.col("l_suppkey").alias("_sk2")
    )
    l3 = late.select(
        F.col("l_orderkey").alias("_ok3"), F.col("l_suppkey").alias("_sk3")
    )
    with_other = semi_join(
        l1,
        l2,
        (F.col("l1.l_orderkey") == F.col("_ok2"))
        & (F.col("l1.l_suppkey") != F.col("_sk2")),
    )
    only_late = anti_join(
        with_other,
        l3,
        (F.col("l1.l_orderkey") == F.col("_ok3"))
        & (F.col("l1.l_suppkey") != F.col("_sk3")),
    )
    return (
        only_late.join(
            F.broadcast(supplier), F.col("l1.l_suppkey") == supplier.s_suppkey
        )
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )



@query(
    "q4_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= DATE '1996-01-01'
      AND o_orderdate < DATE '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                   WHERE l_orderkey = o_orderkey
                     AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: date-windowed order counts per priority, gated
    by a correlated EXISTS against the fact table — the classic
    semi-join-then-aggregate. Adapted: "commit date missed" becomes
    "a lineitem shipped more than 30 days after the order date" (the
    star schema carries no commit/receipt dates). The EXISTS is a
    left-semi join: lineitem never duplicates orders rows, so the
    count stays per-order; the quarter filter is parquet-pushable on
    the orders scan and the semi join shuffles only (orderkey, dates).
    Cites reference capability surface: SURVEY.md §2.3 (J-family) —
    the reference itself has no semi join; this is the engine-breadth
    extension the TPC-H battery proves."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    late = semi_join(
        orders,
        li,
        (li.l_orderkey == orders.o_orderkey)
        & (
            li.l_shipdate
            > orders.o_orderdate + F.expr("INTERVAL 30 DAY")
        ),
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q12_ship_class_priority",
    """
    SELECT l_returnflag AS ship_class,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= DATE '1997-01-01'
      AND l_shipdate < DATE '1998-01-01'
      AND l_shipdate > o_orderdate + INTERVAL 20 DAY
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q12_ship_class_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact-to-fact join + CONDITIONAL aggregation
    (priority split via CASE inside SUM) over a shipping-delay
    predicate. Adapted: l_returnflag stands in for l_shipmode and
    "shipped >20 days after order" for the receipt/commit lag. The
    year filter pushes to the lineitem scan; the join shuffles on
    orderkey with partial aggregation before the final group on the
    3-value flag."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 20 DAY")
        )
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


@query(
    "q14_promo_revenue",
    f"""
    SELECT 100.0 * {_decsum("CASE WHEN p_type = 'PROMO' "
                            "THEN l_extendedprice * (1 - l_discount) "
                            "ELSE 0 END")}
           / {_decsum('l_extendedprice * (1 - l_discount)')}
           AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= DATE '1997-09-01'
      AND l_shipdate < DATE '1997-10-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share for one ship month — a
    broadcast dim join feeding TWO conditional exact-decimal sums whose
    ratio is taken in double (same final-op-identical discipline as
    exact_avg, so both engines agree bit-for-bit). The month filter
    pushes to the fact scan; part broadcasts."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01"))
        & (F.col("l_shipdate") < F.lit("1997-10-01"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * exact_sum(promo)
                / exact_sum(rev)
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "q16_supplier_part_counts",
    """
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_size IN (1, 14, 23, 45)
      AND p_type <> 'PROMO'
      AND l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many DISTINCT suppliers can deliver each
    (brand, type, size) combo, excluding a complained-about supplier
    set via NOT IN — anti join + multi-attribute distinct aggregation.
    Adapted: the (part, supplier) relation comes from lineitem (no
    partsupp table) and negative account balance stands in for
    complaints. The excluded-supplier side is tiny and broadcast-anti;
    distinct-count shuffles once on the grouping key."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_size").isin(1, 14, 23, 45) & (F.col("p_type") != "PROMO")
    )
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        anti_join(li, bad, li.l_suppkey == bad.s_suppkey)
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )
