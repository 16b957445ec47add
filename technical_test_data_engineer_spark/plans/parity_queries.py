"""Reference-pipeline parity compositions (SURVEY.md §3, §7 Phase 2).

The reference's two big call chains — E2 ``prep_data``
(/root/reference/tasks/visualization/src/visualization.py:29-62) and the
E3 plot-1 interactive query (visualization.py:100-113) — re-expressed as
single lazy Catalyst plans over the star schema. The star schema has no
dirty dates, so the E2 pipeline first DIRTIES deterministically (null
bounds on keys ≡ 0 mod 17/23, a '1995'→'0095' year typo mirroring the
reference's '0023' defect) and then runs the exact repair chain the
reference runs: null-fill (P5) → literal replace (F1) → to_date (F2) →
dim join (J1) → inclusive duration (F3). The oracle reproduces the
dirtying AND the repair, so the whole round trip is hash-checked.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from technical_test_data_engineer_spark.functions.scalars import (
    inclusive_duration_days,
    parse_iso_date,
    repair_year_typo,
)
from technical_test_data_engineer_spark.operators.relational import (
    fill_interval_nulls,
    point_in_interval,
)
from technical_test_data_engineer_spark.operators.windows import top1_per_group
from technical_test_data_engineer_spark.plans.star_queries import query
from technical_test_data_engineer_spark.sources.parquet_source import load_table


def _dirty_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders as 'arretes': validity interval [o_orderdate,
    o_orderdate + o_orderkey%90 days] rendered to ISO strings, with
    deterministic defects (nulls + year typo) for the repair chain."""
    orders = load_table(spark, sf_dir, "orders")
    debut = F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd")
    fin = F.date_format(
        F.date_add(F.col("o_orderdate").cast("date"), (F.col("o_orderkey") % 90).cast("int")),
        "yyyy-MM-dd",
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 17 == 0, F.lit(None)).otherwise(debut).alias("debut_str"),
        F.when(F.col("o_orderkey") % 23 == 0, F.lit(None))
        .otherwise(F.replace(fin, F.lit("1995"), F.lit("0095")))
        .alias("fin_str"),
    )


@query(
    "prep_orders_pipeline",
    """
    WITH dirty AS (
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 17 = 0 THEN NULL
                    ELSE CAST(CAST(o_orderdate AS DATE) AS VARCHAR) END
                   AS debut_str,
               CASE WHEN o_orderkey % 23 = 0 THEN NULL
                    ELSE replace(CAST(CAST(o_orderdate AS DATE)
                             + CAST(o_orderkey % 90 AS INTEGER) AS VARCHAR),
                         '1995', '0095') END
                   AS fin_str
        FROM orders
    ),
    repaired AS (
        SELECT o_orderkey, o_custkey,
               CAST(COALESCE(debut_str, '1900-01-01') AS DATE) AS debut,
               CAST(replace(COALESCE(fin_str, '2024-12-31'), '0095', '1995')
                    AS DATE) AS fin
        FROM dirty
    )
    SELECT r.o_orderkey, c.c_nationkey, c.c_mktsegment, r.debut, r.fin,
           CAST(DATEDIFF('day', r.debut, r.fin) + 1 AS BIGINT)
               AS duration_days
    FROM repaired r
    JOIN customer c ON r.o_custkey = c.c_custkey
    ORDER BY r.o_orderkey
    """,
)
def prep_orders_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 ``prep_data`` parity: dirty → null-fill → typo repair →
    date parse → dim join → inclusive duration, one lazy plan."""
    dirty = _dirty_orders(spark, sf_dir)
    repaired = fill_interval_nulls(dirty, "debut_str", "fin_str").select(
        "o_orderkey",
        "o_custkey",
        parse_iso_date("debut_str").alias("debut"),
        parse_iso_date(repair_year_typo("fin_str", "0095", "1995")).alias("fin"),
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    joined = repaired.join(
        F.broadcast(customer), repaired.o_custkey == customer.c_custkey, "inner"
    )
    return joined.select(
        "o_orderkey",
        "c_nationkey",
        "c_mktsegment",
        "debut",
        "fin",
        inclusive_duration_days("debut", "fin").cast("bigint").alias("duration_days"),
    ).orderBy("o_orderkey")


@query(
    "active_priority_histogram",
    """
    WITH intervals AS (
        SELECT o_orderkey, o_custkey, o_orderpriority,
               CAST(o_orderdate AS DATE) AS debut,
               CAST(o_orderdate AS DATE) + CAST(o_orderkey % 90 AS INTEGER)
                   AS fin
        FROM orders
    ),
    active AS (
        SELECT * FROM intervals
        WHERE debut <= DATE '1997-06-15' AND DATE '1997-06-15' <= fin
    ),
    top1 AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY o_custkey
            ORDER BY o_orderpriority ASC, o_orderkey DESC
        ) AS rn
        FROM active
    )
    SELECT o_orderpriority, COUNT(*) AS nb_customers
    FROM top1 WHERE rn = 1
    GROUP BY o_orderpriority
    ORDER BY nb_customers DESC, o_orderpriority
    """,
)
def active_priority_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 plot-1 parity (visualization.py:100-113): interval filter (P2)
    → deterministic top-1-per-group (W1: most urgent priority per
    customer, priority strings sort '1-URGENT' < … < '5-LOW' so ASC =
    most urgent first; tiebreak latest orderkey) → group count (A1) →
    sort desc (O1)."""
    orders = load_table(spark, sf_dir, "orders")
    intervals = orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        F.col("o_orderdate").cast("date").alias("debut"),
        F.date_add(
            F.col("o_orderdate").cast("date"), (F.col("o_orderkey") % 90).cast("int")
        ).alias("fin"),
    )
    active = point_in_interval(intervals, dt.date(1997, 6, 15))
    top1 = top1_per_group(
        active,
        ["o_custkey"],
        [F.asc("o_orderpriority"), F.desc("o_orderkey")],
    )
    return (
        top1.groupBy("o_orderpriority")
        .agg(F.count("*").alias("nb_customers"))
        .orderBy(F.desc("nb_customers"), "o_orderpriority")
    )


def _legend_colors_oracle() -> str:
    from technical_test_data_engineer_spark.functions.colormap import (
        viridis_hex_sql,
    )

    return f"""
    WITH lvl AS (
        SELECT DISTINCT o_orderpriority AS priority,
               CAST(SUBSTRING(o_orderpriority, 1, 1) AS INTEGER) AS numero
        FROM orders
    ),
    b AS (SELECT MIN(numero) AS lo, MAX(numero) AS hi FROM lvl),
    n AS (
        SELECT priority, numero,
               CASE WHEN hi = lo THEN 0.0
                    ELSE LEAST(GREATEST(
                        (CAST(numero AS DOUBLE) - lo) / (hi - lo), 0.0), 1.0)
               END AS t
        FROM lvl CROSS JOIN b
    )
    SELECT priority, numero, {viridis_hex_sql('t')} AS color
    FROM n ORDER BY numero
    """


@query("priority_legend_colors", _legend_colors_oracle())
def priority_legend_colors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5/F6 as ENGINE columns — the reference's legend coloring
    (``cmap(norm(numero_niveau))``, visualization.py:51) re-expressed
    as whole-stage-codegen JVM expressions: min-max normalization over
    the level domain + piecewise-linear viridis → '#RRGGBBAA'. The
    oracle recomputes the normalization AND the color lerp from the
    same anchor table (functions/colormap.viridis_hex_sql), so the hex
    strings themselves are value-checked. Plan shape: ONE scan →
    distinct legend levels → unpartitioned window min/max over the
    distinct frame (bounded at ≤ #levels rows by construction — the
    usual single-partition-window hazard needs unbounded input) →
    scan-side color expression."""
    from pyspark.sql.window import Window

    from technical_test_data_engineer_spark.functions.colormap import (
        minmax_normalize,
        viridis_hex,
    )

    orders = load_table(spark, sf_dir, "orders")
    lvl = (
        orders.select(F.col("o_orderpriority").alias("priority"))
        .distinct()
        .withColumn("numero", F.substring("priority", 1, 1).cast("int"))
    )
    w = Window.partitionBy()
    t = minmax_normalize(
        F.col("numero"),
        F.min("numero").over(w),
        F.max("numero").over(w),
    )
    return lvl.select(
        "priority", "numero", viridis_hex(t).alias("color")
    ).orderBy("numero")
