"""Scale-hygiene operators: salted skew joins (same result, bounded
per-key task size), bucketed co-located joins (no exchange in the
plan) and the sorted Python stage (``orderBy``'s row sequence)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from technical_test_data_engineer_spark.operators.partitioning import (
    fan_out,
    ordered_python_stage,
    salted_join,
)
from technical_test_data_engineer_spark.sources.parquet_source import (
    load_table,
    write_bucketed_table,
)


def test_fan_out_only_when_undersplit(spark, sf_dir):
    one = spark.range(100).coalesce(1)
    assert fan_out(one).rdd.getNumPartitions() > 1
    many = spark.range(100).repartition(64)
    assert fan_out(many).rdd.getNumPartitions() == 64


@pytest.mark.parametrize("range_first", [True, False], ids=["range_first", "after"])
def test_ordered_python_stage_keeps_orderby_sequence(spark, range_first):
    """``ordered_python_stage`` returns ``orderBy``'s row sequence through
    a row-wise ``pandas_udf`` and through ``applyInPandas``, on keys that
    break a partition-local sort: NULL leading keys, one key with 40% of
    the rows (more than a partition's share of 4), and 42 distinct keys
    (more than the 4 shuffle partitions). Coalescing is off so the
    shuffles keep their 4 partitions; the control shows that sorting
    within hash partitions does not give the sequence on this input."""

    @pandas_udf("double")
    def _halve(v: pd.Series) -> pd.Series:
        return v / 2

    def _cumsum(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id")
        return pdf.assign(v=pdf["v"].cumsum())

    df = spark.range(0, 240, 1, 3).select(
        F.when(F.col("id") % 7 == 0, F.lit(None))
        .when(F.col("id") % 5 < 2, F.lit(5))
        .otherwise(F.col("id") % 41)
        .cast("long")
        .alias("k"),
        "id",
        (F.col("id") * 3 % 17).cast("double").alias("v"),
    )
    stages = {
        "pandas_udf": lambda d: d.select("k", "id", _halve("v").alias("v")),
        "applyInPandas": lambda d: d.groupBy("k").applyInPandas(
            _cumsum, "k long, id long, v double"
        ),
    }
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        for name, stage in stages.items():
            want = stage(df).orderBy("k", "id").collect()
            got = ordered_python_stage(df, stage, ["k", "id"], range_first).collect()
            assert got == want, name
            hashed = stage(df.repartition("k")).sortWithinPartitions("k", "id")
            assert hashed.collect() != want, name
    finally:
        spark.conf.set(key, prev)


def test_salted_join_matches_plain_join(spark, sf_dir):
    """Skewed fact (every lineitem of one hot order replicated onto one
    key) salted-joined to a dim must equal the plain join."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    # manufacture skew: map 90% of keys to key 1
    skewed = li.withColumn(
        "l_orderkey",
        F.when(F.col("l_orderkey") % 10 != 0, F.lit(1)).otherwise(
            F.col("l_orderkey")
        ),
    )
    dim = (
        skewed.select("l_orderkey").distinct().withColumn("tag", F.col("l_orderkey") * 2)
    )
    plain = skewed.join(dim, "l_orderkey").agg(
        F.count("*").alias("n"), F.sum("tag").alias("s")
    ).collect()[0]
    salted = salted_join(skewed, dim, "l_orderkey", n_salts=8).agg(
        F.count("*").alias("n"), F.sum("tag").alias("s")
    ).collect()[0]
    assert (plain["n"], plain["s"]) == (salted["n"], salted["s"])


def test_salted_left_join_keeps_unmatched(spark):
    big = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    small = spark.createDataFrame([(1, "x")], "k long, w string")
    out = salted_join(big, small, "k", n_salts=4, how="left").collect()
    got = {(r["k"], r["w"]) for r in out}
    assert got == {(1, "x"), (2, None)}


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Both sides bucketed on the join key → sort-merge join with zero
    Exchange operators in the plan (the pre-paid-shuffle contract)."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed_table(orders, "b_orders", ["o_orderkey"], n_buckets=4)
    write_bucketed_table(li, "b_lineitem", ["l_orderkey"], n_buckets=4)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # force a sort-merge join (broadcast would sidestep bucketing — on a
    # real 100 TB fact⋈fact neither side broadcasts)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bo = spark.table("b_orders")
        bl = spark.table("b_lineitem")
        joined = bo.join(bl, bo.o_orderkey == bl.l_orderkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_dynamic_partition_pruning_engages(spark, sf_dir, tmp_path):
    """Join against a partitioned fact on its partition column must
    inject a dynamic-partition-pruning subquery: only the partitions
    whose keys survive the dimension filter are scanned — at 100 TB
    this is the difference between reading one year and reading the
    table. Asserted on the physical plan's partition filters."""
    from technical_test_data_engineer_spark.sources.parquet_source import (
        load_table,
    )

    path = str(tmp_path / "orders_by_year")
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    orders.write.partitionBy("o_year").parquet(path)

    fact = spark.read.parquet(path)
    # DPP inserts the pruning subquery only when the build side carries
    # a selective filter it can reuse — an unfiltered dim never prunes
    dim = spark.createDataFrame(
        [(y, "pick" if y == 1996 else "skip") for y in range(1995, 2002)],
        "o_year int, tag string",
    ).filter(F.col("tag") == "pick")
    joined = fact.join(dim, "o_year").select("o_orderkey", "tag")
    plan = joined._sc._jvm.PythonSQLUtils.explainString(
        joined._jdf.queryExecution(), "formatted"
    )
    assert "dynamicpruning" in plan.lower(), plan
    # and the result is the pruned year only
    got_years = {
        r["y"]
        for r in fact.join(dim, "o_year")
        .select(F.col("o_year").alias("y"))
        .distinct()
        .collect()
    }
    assert got_years == {1996}


def test_bucketed_write_emits_one_file_per_bucket(spark, sf_dir):
    """The r12 layout contract: write_bucketed_table pre-repartitions
    onto the bucket keys (repartition's HashPartitioning == bucketBy's
    Murmur3-pmod assignment), so a write emits exactly n_buckets files
    — not input-partitions × buckets small files — and with
    partition_cols, exactly n_buckets files under EACH partition dir."""
    import glob
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    for t in ("one_per_bucket", "one_per_bucket_part"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)

    df = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .repartition(16)  # many input partitions on purpose
    )
    write_bucketed_table(df, "one_per_bucket", ["o_orderkey"], n_buckets=4)
    files = glob.glob(f"{warehouse}/one_per_bucket/part-*")
    assert len(files) == 4, sorted(files)

    stamped = df.withColumn("_b", (F.col("o_orderkey") % 2).cast("bigint"))
    write_bucketed_table(
        stamped,
        "one_per_bucket_part",
        ["o_orderkey"],
        n_buckets=4,
        partition_cols=["_b"],
    )
    for part in ("_b=0", "_b=1"):
        files = glob.glob(f"{warehouse}/one_per_bucket_part/{part}/part-*")
        assert len(files) == 4, (part, sorted(files))
    # round-trips: partitioned + bucketed table reads back complete
    assert spark.table("one_per_bucket_part").count() == df.count()

    for t in ("one_per_bucket", "one_per_bucket_part"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
