"""Constraint-audit operator: planted violations flip exactly the
right checks; one aggregation pass serves every in-pass check."""

from __future__ import annotations

from pyspark.sql import functions as F

from technical_test_data_engineer_spark.operators.quality import (
    constraint_audit,
    referential_check,
)


def _report(df):
    return {r.check_name: (r.observed, r.passed) for r in df.collect()}


def test_constraint_audit_planted_violations(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (1, 5.0), (2, -3.0), (None, 7.0)],
        "k long, v double",
    )
    checks = [
        ("k_dup_rows", F.count("*") - F.countDistinct("k"), lambda o: o == 0),
        ("k_null_frac", F.sum(F.col("k").isNull().cast("long")) / F.count("*"),
         lambda o: o == 0),
        ("v_negative_rows", F.sum((F.col("v") < 0).cast("long")),
         lambda o: o == 0),
        ("v_max_le_100", F.max("v"), lambda o: o <= 100),
    ]
    got = _report(constraint_audit(df, checks))
    # countDistinct ignores NULL: 4 rows, distinct {1, 2} -> 2 dup rows
    assert got["k_dup_rows"] == (2.0, False)
    assert got["k_null_frac"] == (0.25, False)
    assert got["v_negative_rows"] == (1.0, False)
    assert got["v_max_le_100"] == (10.0, True)


def test_constraint_audit_single_scan(spark):
    df = spark.createDataFrame([(1, 1.0)], "k long, v double")
    checks = [
        ("a", F.count("*"), lambda o: o > 0),
        ("b", F.max("v"), lambda o: o < 2),
        ("c", F.countDistinct("k"), lambda o: o == 1),
    ]
    plan = (
        constraint_audit(df, checks)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # one logical source: no joins/unions of repeated scans
    assert "Join" not in plan and "Union" not in plan


def test_referential_check_orphans_and_null_keys(spark):
    facts = spark.createDataFrame(
        [(1,), (2,), (99,), (None,)], "fk long"
    )
    dim = spark.createDataFrame([(1,), (2,)], "pk long")
    got = _report(
        referential_check(
            "orphans", facts.filter(F.col("fk").isNotNull()), dim, "fk", "pk"
        )
    )
    assert got["orphans"] == (1.0, False)  # only 99; NULL excluded upstream
    clean = _report(
        referential_check(
            "orphans",
            facts.filter(F.col("fk").isin(1, 2)),
            dim, "fk", "pk",
        )
    )
    assert clean["orphans"] == (0.0, True)


def test_publish_if_clean_blocks_and_publishes(spark, tmp_path):
    import pytest

    from technical_test_data_engineer_spark.sources.atomic import (
        current_version,
        read_published,
    )
    from technical_test_data_engineer_spark.sources.maintenance import (
        publish_if_clean,
    )

    root = str(tmp_path / "pub")
    good = spark.createDataFrame([(1, 5.0), (2, 6.0)], "k long, v double")
    bad = spark.createDataFrame([(1, -5.0)], "k long, v double")

    def audit(df):
        return constraint_audit(
            df,
            [("v_nonneg", F.sum((F.col("v") < 0).cast("long")),
              lambda o: o == 0)],
        )

    v = publish_if_clean(root, {"t": good}, {"t": audit(good)})
    assert read_published(spark, root, "t").count() == 2

    with pytest.raises(ValueError, match="v_nonneg"):
        publish_if_clean(root, {"t": bad}, {"t": audit(bad)})
    # pointer untouched: readers still see the good snapshot
    assert current_version(root) == v
    assert read_published(spark, root, "t").count() == 2


def test_audited_publish_sink_gates_bad_microbatches(spark, tmp_path):
    """Streaming circuit breaker: a micro-batch violating its audit is
    rejected (recorded, snapshot pointer untouched); clean batches
    publish atomically."""
    import json as _json
    import os
    import time

    from technical_test_data_engineer_spark.sources.atomic import (
        read_published,
    )
    from technical_test_data_engineer_spark.streaming.sinks import (
        audited_publish_sink,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    root = str(tmp_path / "pub")

    def audit(df):
        return constraint_audit(
            df,
            [("v_nonneg", F.sum((F.col("v") < 0).cast("long")),
              lambda o: o == 0)],
        )

    def write_batch(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for k, v in rows:
                f.write(_json.dumps({"k": k, "v": v}) + "\n")

    write_batch("b0.json", [(1, 5.0), (2, 6.0)])
    sdf = spark.readStream.schema("k long, v double").json(src)
    rejected: list = []
    q = audited_publish_sink(
        sdf, root, "t", str(tmp_path / "ckpt"), audit,
        output_mode="append", trigger_available_now=True, rejected=rejected,
    )
    q.awaitTermination(60)
    assert read_published(spark, root, "t").count() == 2
    assert rejected == []

    write_batch("b1.json", [(3, -1.0)])   # violates v_nonneg
    q = audited_publish_sink(
        sdf, root, "t", str(tmp_path / "ckpt"), audit,
        output_mode="append", trigger_available_now=True, rejected=rejected,
    )
    q.awaitTermination(60)
    time.sleep(1)
    assert len(rejected) == 1 and "v_nonneg" in rejected[0][1]
    # readers still see the last good snapshot
    assert sorted(r.k for r in read_published(spark, root, "t").collect()) == [1, 2]
