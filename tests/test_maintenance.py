"""Maintenance operators: merge/upsert semantics, snapshot diff
classification, compaction file counts — all through the atomic
publisher so each rewrite is crash-safe."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from technical_test_data_engineer_spark.sources.atomic import (
    current_version,
    publish_tables,
    read_published,
)
from technical_test_data_engineer_spark.sources.maintenance import (
    compact_table,
    merge_upsert,
    publish_upsert,
    snapshot_diff,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def test_merge_upsert_semantics(spark):
    base = _df(spark, [(1, "a"), (2, "b"), (3, "c")])
    updates = _df(spark, [(2, "B2"), (4, "d")])
    got = {r.k: r.v for r in merge_upsert(base, updates, ["k"]).collect()}
    assert got == {1: "a", 2: "B2", 3: "c", 4: "d"}


def test_snapshot_diff_classification(spark):
    old = _df(spark, [(1, "a"), (2, "b"), (3, "c")])
    new = _df(spark, [(2, "B2"), (3, "c"), (4, "d")])
    got = {r.k: r.change for r in snapshot_diff(old, new, ["k"]).collect()}
    # row 3 unchanged → absent
    assert got == {1: "removed", 2: "changed", 4: "added"}


def test_snapshot_diff_null_position_swap_is_a_change(spark):
    # xxhash64 skips NULL inputs, so without the null bitmap
    # (NULL,'x') → ('x',NULL) hashes identically and the change would
    # be silently dropped (round-2 advisor finding)
    schema = "k long, a string, b string"
    old = spark.createDataFrame([(1, None, "x"), (2, None, "y")], schema)
    new = spark.createDataFrame([(1, "x", None), (2, None, "y")], schema)
    got = {r.k: r.change for r in snapshot_diff(old, new, ["k"]).collect()}
    assert got == {1: "changed"}  # row 2 genuinely unchanged → absent


def test_publish_upsert_roundtrip_and_carry_forward(spark, tmp_path):
    root = str(tmp_path / "store")
    publish_tables(
        root,
        {
            "facts": _df(spark, [(1, "a"), (2, "b")]),
            "dims": _df(spark, [(10, "x")]),
        },
    )
    v = publish_upsert(
        spark, root, "facts", _df(spark, [(2, "B2"), (3, "c")]), ["k"]
    )
    assert current_version(root) == v == 2
    facts = {r.k: r.v for r in read_published(spark, root, "facts").collect()}
    assert facts == {1: "a", 2: "B2", 3: "c"}
    # untouched table carried into the new snapshot
    dims = {r.k: r.v for r in read_published(spark, root, "dims").collect()}
    assert dims == {10: "x"}


def test_compaction_reduces_files(spark, tmp_path):
    root = str(tmp_path / "store")
    many = spark.range(1000).select(
        F.col("id").alias("k"), F.col("id").cast("string").alias("v")
    ).repartition(16)
    publish_tables(root, {"facts": many})
    v1_files = [
        f
        for f in os.listdir(os.path.join(root, "_v1", "facts"))
        if f.endswith(".parquet")
    ]
    assert len(v1_files) == 16
    v = compact_table(spark, root, "facts", target_files=2)
    vdir = os.path.join(root, f"_v{v}", "facts")
    files = [f for f in os.listdir(vdir) if f.endswith(".parquet")]
    assert len(files) == 2
    # contents identical
    got = read_published(spark, root, "facts").count()
    assert got == 1000


def test_scd2_from_changelog_planted(spark):
    """Planted changelog: repeats collapse, NULL→value and value→NULL
    both open new versions, last interval is current."""
    from technical_test_data_engineer_spark.sources.maintenance import (
        scd2_from_changelog,
    )

    log = spark.createDataFrame(
        [
            (1, 10, "a"),
            (1, 20, "a"),      # repeat — collapses into v1
            (1, 30, None),     # a → NULL: new version
            (1, 40, None),     # repeat of NULL — collapses
            (1, 50, "b"),      # NULL → b: new version
            (2, 15, "x"),      # second key, single state
        ],
        "k long, t long, attr string",
    )
    out = scd2_from_changelog(
        log, key_cols=["k"], ts_col="t", attr_cols=["attr"]
    )
    rows = {
        (r.k, r.version): (r.attr, r.valid_from, r.valid_to, r.is_current)
        for r in out.collect()
    }
    assert rows == {
        (1, 1): ("a", 10, 30, False),
        (1, 2): (None, 30, 50, False),
        (1, 3): ("b", 50, None, True),
        (2, 1): ("x", 15, None, True),
    }


def test_scd2_single_shuffle(spark):
    """Both window passes must ride ONE hash exchange on the key —
    Catalyst reuses the partitioning/sort, so exactly one
    hashpartitioning Exchange appears in the physical plan."""
    from technical_test_data_engineer_spark.sources.maintenance import (
        scd2_from_changelog,
    )

    log = spark.createDataFrame([(1, 10, "a")], "k long, t long, attr string")
    plan = (
        scd2_from_changelog(log, ["k"], "t", ["attr"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("hashpartitioning") <= 1, plan


def test_apply_changelog_all_four_outcomes(spark):
    from technical_test_data_engineer_spark.sources.maintenance import (
        apply_changelog,
    )

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, val string"
    )
    # id=2 updated twice (seq 2 wins), id=3 deleted, id=4 inserted,
    # id=9 deleted-but-never-seen (no-op), id=1 untouched
    changes = spark.createDataFrame(
        [
            (2, "b1", 1, "U"),
            (2, "b2", 2, "U"),
            (3, None, 1, "D"),
            (4, "d", 1, "U"),
            (9, None, 1, "D"),
        ],
        "id long, val string, seq int, op string",
    )
    got = {
        r["id"]: r["val"]
        for r in apply_changelog(base, changes, ["id"], "seq").collect()
    }
    assert got == {1: "a", 2: "b2", 4: "d"}


def test_apply_changelog_delete_then_reinsert(spark):
    from technical_test_data_engineer_spark.sources.maintenance import (
        apply_changelog,
    )

    base = spark.createDataFrame([(1, "a")], "id long, val string")
    changes = spark.createDataFrame(
        [(1, None, 1, "D"), (1, "a2", 2, "U")],
        "id long, val string, seq int, op string",
    )
    got = apply_changelog(base, changes, ["id"], "seq").collect()
    assert [(r["id"], r["val"]) for r in got] == [(1, "a2")]


def test_apply_changelog_missing_columns_raise(spark):
    import pytest

    from technical_test_data_engineer_spark.sources.maintenance import (
        apply_changelog,
    )

    base = spark.createDataFrame([(1, "a")], "id long, val string")
    bad = spark.createDataFrame([(1, "a")], "id long, val string")
    with pytest.raises(ValueError, match="missing"):
        apply_changelog(base, bad, ["id"], "seq")


def test_merge_partial_aggs_equals_full_recompute(spark):
    from technical_test_data_engineer_spark.sources.maintenance import (
        merge_partial_aggs,
    )

    rows = [(i % 3, float(i)) for i in range(30)]
    full = spark.createDataFrame(rows, "k int, v double")

    def partial(df):
        return df.groupBy("k").agg(
            F.count("*").alias("n"),
            F.sum(F.col("v").cast("decimal(30,10)")).alias("s"),
        )

    snap = partial(full.filter(F.col("v") < 20))
    delta = partial(full.filter(F.col("v") >= 20))
    merged = merge_partial_aggs(snap, delta, ["k"], ["n", "s"])
    got = {r["k"]: (r["n"], float(r["s"])) for r in merged.collect()}
    want = {r["k"]: (r["n"], float(r["s"])) for r in partial(full).collect()}
    assert got == want


def test_merge_partial_aggs_key_only_in_one_side(spark):
    from technical_test_data_engineer_spark.sources.maintenance import (
        merge_partial_aggs,
    )

    snap = spark.createDataFrame([(1, 10)], "k int, n long")
    delta = spark.createDataFrame([(2, 5)], "k int, n long")
    got = {
        r["k"]: r["n"]
        for r in merge_partial_aggs(snap, delta, ["k"], ["n"]).collect()
    }
    assert got == {1: 10, 2: 5}


def test_forget_keys_scrubs_all_tables_atomically(spark, tmp_path):
    from technical_test_data_engineer_spark.sources.atomic import (
        publish_tables,
        read_published,
    )
    from technical_test_data_engineer_spark.sources.maintenance import (
        forget_keys,
    )

    root = str(tmp_path / "store")
    users = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "uid long, name string"
    )
    orders = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 2), (13, 3)], "oid long, uid long"
    )
    publish_tables(root, {"users": users, "orders": orders})

    keys = spark.createDataFrame([(2,)], "key long")
    v = forget_keys(spark, root, {"users": "uid", "orders": "uid"}, keys)
    assert v == 2

    got_u = sorted(r["uid"] for r in read_published(spark, root, "users").collect())
    got_o = sorted(r["uid"] for r in read_published(spark, root, "orders").collect())
    assert got_u == [1, 3]
    assert got_o == [1, 3]  # every order referencing uid=2 is gone


def test_expire_snapshots_keeps_current_and_n(spark, tmp_path):
    from technical_test_data_engineer_spark.sources.atomic import (
        publish_tables,
        read_published,
    )
    from technical_test_data_engineer_spark.sources.maintenance import (
        expire_snapshots,
    )
    import os

    root = str(tmp_path / "store")
    for i in range(4):
        df = spark.createDataFrame([(i,)], "v long")
        publish_tables(root, {"t": df})
    dropped = expire_snapshots(root, keep_last=2)
    assert dropped == [1, 2]
    assert sorted(
        d for d in os.listdir(root) if d.startswith("_v")
    ) == ["_v3", "_v4"]
    # current snapshot still readable
    assert read_published(spark, root, "t").collect()[0]["v"] == 3

    # keep_last larger than history: no-op
    assert expire_snapshots(root, keep_last=10) == []


def test_forget_keys_carries_forward_unlisted_tables(spark, tmp_path):
    from technical_test_data_engineer_spark.sources.atomic import (
        publish_tables,
        read_published,
    )
    from technical_test_data_engineer_spark.sources.maintenance import (
        forget_keys,
    )

    root = str(tmp_path / "store")
    users = spark.createDataFrame([(1, "a"), (2, "b")], "uid long, name string")
    events = spark.createDataFrame([(100, "x")], "eid long, tag string")
    publish_tables(root, {"users": users, "events": events})

    keys = spark.createDataFrame([(2,)], "key long")
    forget_keys(spark, root, {"users": "uid"}, keys)
    # the unlisted table must still exist in the new current snapshot
    assert read_published(spark, root, "events").count() == 1
    assert sorted(
        r["uid"] for r in read_published(spark, root, "users").collect()
    ) == [1]


def test_forget_keys_on_unpublished_root_raises_labelled(spark, tmp_path):
    from technical_test_data_engineer_spark.sources.maintenance import (
        forget_keys,
    )

    keys = spark.createDataFrame([(2,)], "key long")
    with pytest.raises(FileNotFoundError, match="no committed snapshot"):
        forget_keys(spark, str(tmp_path / "store"), {"users": "uid"}, keys)
