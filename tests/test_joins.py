"""Join surface: J1/J2 reference parity + semi/anti/range/as-of
extensions."""

from __future__ import annotations

from pyspark.sql import functions as F

from technical_test_data_engineer_spark.operators import joins as J


def test_inner_join_drops_orphans(spark):
    zones = spark.createDataFrame([(1, "a"), (2, "b")], "id_zone long, nom string")
    arretes = spark.createDataFrame([(1, 3), (9, 1)], "id_zone long, niveau int")
    out = J.inner_equi_join(arretes, zones, "id_zone")
    assert [r.id_zone for r in out.collect()] == [1]


def test_semi_anti(spark):
    facts = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    dim = spark.createDataFrame([(1,), (3,)], "k long")
    assert sorted(r.k for r in J.semi_join(facts, dim, "k").collect()) == [1, 3]
    assert [r.k for r in J.anti_join(facts, dim, "k").collect()] == [2]


def test_range_join(spark):
    points = spark.createDataFrame([(1, 5), (2, 11)], "pid int, x int")
    intervals = spark.createDataFrame([(10, 0, 9), (20, 10, 19)],
                                      "iid int, lo int, hi int")
    out = J.range_join(points, intervals, "x", "lo", "hi")
    got = {(r.pid, r.iid) for r in out.collect()}
    assert got == {(1, 10), (2, 20)}


def test_asof_join_backward(spark):
    trades = spark.createDataFrame(
        [("A", 3, 100.0), ("A", 7, 101.0), ("B", 2, 50.0)],
        "sym string, t int, px double",
    )
    quotes = spark.createDataFrame(
        [("A", 1, 99.0), ("A", 5, 100.5), ("A", 8, 102.0), ("B", 4, 51.0)],
        "sym string, t int, bid double",
    )
    out = J.asof_join(trades, quotes, on="sym", left_ts="t", right_ts="t")
    got = {(r.sym, r.t): r.bid for r in out.collect()}
    # A@3 sees quote@1; A@7 sees quote@5; B@2 has no earlier quote
    assert got == {("A", 3): 99.0, ("A", 7): 100.5, ("B", 2): None}


def test_asof_join_equal_ts_matches(spark):
    trades = spark.createDataFrame([("A", 5, 1.0)], "sym string, t int, px double")
    quotes = spark.createDataFrame([("A", 5, 42.0)], "sym string, t int, bid double")
    out = J.asof_join(trades, quotes, on="sym", left_ts="t", right_ts="t")
    assert out.collect()[0].bid == 42.0  # backward as-of is inclusive


def test_null_keys_never_match(spark):
    """SQL null-join semantics: NULL keys match nothing in inner joins
    and survive as unmatched in left joins — the engine must not
    'repair' this (both pandas and Spark share it; documented in
    SURVEY.md §1)."""
    from pyspark.sql import functions as F

    l = spark.createDataFrame([(1, "a"), (None, "b")], "k long, v string")
    r = spark.createDataFrame([(1, "x"), (None, "y")], "k long, w string")
    inner = l.join(r, "k").collect()
    assert [(row["k"], row["v"], row["w"]) for row in inner] == [(1, "a", "x")]
    left = l.join(r, "k", "left").orderBy(F.col("v")).collect()
    assert [(row["k"], row["w"]) for row in left] == [(1, "x"), (None, None)]


def test_fuzzy_pairs_planted(spark):
    """Planted near-dups: blocking on the last token, only same-block
    pairs within distance 2 surface; exact duplicates (dist 0) and
    cross-block near-matches are excluded."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            ("cold widget",),
            ("old widget",),   # dist 1 from "cold widget", same block
            ("cold widget",),  # exact dup — must NOT pair (min_dist=1)
            ("bold widget",),  # dist 1 from both "cold" and "old"
            ("cold gadget",),  # different block noun — never compared
            ("verylongname widget",),  # same block, length-band pruned
        ],
        "name string",
    )
    out = J.fuzzy_pairs(
        df, "name", block=lambda c: F.element_at(F.split(c, " "), -1), max_dist=2
    )
    got = {(r.name_a, r.name_b): r.edit_dist for r in out.collect()}
    assert got == {
        ("bold widget", "cold widget"): 1,
        ("bold widget", "old widget"): 1,
        ("cold widget", "old widget"): 1,
    }


def test_fuzzy_pairs_plan_is_blocked_hash_join(spark):
    """The pair generation must be an equi-join on the block key —
    no BroadcastNestedLoopJoin / CartesianProduct in the plan."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("a b",), ("c b",)], "name string")
    plan = J.fuzzy_pairs(
        df, "name", block=lambda c: F.element_at(F.split(c, " "), -1), max_dist=2
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_overlap_join_hand_intervals(spark):
    """Pairs overlapping across MULTIPLE grid cells appear exactly once
    (anchor-cell dedup); touching endpoints count (closed intervals);
    disjoint intervals in a shared cell are filtered."""
    left = spark.createDataFrame(
        [(1, 0, 25), (2, 40, 45)], "lid long, ls long, le long"
    )
    right = spark.createDataFrame(
        [(10, 5, 30), (11, 25, 26), (12, 31, 39)], "rid long, rs long, re long"
    )
    out = J.overlap_join(left, right, "ls", "le", "rs", "re", bucket_width=10)
    got = sorted((r.lid, r.rid) for r in out.collect())
    # 1:[0,25] overlaps 10:[5,30] (cells 0,1,2 shared — once!) and
    # touches 11:[25,26] at 25; 2:[40,45] overlaps nothing
    assert got == [(1, 10), (1, 11)]


def test_overlap_join_is_hash_join(spark):
    left = spark.createDataFrame([(1, 0, 5)], "lid long, ls long, le long")
    right = spark.createDataFrame([(2, 3, 9)], "rid long, rs long, re long")
    plan = (
        J.overlap_join(left, right, "ls", "le", "rs", "re", bucket_width=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_overlap_join_matches_bruteforce(spark):
    """Grid decomposition equals the inequality join on random data."""
    import random

    rng = random.Random(3)
    L = [(i, rng.randint(0, 200), 0) for i in range(40)]
    L = [(i, s, s + rng.randint(0, 60)) for i, s, _ in L]
    R = [(i, rng.randint(0, 200), 0) for i in range(40)]
    R = [(i, s, s + rng.randint(0, 60)) for i, s, _ in R]
    left = spark.createDataFrame(L, "lid long, ls long, le long")
    right = spark.createDataFrame(R, "rid long, rs long, re long")
    got = sorted(
        (r.lid, r.rid)
        for r in J.overlap_join(
            left, right, "ls", "le", "rs", "re", bucket_width=25
        ).collect()
    )
    want = sorted(
        (li, ri)
        for li, ls, le in L
        for ri, rs, re in R
        if ls <= re and rs <= le
    )
    assert got == want


def test_pareto_front_hand_checked(spark):
    from technical_test_data_engineer_spark.operators.relational import (
        pareto_front,
    )

    # (price, size): (1,9) and (2,10) are non-dominated; (2,9) dominated
    # by (1,9)... wait (1,9): price 1 <= 2, size 9 >= 9, strictly better
    # on price -> dominates (2,9). (3,10) dominated by (2,10). Duplicate
    # non-dominated pairs both survive.
    rows = [(1, 1.0, 9), (2, 2.0, 10), (3, 2.0, 9), (4, 3.0, 10), (5, 1.0, 9)]
    df = spark.createDataFrame(rows, "id long, price double, size int")
    got = sorted(
        r["id"]
        for r in pareto_front(
            df, minimize=("price",), maximize=("size",)
        ).collect()
    )
    assert got == [1, 2, 5]


def test_pareto_front_matches_bruteforce_random(spark):
    import random

    from technical_test_data_engineer_spark.operators.relational import (
        pareto_front,
    )

    rng = random.Random(7)
    rows = [
        (i, float(rng.randint(0, 30)), rng.randint(0, 30)) for i in range(400)
    ]
    df = spark.createDataFrame(rows, "id long, a double, b int")
    got = sorted(
        r["id"] for r in pareto_front(df, minimize=("a", "b")).collect()
    )
    want = sorted(
        i
        for i, a, b in rows
        if not any(
            (a2 <= a and b2 <= b and (a2 < a or b2 < b))
            for _, a2, b2 in rows
        )
    )
    assert got == want


# ---------------------------------------------------------------------------
# Bloom-filter runtime pre-filter (round 6)
# ---------------------------------------------------------------------------


def test_bloom_semi_join_exact_for_all_hash_counts(spark):
    """The trailing exact semi join makes the result identical to a
    plain left-semi regardless of bloom sizing — an undersized filter
    degrades to pass-through, never to wrong answers."""
    from technical_test_data_engineer_spark.operators.joins import (
        bloom_semi_join,
    )

    small = spark.range(0, 300).select((F.col("id") * 7).alias("k"))
    big = spark.range(0, 10000).select(F.col("id").alias("k"))
    want = sorted(
        r.k for r in big.join(small.distinct(), "k", "left_semi").collect()
    )
    for n_hashes in (2, 3, 4):
        for n_bits in (1 << 8, 1 << 14):  # grossly undersized and sane
            got = sorted(
                r.k
                for r in bloom_semi_join(
                    big, small, "k", "k", n_bits=n_bits, n_hashes=n_hashes
                ).collect()
            )
            assert got == want, (n_hashes, n_bits)


def test_bloom_prefilter_prunes_and_is_superset(spark):
    """prefilter_only returns a small superset of the true matches:
    every true match passes (no false negatives — the correctness
    half) and the false-positive rate is near the (1-e^(-kn/m))^k
    design point (the pruning half: at 100 TB this is the shuffle
    volume saved)."""
    from technical_test_data_engineer_spark.operators.joins import (
        bloom_semi_join,
    )

    small = spark.range(0, 500).select((F.col("id") * 13).alias("k"))
    big = spark.range(0, 50000).select(F.col("id").alias("k"))
    pre = bloom_semi_join(
        big, small, "k", "k", n_bits=1 << 14, prefilter_only=True
    )
    passed = {r.k for r in pre.collect()}
    true = {r.k for r in big.join(small.distinct(), "k", "left_semi").collect()}
    assert true <= passed  # zero false negatives, ever
    # m=16384, n=500, k=3 -> fpp ~ (1-e^(-1500/16384))^3 ~ 6.6e-4;
    # allow 5x slack over the expectation on ~49.5k non-matching keys
    assert len(passed - true) < 5 * 0.00066 * 50000
