"""Round-15 optimization parity tests: the driver-side numpy mirrors
that replaced distributed stages must be bit-equal to the Spark
operators they replaced (the knn_anchor_routing_recall rewrite), and
the k-weighted decimal folds must match per-occurrence sums.
"""
from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from technical_test_data_engineer_spark.functions.mirrors import (
    dot_band,
    exact_topk,
    spark_round,
)
from technical_test_data_engineer_spark.operators.linalg import (
    round_half_up_1e10,
)
from technical_test_data_engineer_spark.operators.similarity import (
    brute_force_topk,
    int_scaled_dot,
)


def _rand_vecs(n: int, dim: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(n)]


def test_int_scaled_dot_numpy_mirror(spark):
    """The anchor-score mirror: sum(round_half_up_1e10((x*y)*1e10))
    must equal int_scaled_dot for the same vectors (same IEEE product,
    same Spark-ROUND semantics, same int64 fold)."""
    vecs = _rand_vecs(40, 64, seed=7)
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    q = vecs[0]
    got_spark = {
        r["vec_id"]: r["d"]
        for r in df.select(
            "vec_id",
            int_scaled_dot(
                F.col("embedding"), F.array(*[F.lit(x) for x in q])
            ).alias("d"),
        ).collect()
    }
    V = np.array(vecs, dtype=np.float64)
    mine = round_half_up_1e10((V * np.asarray(q)) * 1e10).sum(axis=1)
    for i in range(len(vecs)):
        assert int(mine[i]) == got_spark[i]


def test_exact_dot_band_topk_matches_brute_force(spark):
    """The exact-top-k mirror (float64 dots + the derived band re-scored
    via the Decimal(repr)-quantize DECIMAL(38,30) cast mirror) must pick
    the same (query, vec_id, rank) set as brute_force_topk."""
    n, dim, k = 60, 16, 5
    vecs = _rand_vecs(n, dim, seed=11)
    # plant near-ties: duplicate some vectors so scores collide and the
    # vec_id tiebreak is exercised through the band path
    vecs[17] = list(vecs[3])
    vecs[29] = list(vecs[3])
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    probes = df.filter(F.col("vec_id") < 3)
    want = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in brute_force_topk(df, probes, k=k).collect()
    }

    V = np.array(vecs, dtype=np.float64)
    band = dot_band(V)
    assert 0 < band < 1e-9
    ids = np.arange(n)
    for q in range(3):
        mask = ids != q
        ranked = exact_topk(V[q], V[mask], ids[mask], k, band, "test")
        for rank, vid in enumerate(ranked, start=1):
            assert want[(q, rank)] == vid, (q, rank)


def test_exact_topk_rejects_a_band_narrower_than_the_float_error():
    """A band too narrow for the float64 dots' error is a labelled
    error, never a silently mis-ranked top-k: the exact dot of the first
    row is 1 + 2^-60, which every float64 summation rounds to 1."""
    qv = np.array([1.0, 2.0**-30])
    V = np.array([[1.0, 2.0**-30], [0.5, 0.0]])
    band = dot_band(np.vstack([qv, V]))
    assert exact_topk(qv, V, np.arange(2), 1, band, "ok") == [0]
    with pytest.raises(ValueError, match="probe: float dot for id 0"):
        exact_topk(qv, V, np.arange(2), 1, 1e-18, "probe")


def test_spark_round_matches_spark_sql_round_on_ties(spark):
    """spark_round == Spark SQL ROUND on a DOUBLE column, including the
    ties that HALF_UP on the printed digits decides (2.675 -> 2.68,
    though its binary value is below the tie) and magnitudes where
    scale-6 rounding needs 19 significant digits."""
    cases = [
        (0.125, 2),
        (2.675, 2),
        (-0.5, 0),
        (1.5, 0),
        (-2.675, 2),
        (12345678901234.567, 6),
        (9876543210123.4551, 3),
        (0.1234565, 6),
    ]
    df = spark.createDataFrame(
        [(i, x) for i, (x, _) in enumerate(cases)], "i int, x double"
    )
    got = df.select(
        "i",
        *[F.round("x", d).alias(f"r{d}") for d in sorted({d for _, d in cases})],
    ).collect()
    for r in got:
        x, d = cases[r["i"]]
        assert spark_round(x, d) == r[f"r{d}"], (x, d, r[f"r{d}"])


@pytest.mark.parametrize("seed", [3, 4])
def test_k_weighted_decimal_fold_is_exact(spark, seed):
    """sum(round(x,9)::decimal per occurrence) == sum(k * decimal) when
    k casts narrow enough to stay inside precision 38 — the
    doc_unigram/doc_bigram/doremi r15 fold (a bare decimal×bigint
    product overflows and silently drops the scale to 6)."""
    rng = random.Random(seed)
    rows = []
    for t in range(30):
        val = rng.uniform(0.1, 20.0)
        k = rng.randint(1, 50)
        rows += [(f"t{t}", val)] * k
    df = spark.createDataFrame(rows, "term string, v double")
    dec = F.round(F.col("v"), 9).cast("decimal(20,9)")
    per_occurrence = df.agg(F.sum(dec).cast("double").alias("s")).collect()[
        0
    ]["s"]
    agg = (
        df.groupBy("term", "v")
        .agg(F.count("*").alias("k"))
        .agg(
            F.sum(dec * F.col("k").cast("decimal(12,0)"))
            .cast("double")
            .alias("s")
        )
        .collect()[0]["s"]
    )
    assert per_occurrence == agg


def test_spark_percentile_mirror_weighted_form(spark):
    """The daily_revenue_repeated_median driver mirror must use Spark
    Percentile's weighted interpolation ((hi-pos)*lower +
    (pos-lo)*higher) — the lerp form lower + t*(higher-lower) differs
    by an ulp on interpolated ties (adversarially discriminated)."""
    import math

    rng = random.Random(7)
    cases = [
        [rng.uniform(-1e3, 1e3) for _ in range(rng.randint(2, 15))]
        for _ in range(12)
    ]
    # force formula-discriminating 2-element ties (weighted != lerp)
    found = 0
    while found < 4:
        a, b = sorted(rng.uniform(-1e3, 1e3) for _ in range(2))
        if 0.5 * a + 0.5 * b != a + 0.5 * (b - a):
            cases.append([a, b])
            found += 1
    checked_discriminating = 0
    for vals in cases:
        n = len(vals)
        got = (
            spark.createDataFrame([(v,) for v in vals], "v double")
            .agg(F.percentile("v", F.lit(0.5)).cast("double"))
            .collect()[0][0]
        )
        s = sorted(vals)
        pos = 0.5 * (n - 1)
        lo, hi = math.floor(pos), math.ceil(pos)
        if lo == hi:
            mine = s[lo]
        else:
            mine = (hi - pos) * s[lo] + (pos - lo) * s[hi]
            lerp = s[lo] + (pos - lo) * (s[hi] - s[lo])
            if mine != lerp:
                checked_discriminating += 1
        assert float(mine) == got
    assert checked_discriminating >= 4  # real formula-splitting ties ran
