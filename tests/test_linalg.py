"""Linalg operators: distributed covariance vs numpy.cov, PCA
projection vs numpy eigendecomposition on the collected corpus."""

from __future__ import annotations

import numpy as np

from technical_test_data_engineer_spark.operators.linalg import (
    covariance_matrix,
    pca_components,
    pca_project,
)
from technical_test_data_engineer_spark.sources.parquet_source import load_table

SF = "/root/testdata/sf0.001"


def _corpus(spark):
    emb = load_table(spark, SF, "embeddings")
    mat = np.asarray(
        [r["embedding"] for r in emb.orderBy("vec_id").collect()],
        dtype=np.float64,
    )
    return emb, mat


def test_covariance_matches_numpy(spark):
    emb, mat = _corpus(spark)
    got = {
        (r["i"], r["j"]): r["cov"]
        for r in covariance_matrix(emb).collect()
    }
    want = np.cov(mat, rowvar=False)  # ddof=1, same as (n-1) divisor
    d = mat.shape[1]
    assert len(got) == d * (d + 1) // 2
    for (i, j), c in got.items():
        assert i <= j
        assert abs(c - want[i, j]) < 1e-9, (i, j)


def test_pca_components_orthonormal_and_ordered(spark):
    emb, mat = _corpus(spark)
    mean, comps, vals = pca_components(emb, k=8)
    assert comps.shape == (8, mat.shape[1])
    # orthonormal rows
    g = comps @ comps.T
    assert np.allclose(g, np.eye(8), atol=1e-9)
    # eigenvalues descending and matching numpy's top-8
    want = np.sort(np.linalg.eigvalsh(np.cov(mat, rowvar=False)))[::-1][:8]
    assert np.all(np.diff(vals) <= 1e-12)
    assert np.allclose(vals, want, atol=1e-9)
    # deterministic sign convention
    for r in range(8):
        assert comps[r, int(np.argmax(np.abs(comps[r])))] > 0


def test_pca_components_fails_loud_on_bad_input(spark):
    """Empty corpus and ragged vectors must raise clear errors, not an
    IndexError / a collect-order-dependent n (advice r11)."""
    import pytest

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="empty corpus"):
        pca_components(empty, k=2)

    ragged = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [4.0, 5.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="ragged or null"):
        pca_components(ragged, k=2)


def test_moments_reject_single_vector_corpus(spark):
    """A one-vector corpus has no sample covariance: both callers of
    the shared moment fold raise a labelled error. Dividing by the zero
    (n - 1) divisor would give NaN/inf numpy doubles (ADVICE r15)."""
    import pytest

    one = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="covariance_matrix: .*n=1"):
        covariance_matrix(one)
    with pytest.raises(ValueError, match="pca_components: .*n=1"):
        pca_components(one, k=2)


def test_pca_projection_variance_equals_eigenvalues(spark):
    emb, mat = _corpus(spark)
    _, _, vals = pca_components(emb, k=4)
    proj = {
        r["vec_id"]: r["pc"] for r in pca_project(emb, k=4).collect()
    }
    p = np.asarray([proj[i] for i in sorted(proj)], dtype=np.float64)
    assert p.shape == (mat.shape[0], 4)
    # per-PC sample variance of the projected corpus == eigenvalue
    got_var = p.var(axis=0, ddof=1)
    assert np.allclose(got_var, vals, rtol=1e-6)
    # parity with a direct numpy projection
    mean = mat.mean(axis=0)
    cov = np.cov(mat, rowvar=False)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:4]
    comps = v[:, order].T
    for r in range(4):
        piv = int(np.argmax(np.abs(comps[r])))
        if comps[r, piv] < 0:
            comps[r] = -comps[r]
    want = (mat - mean) @ comps.T
    assert np.allclose(p, want, atol=1e-8)


def test_pca_fold_partials_match_numpy_random(spark):
    """The r13 Arrow-batched partial fold must reproduce straight-numpy
    moments on a random corpus (negatives, repeated vectors, several
    partitions) — the per-term away-from-zero integer convention makes
    the expected sums exactly computable in numpy."""
    import random

    rng = random.Random(97)
    d = 5
    rows = [
        (i, [rng.uniform(-2, 2) for _ in range(d)]) for i in range(203)
    ]
    rows += [(1000 + i, rows[i][1]) for i in range(7)]  # exact repeats
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(5)
    mean, comps, vals = pca_components(df, k=3)

    m = np.asarray([v for _, v in rows], dtype=np.float64)

    def away(p):
        return np.sign(p) * np.floor(np.abs(p) + 0.5)

    want_mean = away(m * 1e10).sum(axis=0) / 1e10 / len(rows)
    assert np.allclose(mean, want_mean, atol=1e-9)
    # covariance from the same integer-scaled pair sums
    n = len(rows)
    s = away(m * 1e10).sum(axis=0) / 1e10
    cov = np.zeros((d, d))
    for i in range(d):
        for j in range(i, d):
            sxy = away(m[:, i] * m[:, j] * 1e10).sum() / 1e10
            c = (sxy - s[i] * s[j] / n) / (n - 1)
            cov[i, j] = cov[j, i] = c
    w = np.sort(np.linalg.eigvalsh(cov))[::-1][:3]
    assert np.allclose(vals, w, atol=1e-9)
    # components orthonormal + sign convention
    assert np.allclose(comps @ comps.T, np.eye(3), atol=1e-9)
    for r in range(3):
        assert comps[r, int(np.argmax(np.abs(comps[r])))] > 0


def test_round_half_up_1e10_matches_spark_round(spark):
    """Boundary-value cases for the fold's rounding (ADVICE r13): at,
    one-ulp-below, and one-ulp-above every probed k + 0.5 tie — plus
    generic magnitudes up to ~1e11 where the +0.5 float probe is
    fuzziest — the helper must equal Spark's ROUND(p, 0) bit-for-bit,
    because Spark IS the convention the fold claims."""
    from pyspark.sql import functions as F

    from technical_test_data_engineer_spark.operators.linalg import (
        round_half_up_1e10,
    )

    vals = []
    for k in (0, 1, 2, 7, 123, 10**6, 10**9, 123456789012, 2**52 - 1):
        for sign in (1.0, -1.0):
            base = sign * (k + 0.5)
            vals += [
                base,
                np.nextafter(base, -np.inf),
                np.nextafter(base, np.inf),
            ]
    rng = np.random.default_rng(5)
    vals += [float(v) for v in rng.uniform(-1e11, 1e11, 300)]
    arr = np.asarray(vals, dtype=np.float64)
    got = round_half_up_1e10(arr).tolist()
    sdf = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "idx long, p double"
    )
    want = {
        r.idx: r.r
        for r in sdf.select(
            "idx", F.round(F.col("p"), 0).cast("bigint").alias("r")
        ).collect()
    }
    assert got == [want[i] for i in range(len(vals))]


def test_pca_fold_wide_vectors_use_smaller_chunks(spark):
    """The r14 byte-budget chunking (ADVICE r13 OOM note): a D where
    64 MB / (8 D^2) < 256 must still reproduce straight-numpy moments
    — same parity contract as the random test, exercised on the
    shrunken-chunk path."""
    import random

    rng = random.Random(31)
    d = 250  # chunk = 64MB // (8 * 250^2) = 134 < 256
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(d)]) for i in range(37)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(3)
    mean, comps, vals = pca_components(df, k=2)
    m = np.asarray([v for _, v in rows], dtype=np.float64)

    def away(p):
        return np.sign(p) * np.floor(np.abs(p) + 0.5)

    want_mean = away(m * 1e10).sum(axis=0) / 1e10 / len(rows)
    assert np.allclose(mean, want_mean, atol=1e-9)
    assert np.allclose(comps @ comps.T, np.eye(2), atol=1e-9)
