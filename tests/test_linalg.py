"""Linalg operators: distributed covariance vs numpy.cov, PCA
projection vs numpy eigendecomposition on the collected corpus."""

from __future__ import annotations

import numpy as np
import pytest

from technical_test_data_engineer_spark.operators.linalg import (
    MAX_DIM,
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


def test_moments_past_the_dimension_bound_fail_the_fetch(spark):
    """A corpus one dimension wider than ``MAX_DIM`` has more D²-bounded
    moment rows than the driver fetch allows: covariance_matrix raises
    the labelled bound error instead of fetching them all."""
    wide = spark.createDataFrame(
        [(i, [float(i + 1)] * (MAX_DIM + 1)) for i in range(2)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="covariance_matrix moments: more than"):
        covariance_matrix(wide)


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


_MOMENT_ROWS = [(1, [1.0, 2.0]), (2, [2.0, 5.0]), (3, [4.0, 1.0])]
_PQ_VECS = [
    [1.0, 0.2, -0.5, 0.3], [0.9, 0.1, -0.4, 0.5], [-1.0, 0.7, 0.2, 0.1],
    [0.3, -0.8, 0.6, 0.2], [0.8, 0.4, -0.1, 0.9], [-0.2, 0.5, 0.9, -0.7],
    [0.5, -0.3, -0.9, 0.4], [0.1, 0.9, 0.3, 0.6],
]
_FOREIGN_CWD_CASES = {
    "moment_fold": f"""
        from technical_test_data_engineer_spark.operators.linalg import (
            covariance_matrix,
        )
        df = spark.createDataFrame(
            {_MOMENT_ROWS!r}, "vec_id long, embedding array<double>"
        )
        print(sorted(tuple(r) for r in covariance_matrix(df).collect()))
        """,
    # rerank > k: the fused ADC scorer with its shared top-k merge, then
    # the exact re-rank over the whole shortlist
    "pq_adc_rerank": f"""
        from technical_test_data_engineer_spark.operators.similarity import (
            pq_adc_topk,
            train_pq_codebooks,
        )
        df = spark.createDataFrame(
            list(enumerate({_PQ_VECS!r})), "vec_id long, embedding array<double>"
        )
        books = train_pq_codebooks(df, m=2, n_codes=2)
        out = pq_adc_topk(df, df.filter("vec_id < 2"), books, k=2, rerank=7)
        print(sorted((r.query_id, r.vec_id, r.rank) for r in out.collect()))
        """,
}
# the two media queries on a mapInPandas stub decoder: each case prints
# the registry query's rows, compared with the same query run here
_FOREIGN_CWD_CASES.update(
    {
        q: f"""
        from technical_test_data_engineer_spark.plans.multimodal_queries import (
            {q},
        )
        print([tuple(r) for r in {q}(spark, {SF!r}).collect()])
        """
        for q in ("media_decode_meta", "media_frame_sample_stats")
    }
)


@pytest.mark.parametrize("case", sorted(_FOREIGN_CWD_CASES))
def test_moment_fold_runs_from_a_foreign_cwd(tmp_path, case, spark):
    """Python-worker closures ship everything their workers run: the
    package is importable here only through the driver's ``sys.path``,
    not from the workers' cwd or PYTHONPATH. Cases: the ``mapInPandas``
    moment fold, PQ's fused ADC scorer plus re-rank, and the two media
    queries whose ``mapInPandas`` closures parse the stub header."""
    import ast
    import os
    import subprocess
    import sys
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {repo!r})
        from technical_test_data_engineer_spark.session import get_spark

        spark = get_spark(
            "foreign-cwd", master="local[1]", shuffle_partitions=1,
            extra_confs={{"spark.driver.memory": "1g"}},
        )
        """
    ) + textwrap.dedent(_FOREIGN_CWD_CASES[case]) + "spark.stop()\n"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = ast.literal_eval(out.stdout.strip().splitlines()[-1])
    if case.startswith("media_"):
        from technical_test_data_engineer_spark.plans import multimodal_queries

        here = getattr(multimodal_queries, case)(spark, SF).collect()
        assert got == [tuple(r) for r in here]
        return
    if case == "pq_adc_rerank":
        # the shortlist holds every candidate, so the re-rank is exact
        V = np.array(_PQ_VECS)
        want = []
        for q in range(2):
            cands = sorted((-float(V[q] @ V[j]), j) for j in range(len(V)) if j != q)
            want += [(q, j, r) for r, (_, j) in enumerate(cands[:2], 1)]
        assert got == sorted(want)
        return
    cov = np.cov(np.array([v for _, v in _MOMENT_ROWS]), rowvar=False)
    want = [(i, j, cov[i, j]) for i in range(2) for j in range(i, 2)]
    assert [g[:2] for g in got] == [w[:2] for w in want]
    assert np.allclose([g[2] for g in got], [w[2] for w in want])
