"""Distributed linear algebra over embedding columns — covariance and
PCA projection.

The 100 TB shape: a covariance matrix is a D×D AGGREGATE of a corpus
that never fits anywhere, while D (embedding width, 64 here) is tiny —
so the corpus flows through one pass that emits per-(i, j) moment
contributions, the D(D+1)/2 sums reduce with partial aggregation, and
everything downstream of the D×D matrix (eigendecomposition, component
selection) is driver-side numpy on a few KB. Projection then rides a
broadcast of the component matrix back over the corpus in one
Arrow-batched pass. This is the same small-side/large-side discipline
as a broadcast join: the corpus is only ever scanned, never collected.

Exactness: moment sums are INTEGER-scaled — each term rounds to 10
decimals as ROUND(x * 1e10) and sums as BIGINT, then the total divides
back by 1e10 — so the aggregate is order-independent and matches the
DuckDB oracle exactly (float addition order would otherwise vary with
partitioning and flake the hash gate). This is the same 10-decimal
HALF_UP semantics as the old DECIMAL(30,10) cast, but (a) the sum runs
as a whole-stage-codegen long instead of interpreted BigDecimal
(~2.5x on the moments pass), and (b) rounding an ~1e8-magnitude double
at 0 decimals sits far inside both engines' representations, killing
the shortest-repr-vs-exact-binary tie class that made the old decimal
casts disagree at ~1e-10 per affected term (r09 root cause of
embedding_covariance's 11th-significant-digit drift). Scale bound:
|x_i x_j| <= ~40 here, so per-term <= 4e11 and corpus sums stay far
inside 2^53 for any fixture scale this gate runs at.

No counterpart in the reference (its analytics are 2-D pandas,
/root/reference/tasks/visualization/src/visualization.py); this is
part of the LLM-data-pipeline extension surface (embedding curation:
whitening, redundancy analysis, dimensionality reduction).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from technical_test_data_engineer_spark.operators.bounded import (
    collect_bounded,
    local_frame,
)

# the widest vector the moment fold serves: its D(D+1)/2 + D moment rows
# (525,824 at D = 1024, about 20 MB) are fetched to the driver
MAX_DIM = 1024
_MAX_MOMENT_ROWS = MAX_DIM * (MAX_DIM + 1) // 2 + MAX_DIM


def covariance_matrix(df: DataFrame) -> DataFrame:
    """Sample covariance of the ``embedding`` column as an upper-triangle
    long-form relation (``i`` ≤ ``j``, ``cov``): cov(i,j) =
    (Σx_ix_j − Σx_i·Σx_j / n) / (n − 1), moment sums integer-scaled
    exact, the final arithmetic in double on both engines (the
    exact_avg discipline). D(D+1)/2 output rows — driver/broadcast-
    sized for any sane embedding width.

    r15 (guide §1.2/§4; the pca_components r13 fold, shared now): the
    moments come from the SAME one-action Arrow partial fold PCA uses
    — each task reduces its batches to D(D+1)/2 + D int64 partial sums
    in numpy — instead of the nested-transform HOF that materialized
    ~D²/2 struct rows per vector through Generate + hash agg (~4.2M
    interpreted lambda evaluations at sf0.1). The D²-bounded aggregate
    collects (2,080 + 64 rows at D = 64 — the house bounded-collect
    discipline) and the mean correction runs in Python doubles with
    the exact operation order of the old Spark expression
    (float(Σp)/1e10, then (sxy − si·sj/n)/(n−1)), so every cov double
    is bit-identical; per-term parity with Spark ROUND is the
    round_half_up_1e10 guarantee (tests/test_linalg.py). Raggedness,
    n < 2, int64 overflow and vectors wider than ``MAX_DIM`` fail loud
    exactly like pca_components."""
    rows = _moment_agg(df, "covariance_matrix")
    spark = df.sparkSession
    schema = "i int, j int, cov double"
    if not rows:
        return local_frame(spark, [], schema)
    n, s = _validate_moments(rows, "covariance_matrix")
    out = [
        (
            int(r["i"]),
            int(r["j"]),
            float(
                (float(r["_s"]) / 1e10 - s[r["i"]] * s[r["j"]] / float(n))
                / float(n - 1)
            ),
        )
        for r in rows
        if r["j"] != -1
    ]
    return local_frame(spark, out, schema)


def _half_up_rounder():
    """Builds ``round_half_up_1e10`` as a nested function. cloudpickle
    ships a nested function by value, so the Python workers running
    ``_moment_agg``'s fold never import this package, which may be
    importable only through the driver's ``sys.path``."""

    def round_half_up_1e10(p: np.ndarray) -> np.ndarray:
        """int64 of ROUND(p, 0) under Spark's double-ROUND semantics
        (BigDecimal(Double.toString(p)) HALF_UP — away from zero on the
        decimal-repr tie). Vectorized sign·floor(|p|+0.5) everywhere
        except a MAGNITUDE-AWARE guard band — max(1e-4, 8 ulp of p) —
        around |frac| = 0.5, where the decimal-repr-faithful
        Decimal(repr(p)) path runs instead. The band scales with |p|
        because the drift between the probe and the decimal repr is
        ulp-proportional (repr-vs-binary gap + the +0.5 addition, ≤ 2
        ulp; 8 ulp is a 4× margin), so every element matches Spark ROUND
        bit-for-bit at ANY magnitude (ADVICE r13: the bare floor form can
        round across the boundary inside those ulp-wide windows)."""
        from decimal import ROUND_HALF_UP, Decimal

        v = np.abs(p)
        out = (np.sign(p) * np.floor(v + 0.5)).astype(np.int64)
        frac = v - np.floor(v)
        risky = np.abs(frac - 0.5) < np.maximum(1e-4, 8.0 * np.spacing(v))
        if risky.any():
            flat = out.reshape(-1)
            pv = p.reshape(-1)
            for k in np.nonzero(risky.reshape(-1))[0]:
                flat[k] = int(
                    Decimal(repr(float(pv[k]))).quantize(
                        Decimal(1), ROUND_HALF_UP
                    )
                )
        return out

    return round_half_up_1e10


round_half_up_1e10 = _half_up_rounder()


def _moment_agg(df: DataFrame, label: str) -> list[dict]:
    """The shared one-action Arrow moment fold (r13, factored out of
    pca_components in r15 so covariance_matrix rides it too): each task
    reduces its Arrow batches to D(D+1)/2 + D integer partial sums in
    numpy, the final aggregate is D²-bounded. Returns its rows, at most
    ``_MAX_MOMENT_ROWS`` and fetched in no particular order (each is
    keyed by (i, j)), as (i, j, _s, _m, _c) dicts with j = -1 sentinel
    rows carrying the first moments. See pca_components for the
    exactness/raggedness/overflow discussion."""
    from technical_test_data_engineer_spark.operators.partitioning import (
        fan_out,
    )

    dfp = fan_out(df.select("vec_id", "embedding"))

    def _partial_fold(batches):
        from collections import defaultdict

        acc: dict = defaultdict(lambda: None)
        for pdf in batches:
            groups = defaultdict(list)
            for v in pdf["embedding"]:
                if v is not None:
                    groups[len(v)].append(v)
            for dlen, vs in groups.items():
                m = np.asarray(vs, dtype=np.float64)
                st = acc[dlen]
                if st is None:
                    st = acc[dlen] = [
                        np.zeros(dlen, dtype=np.int64),      # Σ p1
                        np.zeros(dlen, dtype=np.int64),      # max |p1|
                        np.zeros((dlen, dlen), dtype=np.int64),  # Σ p2
                        np.zeros((dlen, dlen), dtype=np.int64),  # max |p2|
                        0,                                    # rows
                    ]
                # chunk rows to a fixed ~64 MB outer-product block
                # budget (ADVICE r13: a FIXED 256-row chunk is
                # 256·D²·8 B — ~537 MB at D = 512, an executor-OOM
                # risk where the old explode form merely got slow);
                # 256 stays the cap so D ≤ ~181 keeps the old shape
                chunk = max(1, min(256, (64 << 20) // (8 * dlen * dlen)))
                for lo in range(0, m.shape[0], chunk):
                    ch = m[lo : lo + chunk]
                    p1 = round_half_up_1e10(ch * 1e10)
                    p2 = round_half_up_1e10(
                        ch[:, :, None] * ch[:, None, :] * 1e10
                    )
                    st[0] += p1.sum(axis=0)
                    np.maximum(st[1], np.abs(p1).max(axis=0), out=st[1])
                    st[2] += p2.sum(axis=0)
                    np.maximum(st[3], np.abs(p2).max(axis=0), out=st[3])
                    st[4] += ch.shape[0]
        out_i, out_j, out_s, out_m, out_c = [], [], [], [], []
        for dlen, st in acc.items():
            if st is None:
                continue
            s1, m1, s2, m2, c = st
            iu, ju = np.triu_indices(dlen)
            out_i.extend(range(dlen))
            out_j.extend([-1] * dlen)
            out_s.extend(s1.tolist())
            out_m.extend(m1.tolist())
            out_c.extend([c] * dlen)
            out_i.extend(iu.tolist())
            out_j.extend(ju.tolist())
            out_s.extend(s2[iu, ju].tolist())
            out_m.extend(m2[iu, ju].tolist())
            out_c.extend([c] * len(iu))
        if out_i:
            yield pd.DataFrame(
                {
                    "i": np.asarray(out_i, dtype=np.int32),
                    "j": np.asarray(out_j, dtype=np.int32),
                    "p": np.asarray(out_s, dtype=np.int64),
                    "pm": np.asarray(out_m, dtype=np.int64),
                    "pc": np.asarray(out_c, dtype=np.int64),
                }
            )

    moments = (
        dfp.mapInPandas(
            _partial_fold, "i int, j int, p long, pm long, pc long"
        )
        .groupBy("i", "j")
        .agg(
            F.sum("p").alias("_s"),
            F.max("pm").alias("_m"),
            F.sum("pc").alias("_c"),
        )
    )
    return collect_bounded(
        moments, _MAX_MOMENT_ROWS, f"{label} moments"
    ).to_pylist()


def _validate_moments(rows, label: str) -> tuple[int, np.ndarray]:
    """Uniformity, n ≥ 2 and int64-overflow checks on the collected
    D²-bounded moment rows (shared by pca_components /
    covariance_matrix). Returns n and the D first-moment sums s."""
    n_lo = min(r["_c"] for r in rows)
    n = max(r["_c"] for r in rows)
    if n_lo != n:
        raise ValueError(
            f"{label}: ragged or null vectors — per-term counts range "
            f"{n_lo}..{n}, expected one count for every (i, j) pair"
        )
    if n < 2:
        raise ValueError(
            f"{label}: sample covariance needs at least 2 vectors, got "
            f"n={n} (the (n - 1) divisor)"
        )
    if any(r["_m"] * float(n) >= float(2**62) for r in rows):
        raise ValueError(
            f"{label}: integer-scaled fold may exceed int64 at n={n} — "
            "rescale or shard the corpus"
        )
    s = np.zeros(max(r["i"] for r in rows) + 1)
    # float(_s) FIRST, then /1e10 — the old path was Spark
    # cast(long AS double) / 1e10, and Python's exact-int division
    # could differ by an ulp past 2^53
    for r in rows:
        if r["j"] == -1:
            s[r["i"]] = float(r["_s"]) / 1e10
    return int(n), s


def pca_components(df: DataFrame, k: int = 8):
    """Top-k principal components of ``embedding`` from the distributed
    covariance.

    The D×D matrix (a few KB) collects to the driver; ``numpy.linalg
    .eigh`` factorizes it there — the textbook split: O(corpus) work
    distributed, O(D³) work local. Sign convention: each eigenvector is
    flipped so its largest-|entry| coordinate is positive, making the
    output deterministic across LAPACK builds. Returns
    ``(mean, components, eigenvalues)`` as numpy arrays with
    components[r] = r-th PC (descending eigenvalue)."""
    # ONE action, Arrow-batched partial fold (r13; the shared
    # _moment_agg since r15 — covariance_matrix rides the same fold):
    # each task reduces its Arrow batches to D(D+1)/2 + D integer
    # partial sums in numpy — the r11 explode form materialized ~D²/2
    # struct rows PER VECTOR (128M rows at sf0.1) through
    # Generate + hash-agg, and that row traffic, not the arithmetic,
    # was the query's dominant cost (solo 2.4 s → ~0.7 s). Every
    # per-term value matches Spark ROUND HALF_UP bit-for-bit via
    # round_half_up_1e10 (r14: vectorized floor with a guard-band
    # Decimal(repr) path in the ulp-wide .5 windows) into int64
    # partial sums, whose addition is associative, so mean/cov/eigh
    # cannot depend on partition order (numpy-parity tests pin it).
    # First moments keep the j = -1 sentinel; the final (i, j)
    # aggregate is D²-bounded, and a vector wider than MAX_DIM fails the
    # fetch. Ragged/null vectors, n < 2 and int64 overflow fail loud in
    # _validate_moments.
    rows = _moment_agg(df, "pca_components")
    if not rows:
        raise ValueError(
            "pca_components: empty corpus (no embedding rows to factor)"
        )
    n, s = _validate_moments(rows, "pca_components")
    d = len(s)
    mean = s / n
    cov = np.zeros((d, d))
    for r in rows:
        if r["j"] == -1:
            continue
        c = (float(r["_s"]) / 1e10 - s[r["i"]] * s[r["j"]] / n) / (n - 1)
        cov[r["i"], r["j"]] = c
        cov[r["j"], r["i"]] = c
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T.copy()
    for r in range(comps.shape[0]):
        pivot = int(np.argmax(np.abs(comps[r])))
        if comps[r, pivot] < 0:
            comps[r] = -comps[r]
    return mean, comps, vals[order]


def project_embeddings(
    df: DataFrame,
    mean,
    comps,
    int_scaled: bool = False,
) -> DataFrame:
    """The Arrow-batched projection pass shared by the self-trained PCA
    path and the literal-components oracle companion: (x − mean) @ Wᵀ
    with the (k × D) matrix broadcast inside the ``pandas_udf`` closure
    (numpy matmul per batch — the vectorized slow-path rule: Python
    only where Spark lacks the operator, and then always batched).

    ``int_scaled=True`` emits the r10/r11 integer convention instead:
    each TERM rounds away-from-zero at 1e10 before an integer sum
    (``pc_e10[c] = Σ_i round((x_i − mean_i)·W[c][i]·1e10)`` as int64),
    matching DuckDB's ``SUM(CAST(ROUND(t·1e10, 0) AS BIGINT))`` exactly
    — the projection arithmetic becomes order-independent and
    oracle-hashable (a float matmul's pairwise-summation order is not).
    Returns (``vec_id``, ``pc`` array<double> or array<long>).
    One corpus scan, zero shuffles. The UDF runs once per query as long
    as nothing calls it twice: ``pc`` is never NULL or empty, so explode
    it with ``posexplode_outer`` (``posexplode``'s inferred non-empty
    filter is pushed through this projection and calls the UDF again),
    and sort the result with ``partitioning.ordered_python_stage``."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    mean = np.asarray(mean, dtype=np.float64)
    comps = np.asarray(comps, dtype=np.float64)

    if int_scaled:

        @pandas_udf(T.ArrayType(T.LongType()))
        def _proj(vecs: pd.Series) -> pd.Series:
            m = np.asarray(vecs.tolist(), dtype=np.float64)
            # terms: batch × k × D, rounded away-from-zero per term
            # (numpy rint is half-even — would drift from ROUND's
            # half-away on exact .5 products)
            t = (m[:, None, :] - mean[None, None, :]) * comps[None, :, :]
            t *= 1e10
            t = np.sign(t) * np.floor(np.abs(t) + 0.5)
            out = t.sum(axis=2).astype(np.int64)
            return pd.Series(list(out))

    else:

        @pandas_udf(T.ArrayType(T.DoubleType()))
        def _proj(vecs: pd.Series) -> pd.Series:
            m = np.asarray(vecs.tolist(), dtype=np.float64)
            out = (m - mean) @ comps.T
            return pd.Series(list(out))

    return df.select(F.col("vec_id"), _proj(F.col("embedding")).alias("pc"))


def pca_project(df: DataFrame, k: int = 8) -> DataFrame:
    """Project every ``embedding`` onto the top-k PCs: (x − mean) @ Wᵀ —
    self-trained path: components from the distributed covariance +
    driver eigh, projection via :func:`project_embeddings`."""
    mean, comps, _ = pca_components(df, k)
    return project_embeddings(df, mean, comps)
