"""Vector similarity search over embedding columns (north-star §2.11).

Families:
- ``brute_force_topk`` — exact top-k via broadcast of the query set;
  the dot product is a JVM ``zip_with``+``aggregate`` fold (no Python,
  no shuffle of the corpus). ``hard_negatives`` (label-filtered) and
  ``maxsim_topk`` (late-interaction MaxSim over token sub-vectors) are
  the same full scan with another scorer.
- ``lsh_topk`` — random-hyperplane (SRP) LSH bucketing: only pairs
  sharing a bucket in some table are scored; the corpus shuffle is by
  bucket id, recall tunable via planes/tables/multi-probe.
- ``ivf_topk`` — Voronoi cells of a coarse k-means quantizer; each
  query scores its ``n_probe`` nearest cells.
- ``ivfpq_topk`` — IVF over PQ-compressed residuals, scored from codes
  (asymmetric distance, ADC) with an optional exact re-rank.
  ``pq_adc_topk`` is IVF-PQ with one all-zero cell.

One top-k tail serves them all: the worker-side running merge
(``_topk_merger``, inside ``local_topk`` and the fused ADC scorer)
keeps each partition's k best rows per query, and one rank step
(``_rank_topk``) orders them by (score desc, id asc) and keeps ranks
≤ k. ``rrf_fuse`` and ``mmr_rerank`` re-rank such lists.

Embeddings are float32 arrays; dot products fold in DECIMAL(38,30) so
scores are exactly reproducible across partitionings (and match the
DuckDB oracle bit-for-bit) — see functions/scalars.py for why double
summation cannot be.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from technical_test_data_engineer_spark.functions.scalars import dec, scaled_long
from technical_test_data_engineer_spark.operators.bounded import collect_bounded
from technical_test_data_engineer_spark.operators.partitioning import fan_out

# Seed of every driver-side quantizer fit (IVF k-means++, PQ codebooks)
# and the training-sample ceiling of the PQ trainers.
SEED = 42
MAX_TRAIN_VECTORS = 4096


def local_topk(
    scored: DataFrame,
    k: int,
    query_id_col: str | list[str] = "query_id",
) -> DataFrame:
    """Per-partition pre-top-k: keep only each partition's k best rows
    per query (``score`` desc, ``vec_id`` asc) BEFORE the global per-query ranking
    window. ``query_id_col`` may be a list for composite keys (e.g.
    (query_id, dim) in the single-pass truncation-recall eval).

    Why: ``Window.partitionBy(query_id)`` shuffles every scored
    candidate row into ``n_queries`` partitions — with a full-corpus
    scorer (brute force, PQ/ADC) that is corpus × queries rows landing
    on ``n_queries`` tasks, the one shape that cannot survive a 100×
    corpus. After this operator the window's shuffle input is bounded by
    k × n_partitions rows per query regardless of corpus size.

    Exactness: the global top-k under the total order (score desc,
    id asc) is a subset of the union of per-partition top-k under the
    SAME total order, so the downstream window still produces exactly
    the answer it produced without this step. Scores pass through
    untouched (Arrow double round-trip is lossless), so decimal-exact
    oracle hashes are preserved. Implemented as ``mapInPandas`` with a
    running top-k merge per batch — bounded memory (k × n_queries rows
    kept per partition), no JVM shuffle.

    Spark ≥3.5 inserts a partial ``WindowGroupLimit`` under a
    row_number-filter window, which also bounds the shuffle — but only
    after a FULL per-partition sort of every scored row. This operator
    replaces that sort of corpus × queries rows with an O(batch log
    batch) running merge, and guarantees the bound even where the
    group-limit rewrite doesn't fire.
    """
    schema = scored.schema
    cols = [f.name for f in schema.fields]
    merge = _topk_merger(k, query_id_col)

    def _part(batches):
        best = None
        for pdf in batches:
            if len(pdf):
                best = merge(best, pdf)
        if best is not None and len(best):
            yield best[cols]

    return scored.mapInPandas(_part, schema)


def _topk_merger(k: int, key: str | list[str]):
    """The worker-side running top-k merge: ``merge(best, cand)`` keeps
    the k best rows per ``key`` of ``best`` ∪ ``cand`` (``best`` is None
    on the first batch) under (score desc, vec_id asc). Call it on the
    driver and close over the result: a nested function ships by value,
    a module-level one by reference, and a Python worker started outside
    the repo cannot import the package.

    NULL scores sort last, as under Spark's desc(). Scorers emit NaN-free
    scores (see nan_safe_score): Arrow turns a float NaN into SQL NULL,
    and Spark orders NaN first but NULL last."""

    def merge(best, cand):
        cur = cand if best is None else pd.concat([best, cand], ignore_index=True)
        cur = cur.sort_values(
            ["score", "vec_id"],
            ascending=[False, True],
            kind="mergesort",
            na_position="last",
        )
        return cur.groupby(key, sort=False).head(k)

    return merge


def _rank_topk(
    df: DataFrame, k: int, query_id_col: str | list[str] = "query_id"
) -> DataFrame:
    """The global step of every top-k here: number each query's rows by
    (score desc, vec_id asc), keep ranks ≤ ``k``, and return (query,
    vec_id, rank, score). ``query_id_col`` may be a list for composite
    keys."""
    keys = [query_id_col] if isinstance(query_id_col, str) else list(query_id_col)
    w = Window.partitionBy(*keys).orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*keys, "vec_id", "rank", "score")
    )


def nan_safe_score(c: Column) -> Column:
    """NaN → NULL for similarity scores. Spark orders NaN GREATER than
    every double while NULL sorts LAST under ``desc()`` — and the
    Arrow/pandas hop inside :func:`local_topk` turns float NaN into SQL
    NULL regardless. Normalizing up front gives one consistent rule on
    both sides of the prune: undefined scores (zero-norm cosine,
    NaN-poisoned embeddings) rank last instead of first."""
    return F.when(~F.isnan(c), c)


def exact_dot(a: Column, b: Column) -> Column:
    """Order-stable inner product: per-element double products (IEEE
    mult is exact-rounded, identical everywhere), summed exactly in
    decimal, surfaced as double."""
    products = F.zip_with(
        a, b, lambda x, y: dec(x.cast("double") * y.cast("double"), 38, 30)
    )
    # Spark widens decimal adds to scale-1; cast back each step to keep
    # the fold type-stable (step rounding ~1e-29 ≪ double ulp of the
    # surfaced result, so the double output is unaffected).
    return F.aggregate(
        products, dec(F.lit(0), 38, 30), lambda acc, x: dec(acc + x, 38, 30)
    ).cast("double")


def int_scaled_dot(a: Column, b: Column) -> Column:
    """Order-stable inner product as an INTEGER-scaled BIGINT: each
    per-element double product rounds to 10 decimals as round(x*1e10)
    and sums as a long fold — exact, order-free, and cross-engine
    bit-identical (the linalg moment-fold convention: rounding an
    ~1e8-magnitude double at 0 decimals sits far inside both engines'
    representations, and long adds beat interpreted BigDecimal ~2.5x).
    Use where only the ORDERING of dots matters (cell argmax, bucket
    routing) or where /1e10 precision suffices; :func:`exact_dot`
    remains the convention for surfaced decimal-exact scores. DuckDB
    twin: ``SUM(CAST(ROUND(x * y * 1e10, 0) AS BIGINT))``."""
    products = F.zip_with(
        a, b, lambda x, y: scaled_long(x.cast("double") * y.cast("double"))
    )
    return F.aggregate(
        products, F.lit(0).cast("bigint"), lambda acc, x: acc + x
    )


def metric_score(metric: str, a: Column, b: Column) -> Column:
    """The shared scorer dial behind every top-k operator:

    - ``"exact"`` — decimal-exact double (:func:`exact_dot`): the
      convention for SURFACED float scores an oracle re-derives.
    - ``"int"`` — :func:`int_scaled_dot` BIGINT (the r9 integer-scaled
      convention): exact, order-free, ~2.5× cheaper than the
      interpreted BigDecimal fold, and hash-checked as an integer (no
      float rounding class at all). NaN-free by assumption — the
      embeddings fixture and the decimal companions assert it; NaN
      inputs would fold to 0-terms under the non-ANSI bigint cast
      rather than NULL, so callers with NaN-able scores keep "exact".
    - anything else — :func:`fast_dot` double (rows-only paths).

    Float metrics pass through :func:`nan_safe_score` (the local_topk
    NaN-free contract); the int metric must not — ``isnan`` does not
    type on BIGINT, and the value cannot be NaN.
    """
    if metric == "int":
        return int_scaled_dot(a, b)
    return nan_safe_score((exact_dot if metric == "exact" else fast_dot)(a, b))


def fast_dot(a: Column, b: Column) -> Column:
    """Plain double inner product — ~5× faster than :func:`exact_dot`
    (no per-element decimal casts). Deterministic for a given row (the
    fold order is the array order), but the last float bits are not
    guaranteed to match other engines' summation order — use ONLY where
    no bit-exact oracle comparison applies (LSH candidate re-scoring)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    sq = F.transform(a, lambda x: dec(x.cast("double") * x.cast("double"), 38, 30))
    return F.sqrt(
        F.aggregate(
            sq, dec(F.lit(0), 38, 30), lambda acc, x: dec(acc + x, 38, 30)
        ).cast("double")
    )


def cosine(a: Column, b: Column) -> Column:
    return exact_dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    metric: str = "dot",
) -> DataFrame:
    """Exact top-k neighbors (by ``embedding``) for each query vector.

    ``queries`` must be small (it is broadcast whole); the corpus is
    never shuffled — each scan task scores its partition and the top-k
    window reduces per query. Output: (query_id, vec_id, rank, score).
    """
    q = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qvec")
        )
    )
    paired = fan_out(corpus).crossJoin(q).filter(F.col("vec_id") != F.col("query_id"))
    if metric == "int":
        # integer-scaled BIGINT scores (see metric_score) — NaN-free by
        # construction, so no nan_safe wrap (isnan doesn't type on long)
        score = int_scaled_dot(F.col("_qvec"), F.col("embedding"))
    else:
        score = nan_safe_score(
            exact_dot(F.col("_qvec"), F.col("embedding"))
            if metric == "dot"
            else cosine(F.col("_qvec"), F.col("embedding"))
        )
    scored = paired.select("query_id", "vec_id", score.alias("score"))
    pruned = local_topk(scored, k)
    return _rank_topk(pruned, k)


def seeded_planes(
    n_tables: int, n_planes: int, dim: int
) -> list[list[list[float]]]:
    """Gaussian SRP hyperplanes from seed 42 — ONE definition shared by
    the Spark LSH operators and the generated DuckDB oracles (the plane
    literals are embedded in both, so buckets agree bit-for-bit)."""
    import random

    rng = random.Random(42)
    return [
        [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_planes)]
        for _ in range(n_tables)
    ]


def adaptive_n_planes(n_vectors: int) -> int:
    """Planes-per-table sized so the EXPECTED bucket holds about 64
    vectors: ``ceil(log2(n / 64))``, clamped to [3, 24].

    This is the knob that makes SRP-LSH bucket selectivity scale: with a
    FIXED plane count, bucket population is n / 2^planes — corpus-
    proportional — so the candidate set (and the band join's output)
    grows linearly with the corpus and the recall/cost dial silently
    becomes "score most of the corpus". Sizing planes from the corpus
    count keeps per-bucket cross products ~constant at any scale
    (1 B vectors / target 64 → 24 planes). Recall at a fixed table count
    falls as planes rise — production raises ``n_tables`` (or
    multi-probes) to buy it back; the recall floor is asserted in
    tests/test_similarity.py."""
    import math

    if n_vectors <= 64:
        return 3
    return max(3, min(24, math.ceil(math.log2(n_vectors / 64))))


def ivf_assignment_udf(centroids, n_probe: int = 1):
    """Vectorized IVF cell assignment: per batch, one (rows × dim) @
    (dim × K) matmul, then the ``n_probe`` nearest (by cosine) centroid
    ids per vector. Centroids are L2-normalized so the argmax is the
    cosine-nearest cell regardless of vector norms."""
    C = _unit_rows(np.asarray(centroids, dtype=np.float64))  # (K, D)
    n_probe = min(n_probe, len(C))

    @pandas_udf(ArrayType(IntegerType()))
    def _assign(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        mat = np.vstack([np.asarray(x, dtype=np.float64) for x in v])
        sims = mat @ C.T  # (n, K)
        # stable top-n_probe, nearest first
        top = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
        return pd.Series([row.astype("int32") for row in top])

    return _assign


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    max_iter: int = 10,
    max_train_vectors: int = MAX_TRAIN_VECTORS,
) -> list[list[float]]:
    """Coarse quantizer via seeded k-means++ (D²-weighted init +
    Lloyd's, driver-side numpy): real Voronoi cells, so probe recall
    holds when the corpus grows — the round-1 lowest-id stub
    degenerates at scale (arbitrary early vectors make skewed cells).

    Training runs on a DETERMINISTIC subsample of ≤ ~``max_train_vectors``
    (filter on ``xxhash64(id) % stride`` — stable across runs and
    partitionings, and free of density assumptions about the id space:
    a plain ``id % stride`` keeps ~0 rows when ids are sparse/offset):
    a coarse quantizer needs only enough points to place K centroids,
    and this is the standard FAISS practice; training on the full corpus
    would make quantizer fitting the dominant cost (it was 90% of the
    IVF query's wall-clock at sf0.1). Cell ASSIGNMENT still covers the
    full corpus, scan-side. Deterministic for a fixed input (seeded
    with ``SEED``).

    Why NOT ``pyspark.ml.KMeans`` for the fit itself: the training
    sample is bounded at a few thousand rows by design, and a
    distributed k-means|| fit on it is dozens of tiny Spark jobs —
    scheduler overhead, not compute (it was the dominant cost of every
    IVF query: 2.9 → 18 s round-over-round purely from job latency on
    a loaded box; FAISS likewise trains coarse quantizers in-process).
    One driver matmul per Lloyd's sweep is the honest tool at this
    size; the DISTRIBUTED parts of IVF — sampling, assignment, probe
    scoring — stay on the cluster.

    Returns plain ``list[list[float]]`` — downstream assignment UDFs
    broadcast the centroids as a numpy closure."""
    X = _train_matrix(corpus, max_train_vectors)
    if len(X) < n_centroids:
        raise ValueError(
            f"training sample has {len(X)} rows < k={n_centroids} "
            f"(max_train_vectors={max_train_vectors}); raise "
            "max_train_vectors or shrink k"
        )
    C = _fit_kmeans(X, n_centroids, SEED, max_iter)
    return [[float(x) for x in c] for c in C]


def _fit_kmeans(
    X: np.ndarray, k: int, seed: int, n_iter: int
) -> np.ndarray:
    """Seeded k-means++ (Arthur & Vassilvitskii 2007) + Lloyd's over an
    in-memory matrix. D²-weighted seeding keeps well-separated clusters
    from sharing an initial centroid (plain random-row init merges
    clusters and strands empty cells — exactly what the IVF recall
    tests would catch). Empty clusters keep their previous centroid."""
    rng = np.random.RandomState(seed)
    n = len(X)
    C = np.empty((k, X.shape[1]))
    C[0] = X[rng.randint(n)]
    d2 = ((X - C[0]) ** 2).sum(axis=1)
    for j in range(1, k):
        tot = d2.sum()
        if tot > 0:
            C[j] = X[rng.choice(n, p=d2 / tot)]
        else:  # all points coincide with chosen centroids
            C[j] = X[rng.randint(n)]
        d2 = np.minimum(d2, ((X - C[j]) ** 2).sum(axis=1))
    return _lloyd(X, C, n_iter)


def _lloyd(X: np.ndarray, C: np.ndarray, n_iter: int) -> np.ndarray:
    """``n_iter`` Lloyd's sweeps from the initial centroids ``C``
    (updated in place): assign each row to its nearest centroid, move
    each centroid to its rows' mean. Empty clusters keep their centroid."""
    for _ in range(n_iter):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(len(C)):
            mask = assign == c
            if mask.any():
                C[c] = X[mask].mean(axis=0)
    return C


def _train_matrix(corpus: DataFrame, max_train_vectors: int) -> np.ndarray:
    """Deterministic ≤ ``max_train_vectors`` training subsample of the
    ``embedding`` column via ``xxhash64(vec_id) % stride`` (hash, not
    raw id, so sparse/offset id spaces still sample at the intended
    rate), fetched in id order as a float64 (rows × dim) matrix: the
    trainers' seeding picks rows by index, so the order is part of the
    answer. The stride keeps about n / stride ≤ ``max_train_vectors``
    rows, not at most that many, so the sample is then cut to its
    ``max_train_vectors`` lowest ids. Undersample guarding happens in
    the trainers, which know their k."""
    n = corpus.count()
    if n > max_train_vectors:
        stride = -(-n // max_train_vectors)  # ceil → ~max_train_vectors kept
        corpus = (
            corpus.filter(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(stride)) == 0)
            .orderBy("vec_id")
            .limit(max_train_vectors)
        )
    sample = collect_bounded(
        corpus.select("vec_id", "embedding"), max_train_vectors, "training sample"
    ).sort_by("vec_id")
    return np.array(sample.column("embedding").to_pylist(), dtype=np.float64)


def _unit_rows(C: np.ndarray) -> np.ndarray:
    """``C`` with each row scaled to unit L2 norm (zero rows stay zero):
    centroids in the cosine form every IVF cell assignment uses."""
    return C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    n_probe: int = 4,
    k: int = 5,
    metric: str = "fast",
    train_max_iter: int = 10,
    max_train_vectors: int = MAX_TRAIN_VECTORS,
) -> DataFrame:
    """IVF approximate top-k: corpus partitioned into Voronoi cells of a
    coarse quantizer; each query scores only the ``n_probe`` nearest
    cells — the classic FAISS-style recall/cost dial, Spark-shaped:

    - cell assignment is scan-side (vectorized UDF, no shuffle);
    - the query→cell fan-out (small) broadcasts;
    - per-cell scoring is a broadcast hash join + fast_dot, so the
      corpus is scanned once and never shuffled;
    - top-k via per-query window on the scored candidates.

    ``metric="exact"`` scores with the decimal-exact dot instead of
    ``fast_dot`` — use for oracle-paired variants (probe-all ≡ brute
    force bit-for-bit, for ANY quantizer — pass ``train_max_iter=1``
    there, convergence buys nothing when every cell is probed).

    The cell-assignment UDF runs once per query: ``_cell`` is declared
    NOT NULL, so the join on it infers no ``isnotnull`` filter that
    Catalyst would push through the assigning projection.
    """
    cents = train_ivf_centroids(
        corpus, n_centroids, max_iter=train_max_iter,
        max_train_vectors=max_train_vectors,
    )
    c_assign = ivf_assignment_udf(cents, n_probe=1)
    q_assign = ivf_assignment_udf(cents, n_probe=n_probe)

    # NOT NULL (coalesced to -1, a cell no query probes): the join on
    # _cell then implies isnotnull(_cell) instead of inferring it as a
    # filter, which Catalyst would push through this projection and so
    # call the assignment UDF a second time
    corpus_cells = fan_out(corpus.select("vec_id", "embedding")).withColumn(
        "_cell", F.coalesce(F.element_at(c_assign(F.col("embedding")), 1), F.lit(-1))
    )
    query_cells = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("_qvec"),
            F.explode(q_assign(F.col("embedding"))).alias("_cell"),
        )
    )
    scored = (
        corpus_cells.join(query_cells, "_cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            metric_score(metric, F.col("_qvec"), F.col("embedding")).alias("score"),
        )
    )
    pruned = local_topk(scored, k)
    return _rank_topk(pruned, k)


def srp_signatures_batch(planes_tables: list[list[list[float]]]):
    """All hash tables' SRP signatures in one vectorized pass: a
    ``pandas_udf`` returning ``array<long>`` (one packed signature per
    table).

    Why a UDF and not a Spark expression per plane: inlining n_tables ×
    n_planes × dim literal hyperplanes builds a ~10⁵-node expression
    tree — past codegen limits Catalyst falls back to interpreted eval,
    ~50× slower. Here the planes live in ONE numpy array captured by
    the closure and each Arrow batch is a single (batch × dim) @
    (dim × tables·planes) matmul — the sanctioned vectorized-UDF
    escape hatch for linear algebra Spark expressions can't express.
    Sign convention: dot ≥ 0 → bit set, bit i for plane i.
    """
    P = np.asarray(planes_tables, dtype=np.float64)  # (T, B, D)
    n_tables, n_bits, dim = P.shape
    flat = P.reshape(n_tables * n_bits, dim)
    weights = (np.int64(1) << np.arange(n_bits, dtype=np.int64))

    @pandas_udf(ArrayType(LongType()))
    def _sigs(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        mat = np.vstack([np.asarray(x, dtype=np.float64) for x in v])
        bits = (mat @ flat.T) >= 0  # (n, T*B)
        sigs = (bits.reshape(len(mat), n_tables, n_bits) * weights).sum(axis=2)
        return pd.Series(list(sigs))

    return _sigs


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes_tables: list[list[list[float]]],
    k: int = 5,
    metric: str = "fast",
    probe_bits: int = 0,
) -> DataFrame:
    """Approximate top-k: score only candidates sharing an SRP bucket
    with the query in ≥1 hash table. ``metric="exact"`` swaps the
    candidate re-score to the decimal-exact dot for oracle-paired use.

    ``planes_tables`` is ``n_tables`` lists of hyperplanes. All tables'
    signatures are computed in ONE corpus scan and exploded to
    (table, sig) rows; the (small) query side broadcasts its exploded
    signatures, so the candidate join never shuffles the corpus. Only
    light (query_id, id) pairs are deduped; vectors are re-attached to
    the surviving candidates via broadcast joins — the standard
    recall/cost dial for ANN at 100 TB.

    ``probe_bits`` enables MULTI-PROBE (Lv et al., VLDB'07): each query
    additionally probes the buckets reached by flipping each of the
    first ``probe_bits`` signature bits (``probe_bits = n_planes`` ⇒
    full Hamming-1 coverage, 1 + n_planes buckets per table). A
    near-miss pair differs in few sign bits, so 1-bit probes recover
    most of the recall that extra planes cost — WITHOUT touching the
    corpus side: the fan-out is query-side only (still broadcast-
    small), so at high plane counts this dial buys recall at
    candidate-set cost instead of table-count cost (every extra table
    re-scans and re-shuffles corpus signatures). Candidate-set
    monotonicity (multiprobe ⊇ single-probe, same planes) is asserted
    in tests."""

    sig_udf = srp_signatures_batch(planes_tables)
    n_planes = len(planes_tables[0])
    if not 0 <= probe_bits <= n_planes:
        raise ValueError(f"probe_bits={probe_bits} outside [0, {n_planes}]")
    c_sig = (
        fan_out(corpus.select("vec_id", "embedding"))
        .select("vec_id", F.posexplode(sig_udf(F.col("embedding"))).alias("_t", "_s"))
    )
    q_base = queries.select(
        F.col("vec_id").alias("query_id"),
        F.posexplode(sig_udf(F.col("embedding"))).alias("_t", "_s"),
    )
    if probe_bits:
        masks = F.array(F.lit(0), *[F.lit(1 << j) for j in range(probe_bits)])
        q_base = q_base.select(
            "query_id",
            "_t",
            "_s",
            F.explode(masks).alias("_m"),
        ).select(
            "query_id",
            "_t",
            F.col("_s").bitwiseXOR(F.col("_m")).alias("_s"),
        )
    q_sig = F.broadcast(q_base)
    cands = (
        c_sig.join(q_sig, ["_t", "_s"])
        .select("query_id", "vec_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = (
        cands.join(
            F.broadcast(
                queries.select(
                    F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qvec")
                )
            ),
            "query_id",
        )
        # Only the QUERY side is broadcast-hinted: the candidate set is
        # O(corpus × bucket-collision rate), so forcing it into a
        # broadcast ships a corpus-proportional relation to every
        # executor when bucket selectivity is low (and locally adds a
        # materialization barrier — the round-3 2.3× regression). Left
        # unhinted, AQE broadcasts the candidates only when their
        # RUNTIME size is actually small, else plans a shuffle
        # equi-join on vec_id.
        # fan_out: the corpus probe side of this join inherits the raw
        # scan's partitioning — locally a single row-group ⇒ ONE task
        # evaluating every candidate dot product (56 s vs 3 s for the
        # decimal metric at sf0.1); on a cluster the scan is already
        # split and fan_out is a no-op.
        .join(fan_out(corpus.select("vec_id", "embedding")), "vec_id")
        .select(
            "query_id",
            "vec_id",
            # fast_dot default: rows-only ranking needs within-run
            # determinism only; "exact"/"int" buy bit-exact oracle match.
            metric_score(metric, F.col("_qvec"), F.col("embedding")).alias(
                "score"
            ),
        )
    )
    pruned = local_topk(scored, k)
    return _rank_topk(pruned, k)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the embedding-compression path at corpus
# scale: a 64-d float32 vector (256 B) becomes m uint8 codes (m B, 32×
# smaller at m=8), and approximate scoring runs over codes + a per-query
# lookup table without touching raw vectors.
# ---------------------------------------------------------------------------


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    n_iter: int = 10,
) -> np.ndarray:
    """Train per-subspace codebooks: split dims into ``m`` contiguous
    subspaces, run seeded Lloyd's k-means (``n_codes`` centroids) per
    subspace on a deterministic ≤``MAX_TRAIN_VECTORS`` subsample,
    driver-side in numpy. Codebook training is a constant-size problem
    (the sample bounds it) regardless of corpus size — the corpus-scale
    work is encoding/scoring, which stays distributed.

    Returns codebooks of shape (m, n_codes, dim // m)."""
    X = _train_matrix(corpus, MAX_TRAIN_VECTORS)
    return _fit_pq(X, m, n_codes, n_iter)


def _fit_pq(X: np.ndarray, m: int, n_codes: int, n_iter: int) -> np.ndarray:
    """Per-subspace seeded Lloyd's over an in-memory training matrix —
    shared by raw-vector PQ and residual (IVF-PQ) training."""
    if len(X) < n_codes:
        raise ValueError(
            f"training sample has {len(X)} rows < n_codes={n_codes} "
            f"(MAX_TRAIN_VECTORS={MAX_TRAIN_VECTORS}); shrink n_codes"
        )
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    rng = np.random.RandomState(SEED)
    books = np.empty((m, n_codes, sub))
    for j in range(m):
        Xj = X[:, j * sub : (j + 1) * sub]
        # seeded k-means++ -ish init: distinct random rows
        idx = rng.choice(len(Xj), size=n_codes, replace=False)
        books[j] = _lloyd(Xj, Xj[idx].copy(), n_iter)
    return books


def _zero_cell(codebooks: np.ndarray) -> np.ndarray:
    """One all-zero IVF cell: plain PQ runs as IVF-PQ over it. The
    residual ``x − 0`` is ``x`` bit for bit and every ``q · 0`` offset
    is +0.0, so codes and ADC scores equal raw-vector PQ's."""
    m, _, sub = np.shape(codebooks)
    return np.zeros((1, m * sub))


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 5,
    rerank: int = 0,
    rerank_metric: str = "fast",
) -> DataFrame:
    """Asymmetric-distance top-k: corpus is scored from its PQ codes
    only. Per query, precompute a (m × n_codes) lookup table of partial
    dot products query_sub · centroid; a corpus vector's approximate
    score is the sum of m table lookups — no raw corpus vectors move.

    ``rerank > k`` enables the standard two-stage refinement: take the
    top-``rerank`` ADC shortlist, re-score JUST those candidates against
    raw vectors (broadcast join back), return exact-ranked top-k. ADC
    alone cannot rank within a quantization cell (cell-mates share codes
    → tied scores); re-ranking restores fine order while still scanning
    the full corpus only in compressed form.

    Runs as :func:`ivfpq_topk` over one all-zero cell
    (:func:`_zero_cell`), which probes every row: same codes, same
    scores, same fused scan-side scoring and per-partition top-k, same
    shape. Corpus rows whose id EQUALS the query id are excluded
    (self-match), as in the other top-k paths."""
    return ivfpq_topk(
        corpus, queries, _zero_cell(codebooks), codebooks, k=k, n_probe=1,
        rerank=rerank, rerank_metric=rerank_metric,
    )


# ---------------------------------------------------------------------------
# IVF-PQ — the FAISS composite index: coarse Voronoi partitioning (IVF)
# over PQ-compressed RESIDUALS. The production shape for billion-vector
# corpora: probing visits a few cells (IVF's selectivity) and scoring
# reads only codes (PQ's compression); residual encoding beats raw-vector
# PQ because residuals have ~centroid-distance magnitude, so the same
# code budget buys finer quantization.
# ---------------------------------------------------------------------------


def train_ivfpq_codebooks(
    corpus: DataFrame,
    centroids,
    m: int = 8,
    n_codes: int = 16,
    n_iter: int = 10,
) -> np.ndarray:
    """PQ codebooks trained on coarse-quantizer RESIDUALS
    ``x − centroid(cell(x))``: same deterministic ≤``MAX_TRAIN_VECTORS``
    sample and per-subspace Lloyd's as :func:`train_pq_codebooks`, with
    cell assignment + subtraction done in one numpy pass driver-side
    (training is a bounded-sample problem; encoding stays distributed).
    Assignment uses the same cosine-to-normalized-centroid rule as
    :func:`ivf_assignment_udf`, so training and encoding agree."""
    C = np.asarray(centroids, dtype=np.float64)
    X = _train_matrix(corpus, MAX_TRAIN_VECTORS)
    if len(X):
        cells = (X @ _unit_rows(C).T).argmax(axis=1)
        X = X - C[cells]
    return _fit_pq(X, m, n_codes, n_iter)


def ivfpq_encode_udf(centroids, codebooks: np.ndarray):
    """Scan-side IVF-PQ encoder: per Arrow batch, assign each vector
    its (cosine-)nearest cell, subtract that cell's raw centroid, and
    PQ-encode the residual. Returns ``struct<cell int, codes
    array<int>>`` — the entire stored index entry (~1+m small ints per
    vector, the 32× storage story)."""
    C = np.asarray(centroids, dtype=np.float64)  # (K, D)
    Cn = _unit_rows(C)
    books = np.asarray(codebooks, dtype=np.float64)  # (m, k, sub)
    m, _, sub = books.shape
    schema = StructType(
        [
            StructField("cell", IntegerType()),
            StructField("codes", ArrayType(IntegerType())),
        ]
    )

    @pandas_udf(schema)
    def _encode(v: pd.Series) -> pd.DataFrame:
        if len(v) == 0:
            return pd.DataFrame({"cell": [], "codes": []})
        X = np.vstack([np.asarray(x, dtype=np.float64) for x in v])
        cells = (X @ Cn.T).argmax(axis=1).astype("int32")
        R = X - C[cells]
        codes = np.empty((len(X), m), dtype=np.int32)
        for j in range(m):
            Rj = R[:, j * sub : (j + 1) * sub]
            d2 = ((Rj[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
            codes[:, j] = d2.argmin(axis=1)
        return pd.DataFrame({"cell": cells, "codes": list(codes)})

    return _encode


# the query batch ivfpq_topk fetches to the driver: each Arrow batch
# scores into a (rows × queries) matrix, 80 MB at 10k rows × 1,024
MAX_ADC_QUERIES = 1_024


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids,
    codebooks: np.ndarray,
    k: int = 5,
    n_probe: int = 4,
    rerank: int = 0,
    rerank_metric: str = "fast",
) -> DataFrame:
    """IVF-PQ top-k by inner product: score only corpus rows whose cell
    is among each query's ``n_probe`` nearest cells, from codes alone:

        score(q, x) ≈ q·centroid(cell) + Σ_j LUT_q[j, codes_j]

    (the decomposition q·(c + r̂) with r̂ the decoded residual — exact
    up to quantization error; one LUT per query since codebooks are
    global). Driver-side per query: a (K,) cell-offset row, a probe
    mask, and an (m × n_codes) LUT — all O(queries), broadcast in the
    UDF closure, for at most ``MAX_ADC_QUERIES`` queries. Corpus-side:
    ONE scan over (cell, codes), scoring + per-partition
    top-``max(k, rerank)`` fused in one ``mapInPandas``:
    the (rows × queries) score matrix lives only inside each Arrow
    batch, unprobed rows are masked out before any candidate frame
    materializes, and each partition emits at most max(k, rerank) ×
    n_queries light rows — nothing corpus-sized crosses into the JVM or
    shuffles. Query ids keep their native type end-to-end (schema taken
    from the query frame).

    ``rerank > k`` re-scores the top-``rerank`` shortlist against raw
    vectors with ``rerank_metric`` (see :func:`pq_adc_topk`); ``rerank``
    ≥ corpus with ``n_probe`` ≥ n_cells degrades to exact brute force
    (the oracle-pairing limit, like the other ANN paths).
    """
    C = np.asarray(centroids, dtype=np.float64)  # (K, D)
    books = np.asarray(codebooks, dtype=np.float64)
    m, n_codes, sub = books.shape
    n_probe = min(n_probe, len(C))

    # each query is scored and ranked on its own, so the fetch order of
    # the query rows does not matter
    q_rows = collect_bounded(
        queries.select("vec_id", "embedding"), MAX_ADC_QUERIES, "ivfpq_topk queries"
    )
    q_ids = pd.Series(q_rows.column("vec_id").to_pylist())
    Q = np.array(q_rows.column("embedding").to_pylist(), dtype=np.float64)
    n_q = len(q_ids)
    cell_sims = Q @ _unit_rows(C).T  # probe choice: same metric as assignment
    probe_rank = np.argsort(-cell_sims, axis=1, kind="stable")[:, :n_probe]
    probed = np.zeros((n_q, len(C)), dtype=bool)
    np.put_along_axis(probed, probe_rank, True, axis=1)
    offsets = Q @ C.T  # (n_q, K) raw-centroid dot — the q·c term
    # LUT[q, j, c] = Q[q, subspace j] · centroid c of subspace j
    lut = np.einsum("qjs,jcs->qjc", Q.reshape(n_q, m, sub), books)
    n_keep = max(k, rerank)

    encode = ivfpq_encode_udf(C, books)
    coded = (
        fan_out(corpus.select("vec_id", "embedding"))
        .select("vec_id", encode(F.col("embedding")).alias("_e"))
        .select(
            "vec_id", F.col("_e.cell").alias("_cell"), F.col("_e.codes").alias("_codes")
        )
    )
    out_schema = StructType(
        [
            StructField("query_id", queries.schema["vec_id"].dataType),
            StructField("vec_id", corpus.schema["vec_id"].dataType),
            StructField("score", DoubleType()),
        ]
    )

    merge = _topk_merger(n_keep, "query_id")

    def _score_local_topk(batches):
        best = None
        for pdf in batches:
            if not len(pdf):
                continue
            cells = pdf["_cell"].to_numpy()
            Cd = np.vstack([np.asarray(c, dtype=np.int64) for c in pdf["_codes"]])
            sc = offsets[:, cells].T.copy()  # (n, n_q)
            for j in range(m):
                sc += lut[:, j, Cd[:, j]].T
            mask = probed[:, cells].T  # (n, n_q)
            rows, qs = np.nonzero(mask)
            if not len(rows):
                continue
            cand = pd.DataFrame(
                {
                    "query_id": q_ids.to_numpy()[qs],
                    "vec_id": pdf["vec_id"].to_numpy()[rows],
                    "score": sc[rows, qs],
                }
            )
            best = merge(best, cand[cand["query_id"] != cand["vec_id"]])
        if best is not None and len(best):
            yield best[["query_id", "vec_id", "score"]]

    shortlist = _rank_topk(
        coded.mapInPandas(_score_local_topk, out_schema), n_keep
    )
    if rerank <= k:
        return shortlist
    qvecs = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qvec")
        )
    )
    refined = (
        F.broadcast(shortlist.select("query_id", "vec_id"))
        .join(corpus.select("vec_id", "embedding"), "vec_id")
        .join(qvecs, "query_id")
        .select(
            "query_id",
            "vec_id",
            # rerank_metric="exact"/"int": with rerank ≥ corpus size the
            # shortlist is the whole corpus and the refined ranking is
            # bit-identical to brute force — the oracle-paired limit
            # proof of the two-stage path (knn_pq_exact_rerankall)
            metric_score(
                rerank_metric, F.col("_qvec"), F.col("embedding")
            ).alias("score"),
        )
    )
    return _rank_topk(refined, k)


def rrf_fuse(ranked_lists: list[DataFrame], k: int = 5) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR'09) —
    THE standard way hybrid retrieval merges a sparse (lexical) and a
    dense (embedding) ranking without score calibration: each list
    contributes 1/(60 + rank) per candidate, candidates missing from a
    list contribute 0, and the fused ordering depends only on RANKS —
    immune to the incomparable score scales that make weighted-sum
    fusion fragile.

    Inputs: each DataFrame carries (``query_id``, ``cand_id``, ``rank``)
    with rank 1-based within query. Shape at scale: per-query candidate sets
    are k-bounded upstream, so the full-outer rank join and the final
    per-query top-k window move k·|lists| rows per query — the fusion
    itself never touches corpus-sized data.

    Returns (``query_id``, ``cand_id``, ``rrf_score``, ``fused_rank`` ≤ k).
    """
    from functools import reduce

    tagged = [
        df.select(
            F.col("query_id"),
            F.col("cand_id"),
            F.col("rank").alias(f"_r{i}"),
        )
        for i, df in enumerate(ranked_lists)
    ]
    fused = reduce(
        lambda a, b: a.join(b, ["query_id", "cand_id"], "full_outer"), tagged
    )
    score = reduce(
        lambda a, b: a + b,
        [
            F.coalesce(
                F.lit(1.0)
                / (F.lit(60.0) + F.col(f"_r{i}").cast("double")),
                F.lit(0.0),
            )
            for i in range(len(tagged))
        ],
    )
    win = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("cand_id")
    )
    return (
        fused.withColumn("rrf_score", score)
        .withColumn("fused_rank", F.row_number().over(win))
        .filter(F.col("fused_rank") <= k)
        .select("query_id", "cand_id", "rrf_score", "fused_rank")
    )


def mmr_rerank(
    shortlist: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein,
    SIGIR'98) — the diversity-aware final stage of a retrieval stack:
    iteratively pick argmax of λ·relevance − (1−λ)·max-similarity-to-
    already-selected, so near-duplicate candidates (which plain top-k
    happily returns k times over) cost their redundancy. λ=1 reduces to
    plain top-k; λ→0 maximizes spread.

    Inputs: ``shortlist`` = (query_id, vec_id, score) from ANY upstream
    ranker (brute force, LSH, IVF-PQ — k-bounded per query by
    construction); ``corpus`` supplies candidate ``embedding``s via one hash
    join. The greedy loop is inherently sequential per query, so it
    runs as an Arrow-batched grouped map (``applyInPandas`` per
    query_id) over shortlist-sized groups — corpus-scale work stays in
    the upstream ranker, this stage touches ≤ shortlist × D floats per
    query. Deterministic: float64 arithmetic with an id-ascending
    tiebreak.

    Returns (query_id, vec_id, ``mmr_rank`` 1..k, score).
    """
    cands = shortlist.join(
        corpus.select(F.col("vec_id"), F.col("embedding").alias("_cvec")), "vec_id"
    )

    def _mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["score", "vec_id"], ascending=[False, True])
        ids = pdf["vec_id"].to_numpy()
        rel = pdf["score"].to_numpy(dtype=np.float64)
        vecs = np.asarray(pdf["_cvec"].tolist(), dtype=np.float64)
        norms = np.linalg.norm(vecs, axis=1)
        norms[norms == 0] = 1.0
        unit = vecs / norms[:, None]
        n = len(ids)
        chosen: list[int] = []
        max_sim = np.full(n, -np.inf)
        available = np.ones(n, dtype=bool)
        for _ in range(min(k, n)):
            mmr = lam * rel - (1 - lam) * np.where(
                np.isfinite(max_sim), max_sim, 0.0
            )
            mmr[~available] = -np.inf
            # argmax with id-ascending tiebreak: ids are sorted within
            # equal scores already, and np.argmax takes the first max
            best = int(np.argmax(mmr))
            chosen.append(best)
            available[best] = False
            sims = unit @ unit[best]
            max_sim = np.maximum(max_sim, sims)
        out = pdf.iloc[chosen][["query_id", "vec_id", "score"]].copy()
        out.insert(2, "mmr_rank", np.arange(1, len(chosen) + 1))
        return out

    out_schema = "query_id long, vec_id long, mmr_rank int, score double"
    return cands.groupBy("query_id").applyInPandas(_mmr, out_schema)


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: for
    each anchor, the top-k most similar corpus vectors whose ``label``
    DIFFERS from the anchor's (the negatives closest to the decision
    boundary — the pairs that actually move an InfoNCE loss).

    Same distribution discipline as :func:`brute_force_topk`: anchors
    broadcast whole with their labels, the corpus is never shuffled
    (each scan task scores its partition, the label inequality prunes
    scan-side before any scoring), and :func:`local_topk` bounds the
    ranking window's shuffle to k × partitions rows per anchor. The
    decimal-exact dot keeps the output oracle-checkable; scores round
    to 12 digits before ranking on both engines (the r05 cosine
    convention) so float formatting can't flip a rank tie. Output:
    (anchor_id, vec_id, rank, score).

    Production path at corpus scale: ANN-shortlist each anchor
    (knn_lsh_ann / knn_ivf_ann), filter same-label from the shortlist,
    exact re-rank the survivors — identical tail to this operator, the
    shortlist just replaces the full scan.
    """
    a = F.broadcast(
        anchors.select(
            F.col("vec_id").alias("anchor_id"),
            F.col("embedding").alias("_avec"),
            F.col("label").alias("_albl"),
        )
    )
    paired = (
        fan_out(corpus)
        .crossJoin(a)
        .filter(
            (F.col("vec_id") != F.col("anchor_id"))
            & (F.col("label") != F.col("_albl"))
        )
    )
    scored = paired.select(
        "anchor_id",
        "vec_id",
        nan_safe_score(
            F.round(exact_dot(F.col("_avec"), F.col("embedding")), 12)
        ).alias("score"),
    )
    pruned = local_topk(scored, k, "anchor_id")
    return _rank_topk(pruned, k, "anchor_id")


def as_token_matrix(vec: Column, n_tokens: int) -> Column:
    """Reinterpret a flat D-dim vector as ``n_tokens`` contiguous
    sub-vectors of D/n_tokens dims (array<array<...>>) — the
    multi-vector ("late interaction" / ColBERT) document
    representation. On the synthetic fixture this is a deterministic
    stand-in for real per-token embeddings; production feeds an actual
    ``array<array<float>>`` token-embedding column into
    :func:`maxsim_topk` directly and skips this reshape."""
    sub = F.size(vec) / n_tokens
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_tokens - 1)),
        lambda t: F.slice(vec, (t * sub + 1).cast("int"), sub.cast("int")),
    )


def maxsim_score(qmat: Column, dmat: Column) -> Column:
    """Late-interaction MaxSim: Σ_i max_j dot(q_i, d_j) over token
    sub-vectors. Inner dots are decimal-exact (:func:`exact_dot`
    composition), the per-query-token max is over identical doubles on
    any engine, and the outer sum folds in DECIMAL — fully
    order-independent, so the score is oracle-checkable bit-for-bit."""
    per_q = F.transform(
        qmat,
        lambda qv: F.array_max(
            F.transform(dmat, lambda dv: exact_dot(qv, dv))
        ),
    )
    return F.aggregate(
        per_q, dec(F.lit(0), 38, 30), lambda acc, x: dec(acc + dec(x, 38, 30), 38, 30)
    ).cast("double")


def maxsim_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_tokens: int,
    k: int = 5,
) -> DataFrame:
    """Multi-vector (late-interaction) top-k retrieval: each document
    and query is a BAG of token sub-vectors; relevance is MaxSim
    (every query token finds its best-matching document token, scores
    sum). This is the retrieval shape single-vector ANN cannot
    express — token-level matching survives pooling loss.

    Distribution is the :func:`brute_force_topk` discipline unchanged:
    queries broadcast whole (token matrices included), every corpus
    scan task scores its partition scan-side — the token×token grid
    lives INSIDE a row expression, never as a join — and
    :func:`local_topk` bounds the ranking shuffle to k × partitions
    rows per query. Production at corpus scale replaces the full scan
    with token-level ANN candidate generation (each query token probes
    the index; union of hits re-scores under full MaxSim) — the same
    shortlist-then-exact tail as the PQ/IVF family.
    """
    q = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"),
            as_token_matrix(F.col("embedding"), n_tokens).alias("_qmat"),
        )
    )
    c = fan_out(corpus).select(
        "vec_id", as_token_matrix(F.col("embedding"), n_tokens).alias("_dmat")
    )
    paired = c.crossJoin(q).filter(F.col("vec_id") != F.col("query_id"))
    scored = paired.select(
        "query_id",
        "vec_id",
        nan_safe_score(maxsim_score(F.col("_qmat"), F.col("_dmat"))).alias(
            "score"
        ),
    )
    pruned = local_topk(scored, k)
    return _rank_topk(pruned, k)
