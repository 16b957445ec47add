"""Similarity-search queries over the embeddings table (north-star
§2.11). The brute-force query has a full DuckDB oracle (exact decimal
dot products on both sides); the LSH variant is approximate by design →
rows-only check, with recall asserted in unit tests instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from technical_test_data_engineer_spark.functions.scalars import (
    dec,
    exact_sum,
    scaled_long,
    unscale,
)
from technical_test_data_engineer_spark.operators.bounded import (
    collect_bounded,
    local_frame,
)
from technical_test_data_engineer_spark.operators.partitioning import (
    ordered_python_stage,
)
from technical_test_data_engineer_spark.operators.similarity import (
    adaptive_n_planes,
    brute_force_topk,
    ivf_topk,
    lsh_topk,
    seeded_planes,
)
from technical_test_data_engineer_spark.plans.star_queries import query
from technical_test_data_engineer_spark.sources.parquet_source import load_table

N_QUERIES = 5
TOP_K = 5

# Exact-proof corpus bound for the ANN companion queries: INACTIVE at
# the driver's correctness scale (sf0.01 has 500 vectors — the whole
# corpus is checked) but keeps the decimal-exact full-scoring proofs
# from dominating bench wall-clock at sf0.1+ — the same bounded-subset
# convention as embedding_near_dup_exact / ngram_jaccard_pairs.
EXACT_BOUND = 800

# Tighter bound for the PQ limit-proof companion only: its exact
# re-rank stage scores rerank × n_queries pairs with the decimal dot
# (~5× a double fold), so at EXACT_BOUND it alone was 22% of the whole
# 112-query bench (17.2 s at sf0.1, round 3). The exact-in-the-limit
# property holds for ANY bound — 256 exercises the identical machinery
# at ~1/10 the decimal work. LSH/IVF keep EXACT_BOUND (their candidate
# sets are bucket-/cell-pruned, so the larger proof corpus is cheap).
PQ_EXACT_BOUND = 256


def _exact_topk_oracle(bound: int | None = None, int_scaled: bool = False) -> str:
    """Exact top-k oracle, shared by knn_bruteforce (unbounded;
    int-scaled since r11 — the decimal last-ulp gate anchor now rides
    knn_ivfpq_exact + embedding_label_centroids)
    and the probe-all IVF / rerank-all PQ companions (probing every
    cell / reranking everything scores every corpus vector exactly
    once, so with an exact scorer the ranking is bit-identical to brute
    force by construction). ``int_scaled=True`` emits the r10 integer-
    scaled convention (SUM(ROUND(x·y·1e10)) AS BIGINT ``score_e10`` —
    the int_scaled_dot twin): exact, integer-hashed, ~2.5× cheaper than
    the interpreted decimal fold on the Spark side."""
    where = f"WHERE vec_id < {bound}" if bound else ""
    if int_scaled:
        # outer CAST: DuckDB SUM(BIGINT) widens to HUGEINT, which the
        # driver's pandas fetch floats to float64 (the q12 red class) —
        # BIGINT keeps the int64 type tag Spark surfaces
        score_expr = """CAST((
                   SELECT SUM(CAST(ROUND(x * y * 1e10, 0) AS BIGINT))
                   FROM (SELECT UNNEST(CAST(q.qvec AS DOUBLE[])) AS x,
                                UNNEST(CAST(e.embedding AS DOUBLE[])) AS y)
               ) AS BIGINT)"""
        score_col = "score_e10"
    else:
        score_expr = """CAST((
                   SELECT SUM(CAST(x * y AS DECIMAL(38,30)))
                   FROM (SELECT UNNEST(CAST(q.qvec AS DOUBLE[])) AS x,
                                UNNEST(CAST(e.embedding AS DOUBLE[])) AS y)
               ) AS DOUBLE)"""
        score_col = "score"
    return f"""
    WITH corpus AS (SELECT * FROM embeddings {where}),
    q AS (
        SELECT vec_id AS query_id, embedding AS qvec
        FROM corpus WHERE vec_id < {N_QUERIES}
    ),
    scored AS (
        SELECT q.query_id, e.vec_id,
               {score_expr} AS {score_col}
        FROM corpus e CROSS JOIN q
        WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, rank, {score_col}
    FROM (
        SELECT query_id, vec_id, {score_col},
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY {score_col} DESC, vec_id ASC
               ) AS INTEGER) AS rank
        FROM scored
    )
    WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """


def _seeded_planes(n_tables: int = 8, n_planes: int = 3, dim: int = 64):
    """The seeded SRP hyperplanes shared by the Spark LSH queries and
    the generated DuckDB oracle — one definition, two consumers."""
    return seeded_planes(n_tables, n_planes, dim)


def srp_sigs_sql(planes_tables, bound: int | None = None) -> str:
    """DuckDB SQL computing every hash table's SRP sign-bucket per
    vector — the oracle-side twin of ``srp_signatures_batch``
    (list_dot_product against literal planes, same ``>= 0`` convention).
    Plane literals are repr'd doubles (shortest round-trip), so both
    engines hash the same buckets; sign flips would need a dot within
    float summation error of 0 (~1e-14 odds per pair, negligible).
    Shared by every generated LSH oracle (top-k and near-dup pairs)."""
    where = f"WHERE vec_id < {bound}" if bound else ""
    per_table = []
    for t, planes in enumerate(planes_tables):
        terms = []
        for i, plane in enumerate(planes):
            lit = "[" + ", ".join(repr(float(v)) for v in plane) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product("
                f"CAST(embedding AS DOUBLE[]), {lit}) >= 0 "
                f"THEN {1 << i} ELSE 0 END)"
            )
        per_table.append(
            f"SELECT vec_id, {t} AS tbl, ({' + '.join(terms)}) AS bucket "
            f"FROM embeddings {where}"
        )
    return " UNION ALL ".join(per_table)


def _lsh_exact_oracle(
    planes_tables, bound: int | None = None, probe_bits: int = 0
) -> str:
    """Generated oracle for the full LSH top-k pipeline: seeded
    sign-buckets (srp_sigs_sql), candidate join per hash table, distinct
    pairs, integer-scaled exact re-score (the r10 ``score_e10``
    convention — int_scaled_dot's DuckDB twin), per-query ranking.

    ``probe_bits`` > 0 (r11) additionally enumerates each query's
    Hamming-1 probe buckets from the SAME plane literals — the
    lsh_topk multi-probe twin: bucket XOR m for m ∈ {0} ∪ {1<<j}.
    With probe_bits=0 the emitted text is byte-identical to the r10
    form (knn_lsh_exact's green oracle is unchanged)."""
    sigs = srp_sigs_sql(planes_tables, bound)
    if probe_bits:
        masks = ", ".join(["0"] + [str(1 << j) for j in range(probe_bits)])
        probe_cte = f""",
    probes AS (
        SELECT DISTINCT query_id, tbl, XOR(bucket, m) AS bucket
        FROM q CROSS JOIN (SELECT UNNEST([{masks}]) AS m)
    )"""
        cand_src = "probes q"
    else:
        probe_cte = ""
        cand_src = "q"
    return f"""
    WITH sigs AS ({sigs}),
    q AS (
        SELECT vec_id AS query_id, tbl, bucket FROM sigs
        WHERE vec_id < {N_QUERIES}
    ){probe_cte},
    cands AS (
        SELECT DISTINCT q.query_id, s.vec_id
        FROM sigs s JOIN {cand_src} ON s.tbl = q.tbl AND s.bucket = q.bucket
        WHERE s.vec_id <> q.query_id
    ),
    scored AS (
        SELECT c.query_id, c.vec_id,
               CAST((
                   SELECT SUM(CAST(ROUND(x * y * 1e10, 0) AS BIGINT))
                   FROM (SELECT UNNEST(CAST(eq.embedding AS DOUBLE[])) AS x,
                                UNNEST(CAST(ec.embedding AS DOUBLE[])) AS y)
               ) AS BIGINT) AS score_e10
        FROM cands c
        JOIN embeddings eq ON eq.vec_id = c.query_id
        JOIN embeddings ec ON ec.vec_id = c.vec_id
    )
    SELECT query_id, vec_id, rank, score_e10
    FROM (
        SELECT query_id, vec_id, score_e10,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY score_e10 DESC, vec_id ASC
               ) AS INTEGER) AS rank
        FROM scored
    )
    WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """


@query("knn_bruteforce", _exact_topk_oracle(int_scaled=True))
def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 nearest neighbors (dot product ≡ cosine — the corpus
    is unit-normalized) for 5 probe vectors, broadcast-scan plan.

    r11: migrated to the integer-scaled BIGINT convention
    (``score_e10`` = int_scaled_dot; shared oracle with
    ``int_scaled=True``) — the r10 driver bench flagged this query
    3.7× (0.80 → 2.96 s) on an unchanged plan because the sibling
    migrations left it the last HEAVY consumer of the interpreted-
    BigDecimal fold family, whose JIT burn-in volume the bench no
    longer guarantees. The decimal gate-calibration anchor duty (a
    driver-paired query whose oracle hashes a DECIMAL-folded DOUBLE)
    moves to the cheap bounded companions that still score decimal:
    ``knn_ivfpq_exact`` (rerank_metric="exact", PQ_EXACT_BOUND=256)
    and ``embedding_label_centroids`` (decimal sums)."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_QUERIES)
    out = brute_force_topk(emb, probes, k=TOP_K, metric="int")
    return out.orderBy("query_id", "rank").withColumn(
        "rank", F.col("rank").cast("int")
    ).select("query_id", "vec_id", "rank", F.col("score").alias("score_e10"))


# rows-only (approximate): recall vs brute force asserted in tests
@query("knn_lsh_ann")
def knn_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via signed-random-projection LSH, 8 seeded
    tables with ADAPTIVE planes-per-table: ``ceil(log2(n / 64))``
    (floor 3), so expected bucket population stays ~64 at any corpus
    size instead of n/8 — the candidate set (and the bucket join's
    output) is then ~constant per query rather than corpus-
    proportional. At the correctness scales (≤512 vectors) this
    resolves to the same 3 planes as round ≤3; at sf0.1 it is 7 planes
    (128 buckets/table). Candidates only from matching sign-buckets;
    exact re-score; same output contract as knn_bruteforce. Recall at a
    fixed table count falls as planes rise — the production dial is
    n_tables; the 0.7 floor on the fixture is asserted in
    tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_QUERIES)
    n_planes = adaptive_n_planes(emb.count())
    out = lsh_topk(emb, probes, seeded_planes(8, n_planes, 64), k=TOP_K)
    return out.orderBy("query_id", "rank").withColumn(
        "rank", F.col("rank").cast("int")
    ).select("query_id", "vec_id", "rank", "score")


@query(
    "knn_lsh_multiprobe",
    _lsh_exact_oracle(_seeded_planes(8, 6), EXACT_BOUND, probe_bits=6),
)
def knn_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-5 (Lv et al., VLDB'07): the HIGH-planes
    regime — planes sized tighter than knn_lsh_ann's adaptive count
    (so buckets are smaller and the candidate join lighter), with each
    query also probing every Hamming-1 bucket to buy the recall back.
    The production trade at corpus scale: probe fan-out is query-side
    only (broadcast-small), while the equivalent recall from extra
    TABLES would re-scan and re-shuffle corpus signatures per table.

    Oracle-paired (r11, converted from rows-only): fixed seeded planes
    (8 tables × 6 planes, the knn_lsh_exact literals) with
    ``probe_bits=6`` — full Hamming-1 coverage, 7 probe buckets per
    (query, table) — and integer-scaled exact scoring; the GENERATED
    oracle enumerates the same probe set from the same plane literals
    (bucket XOR m), so bucketing, probe fan-out, candidate join,
    dedup, scoring and ranking are all value-checked. Corpus bounded
    to EXACT_BOUND (inactive at the driver's sf0.01, same convention
    as knn_lsh_exact). The ADAPTIVE-planes multiprobe path stays
    exercised by tests/test_similarity.py (candidate-superset +
    recall-floor asserts via lsh_topk directly)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < EXACT_BOUND
    )
    probes = emb.filter(F.col("vec_id") < N_QUERIES)
    out = lsh_topk(
        emb, probes, _seeded_planes(8, 6), k=TOP_K, metric="int",
        probe_bits=6,
    )
    return out.orderBy("query_id", "rank").withColumn(
        "rank", F.col("rank").cast("int")
    ).select("query_id", "vec_id", "rank", F.col("score").alias("score_e10"))


@query("knn_lsh_exact", _lsh_exact_oracle(_seeded_planes(8, 6), EXACT_BOUND))
def knn_lsh_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable LSH companion (round-2 verdict item 4): the
    SAME seeded SRP pipeline as knn_lsh_ann (8 tables × 6 planes —
    r04 raised planes from 3 so the exact-scored candidate set is
    bucket-selective like the adaptive production path, ~6× fewer
    decimal folds; the oracle regenerates mechanically from the same
    plane literals), scored with the decimal-exact dot, paired with a
    GENERATED DuckDB oracle that recomputes the hyperplane
    sign-buckets — so bucketing, candidate join, dedup, scoring and
    ranking are all cross-checked, not just row counts. Corpus bounded
    to EXACT_BOUND vectors — inactive at the driver's sf0.01 (500-vector
    corpus, fully checked), keeps the exact full-scoring proof off the
    bench critical path at sf0.1+. r10: scores migrated to the
    integer-scaled BIGINT convention (``score_e10`` = int_scaled_dot;
    oracle regenerated from the same plane literals) — exact, integer-
    hashed, and off the interpreted-BigDecimal fold path entirely."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < EXACT_BOUND
    )
    probes = emb.filter(F.col("vec_id") < N_QUERIES)
    out = lsh_topk(emb, probes, _seeded_planes(8, 6), k=TOP_K, metric="int")
    return out.orderBy("query_id", "rank").withColumn(
        "rank", F.col("rank").cast("int")
    ).select("query_id", "vec_id", "rank", F.col("score").alias("score_e10"))


# rows-only (approximate): recall vs brute force asserted in tests
@query("knn_ivf_ann")
def knn_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via IVF (FAISS-style coarse quantizer): corpus
    bucketed into 16 Voronoi cells scan-side, each query probes its 4
    nearest cells (25% of the corpus scored instead of 100%). Centroids
    come from seeded distributed k-means (pyspark.ml) — see
    operators/similarity.train_ivf_centroids. Recall at fixed probe
    fraction depends on how clustered the corpus is; tests assert ≥0.9
    on clustered data and the exact-in-the-limit property (probing all
    cells ≡ brute force) on this uniform-random fixture.

    Training dials: 4 Lloyd iterations over a ≤2048-vector sample —
    k-means|| seeding already places centroids well, and a coarse
    quantizer needs ~40×k training points (FAISS guidance), so the
    default 10×4096 bought nothing but bench time (training dominated
    this query's wall-clock; in production the quantizer is trained
    once and reused across query batches anyway)."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_QUERIES)
    out = ivf_topk(
        emb, probes, n_centroids=16, n_probe=4, k=TOP_K,
        train_max_iter=4, max_train_vectors=2048,
    )
    return out.orderBy("query_id", "rank").withColumn(
        "rank", F.col("rank").cast("int")
    ).select("query_id", "vec_id", "rank", "score")


@query("knn_ivf_exact_probeall", _exact_topk_oracle(EXACT_BOUND, int_scaled=True))
def knn_ivf_exact_probeall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable IVF companion (round-2 verdict item 4): probe
    EVERY cell with decimal-exact scoring — each corpus vector is scored
    exactly once regardless of the trained quantizer, so the result is
    bit-identical to brute force and the brute-force oracle applies.
    Exercises the full IVF machinery (k-means training, scan-side cell
    assignment, probe fan-out, candidate join, pre-top-k) under a hash
    check; the pytest limit test proves the same equivalence in-engine.
    Corpus bounded to EXACT_BOUND vectors (inactive at sf0.01 — see
    knn_lsh_exact). Quantizer is k=4: probe-all ≡ brute force holds for
    ANY centroids (every corpus vector is scored exactly once), so the
    proof buys the cheapest training that still exercises the
    machinery. r10: integer-scaled ``score_e10`` scores (int_scaled_dot
    / regenerated oracle) — see knn_lsh_exact."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < EXACT_BOUND
    )
    probes = emb.filter(F.col("vec_id") < N_QUERIES)
    out = ivf_topk(
        emb, probes, n_centroids=4, n_probe=4, k=TOP_K, metric="int",
        train_max_iter=1,
    )
    return out.orderBy("query_id", "rank").withColumn(
        "rank", F.col("rank").cast("int")
    ).select("query_id", "vec_id", "rank", F.col("score").alias("score_e10"))


N_ANCHOR_CELLS = 8
PROBE_GRID = (1, 2, 4, 8)
# probe-all must be reachable: test_anchor_recall_probeall relies on the
# largest grid point covering every cell (recall == 1.0 there), and the
# oracle interpolates PROBE_GRID below — keep the two in lockstep
assert max(PROBE_GRID) == N_ANCHOR_CELLS


@query(
    "knn_anchor_routing_recall",
    f"""
    WITH corpus AS (SELECT * FROM embeddings WHERE vec_id < {EXACT_BOUND}),
    a AS (
        SELECT vec_id AS anchor_id, embedding AS avec
        FROM corpus WHERE vec_id < {N_ANCHOR_CELLS}
    ),
    ascore AS (
        SELECT c.vec_id, a.anchor_id,
               (SELECT SUM(CAST(ROUND(x * y * 1e10, 0) AS BIGINT))
                FROM (SELECT UNNEST(CAST(c.embedding AS DOUBLE[])) AS x,
                             UNNEST(CAST(a.avec AS DOUBLE[])) AS y)
               ) AS adot
        FROM corpus c CROSS JOIN a
    ),
    cells AS (
        SELECT vec_id, anchor_id AS cell
        FROM (SELECT vec_id, anchor_id,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                         ORDER BY adot DESC, anchor_id ASC) AS rn
              FROM ascore)
        WHERE rn = 1
    ),
    qrank AS (
        SELECT vec_id AS query_id, anchor_id AS cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY adot DESC, anchor_id ASC) AS cell_rank
        FROM ascore WHERE vec_id < {N_QUERIES}
    ),
    scored AS (
        SELECT q.query_id, e.vec_id,
               CAST((
                   SELECT SUM(CAST(x * y AS DECIMAL(38,30)))
                   FROM (SELECT UNNEST(CAST(q.qvec AS DOUBLE[])) AS x,
                                UNNEST(CAST(e.embedding AS DOUBLE[])) AS y)
               ) AS DOUBLE) AS score
        FROM corpus e CROSS JOIN (
            SELECT vec_id AS query_id, embedding AS qvec
            FROM corpus WHERE vec_id < {N_QUERIES}
        ) q
        WHERE e.vec_id <> q.query_id
    ),
    exact5 AS (
        SELECT query_id, vec_id
        FROM (SELECT query_id, vec_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY score DESC, vec_id ASC) AS rank
              FROM scored)
        WHERE rank <= {TOP_K}
    ),
    hits AS (
        SELECT h.query_id, r.cell_rank
        FROM exact5 h
        JOIN cells c ON c.vec_id = h.vec_id
        JOIN qrank r ON r.query_id = h.query_id AND r.cell = c.cell
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(nprobe AS INTEGER) AS nprobe,
           CAST(SUM(CASE WHEN cell_rank <= nprobe THEN 1 ELSE 0 END)
                AS BIGINT) AS n_found,
           ROUND(SUM(CASE WHEN cell_rank <= nprobe THEN 1 ELSE 0 END)
                 / {float(TOP_K)!r}, 6) AS recall_at_k
    FROM hits CROSS JOIN (
        SELECT UNNEST([{', '.join(map(str, PROBE_GRID))}]) AS nprobe) p
    GROUP BY query_id, nprobe
    ORDER BY query_id, nprobe
    """,
)
def knn_anchor_routing_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF routing quality curve, fully value-checked: recall@{TOP_K}
    as a function of probed cells (nprobe = 1/2/4/8) for a coarse
    quantizer whose cells are FIXED ANCHOR vectors (the first
    {N_ANCHOR_CELLS} corpus vectors) instead of trained k-means
    centroids — anchors make the whole curve SQL-expressible, so this
    is the oracle-paired companion of the rows-only ``knn_ivf_ann``
    recall tests: it value-checks the routing arithmetic (cell argmax,
    query-side cell ranking, shortlist membership) that IVF recall
    depends on, with the quantizer choice factored out.

    Recall@k(p) = fraction of the EXACT top-k (decimal-exact dots, the
    ``knn_bruteforce`` machinery) whose assigned cell is among the
    query's p best cells — the metric FAISS tunes nprobe against. At
    100 TB the shape is IVF's: anchors broadcast, cell assignment rides
    the corpus scan (argmax over {N_ANCHOR_CELLS} decimal dots per row,
    zero shuffle), the exact reference is local_topk-pruned, and the
    final join/agg is k x queries x |grid| rows. Corpus bounded to
    EXACT_BOUND (inactive at sf0.01) like every decimal-exact proof.

    r15 (guide §1.2 algorithm first; the coreset/mmr_exact3 bounded-
    collect precedent, VERDICT r14 item 4): EVERY relation in this
    query is bounded by construction (corpus ≤ EXACT_BOUND = {EXACT_BOUND}
    rows × 64 dims ≈ 200 KB), so the whole curve now runs driver-side
    off ONE Arrow fetch of the bounded corpus: anchor scores via the
    vectorized ``round_half_up_1e10`` mirror of ``int_scaled_dot``
    (identical int64s — parity-tested in tests/test_round15_ops.py),
    the exact top-{TOP_K} via float64 dots with a candidate band
    re-scored through the exact Decimal(repr)-quantize mirror of
    ``exact_dot``'s DECIMAL(38,30) per-product cast
    (``functions/mirrors.exact_topk``: the band is derived from
    dim·max‖v‖²·eps and checked at run time, so everything outside it
    is already strictly ordered), and the routing/recall arithmetic in
    plain ints. Replaces 8 interpreted 64-element HOF folds per corpus
    row + a 5×corpus decimal-fold crossJoin + two windows + two joins
    with numpy on ~3 MB. Results bit-identical; oracle unchanged."""
    import numpy as np

    from technical_test_data_engineer_spark.functions.mirrors import (
        dot_band,
        exact_topk,
        spark_round,
    )
    from technical_test_data_engineer_spark.operators.linalg import (
        round_half_up_1e10,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < EXACT_BOUND
    )
    # ≤ EXACT_BOUND rows (~200 KB at 64 dims); the bound is compiled
    # into the scan filter, not data-dependent
    pdf = collect_bounded(
        emb.select("vec_id", "embedding"), EXACT_BOUND,
        "knn_anchor_routing_recall corpus",
    ).to_pandas()
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    order = np.argsort(ids)
    ids = ids[order]
    V = np.array(
        [np.asarray(v, dtype=np.float64) for v in pdf["embedding"].to_numpy()[order]]
    )
    # the anchor index doubles as the cell id the ORACLE derives from
    # vec_id — valid only while anchor vec_ids are exactly
    # 0..N_ANCHOR_CELLS-1 (a gap would shift every cell label silently)
    assert ids[:N_ANCHOR_CELLS].tolist() == list(range(N_ANCHOR_CELLS))
    A = V[:N_ANCHOR_CELLS]

    # int_scaled_dot mirror: per-product (x*y)*1e10 in float64 (same
    # IEEE ops as the JVM fold), Spark-ROUND'ed by the linalg
    # guard-band helper, summed in int64
    prods = (V[:, None, :] * A[None, :, :]) * 1e10
    adot = round_half_up_1e10(prods).sum(axis=2)  # (n, n_anchors) int64
    cells = np.argmax(adot, axis=1)  # first max == lowest-id tiebreak

    n_q = int(np.searchsorted(ids, N_QUERIES))
    # query-side cell ranking: rank cells by (adot desc, cell asc)
    qrank = np.empty((n_q, N_ANCHOR_CELLS), dtype=np.int64)
    for q in range(n_q):
        ordq = np.lexsort((np.arange(N_ANCHOR_CELLS), -adot[q]))
        qrank[q, ordq] = np.arange(1, N_ANCHOR_CELLS + 1)

    # exact_dot mirror: float64 dots order everything outside a band
    # derived from dim·max‖v‖²·eps around the k-th score; band members
    # re-score through the exact DECIMAL(38,30) per-product quantize
    band = dot_band(V)
    top_rows: dict[int, list[int]] = {}
    for q in range(n_q):
        qid = int(ids[q])
        mask = ids != qid
        top_rows[qid] = exact_topk(
            V[q], V[mask], ids[mask], TOP_K, band, "knn_anchor_routing_recall"
        )

    id_pos = {int(v): i for i, v in enumerate(ids)}
    rows = []
    for q in range(n_q):
        qid = int(ids[q])
        ranks = [
            int(qrank[q, cells[id_pos[v]]]) for v in top_rows[qid]
        ]
        for p in PROBE_GRID:
            nf = sum(1 for cr in ranks if cr <= p)
            rows.append((qid, int(p), nf, spark_round(nf / float(TOP_K), 6)))
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("nprobe", T.IntegerType()),
            T.StructField("n_found", T.LongType()),
            T.StructField("recall_at_k", T.DoubleType()),
        ]
    )
    return local_frame(spark, rows, schema).orderBy("query_id", "nprobe")


# 200 → 128 in r12 (bench-budget prune, the PQ_EXACT_BOUND 800→256
# precedent): the proof needs a nontrivial all-pairs frame, not a big
# one — 128 vectors still give 16k pairs through the 3-step greedy and
# the gate corpus (sf0.01, 500 vectors) keeps the bound ACTIVE, so the
# oracle still certifies the argmax chain on a corpus-subset frame.
CORESET_BOUND = 128


def _coreset_sql() -> str:
    """Generated oracle for the 3-step facility-location greedy:
    integer-scaled similarities (SUM(ROUND(x*y*1e10)) as BIGINT — exact
    end-to-end, zero float drift), per-step coverage argmax with
    lowest-id tiebreak, coverage maxes carried as integers."""
    sims = f"""
    corpus AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id < {CORESET_BOUND}
    ),
    sims AS (
        SELECT a.vec_id AS i, b.vec_id AS j,
               GREATEST((SELECT SUM(CAST(ROUND(x * y * 1e10, 0) AS BIGINT))
                         FROM (SELECT UNNEST(a.v) AS x,
                                      UNNEST(b.v) AS y)), 0) AS s
        FROM corpus a CROSS JOIN corpus b
    )"""
    return f"""
    WITH {sims},
    t1 AS (SELECT i, SUM(s) AS tot FROM sims GROUP BY i),
    c1 AS (SELECT i, tot FROM t1 ORDER BY tot DESC, i LIMIT 1),
    cov1 AS (
        SELECT j, s AS cov FROM sims WHERE i = (SELECT i FROM c1)
    ),
    g2 AS (
        SELECT sims.i, SUM(GREATEST(cov1.cov, sims.s)) AS tot
        FROM sims JOIN cov1 ON cov1.j = sims.j
        WHERE sims.i <> (SELECT i FROM c1)
        GROUP BY sims.i
    ),
    c2 AS (SELECT i, tot FROM g2 ORDER BY tot DESC, i LIMIT 1),
    cov2 AS (
        SELECT cov1.j, GREATEST(cov1.cov, s2.s) AS cov
        FROM cov1 JOIN sims s2
          ON s2.j = cov1.j AND s2.i = (SELECT i FROM c2)
    ),
    g3 AS (
        SELECT sims.i, SUM(GREATEST(cov2.cov, sims.s)) AS tot
        FROM sims JOIN cov2 ON cov2.j = sims.j
        WHERE sims.i <> (SELECT i FROM c1)
          AND sims.i <> (SELECT i FROM c2)
        GROUP BY sims.i
    ),
    c3 AS (SELECT i, tot FROM g3 ORDER BY tot DESC, i LIMIT 1)
    SELECT step, vec_id, coverage, marginal_gain FROM (
        SELECT 1 AS step, (SELECT i FROM c1) AS vec_id,
               ROUND((SELECT tot FROM c1) / 1e10, 6) AS coverage,
               ROUND((SELECT tot FROM c1) / 1e10, 6) AS marginal_gain
        UNION ALL
        SELECT 2, (SELECT i FROM c2),
               ROUND((SELECT tot FROM c2) / 1e10, 6),
               ROUND(((SELECT tot FROM c2) - (SELECT tot FROM c1))
                     / 1e10, 6)
        UNION ALL
        SELECT 3, (SELECT i FROM c3),
               ROUND((SELECT tot FROM c3) / 1e10, 6),
               ROUND(((SELECT tot FROM c3) - (SELECT tot FROM c2))
                     / 1e10, 6)
    )
    ORDER BY step
    """


@query("embedding_coreset_facility3", _coreset_sql())
def embedding_coreset_facility3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Submodular data selection — facility-location greedy coreset
    (Wei et al. 2015 lineage; the coreset/data-distillation member of
    the curation family): pick documents one at a time to maximize
    corpus coverage sum_j max_{c in picked} sim(c, j), the objective
    whose greedy solution carries the classic (1 - 1/e) guarantee.
    Three unrolled picks — the fixed-iteration oracle-pairing
    convention (kcore_r3 / mmr_exact3 / channel_conversion_k8) — with
    per-step coverage and the nonincreasing marginal gains that
    certify submodularity in the output itself.

    Exactness + scale: similarities are integer-scaled long dots
    (int_scaled_dot: round(x*y*1e10) summed as BIGINT) CLAMPED AT ZERO
    — facility location is monotone submodular only for nonnegative
    similarity, and signed dots made the greedy gains non-monotone on
    the uniform fixture — so EVERY
    quantity through the argmaxes — coverage totals, maxes, gains —
    is exact integer arithmetic on both engines; ties break on lowest
    id. The all-pairs sim frame is the proof bound (CORESET_BOUND
    vectors); the production path swaps it for the banded/LSH
    candidate frame the dedup family already builds, keeping the same
    greedy unroll.

    r14 (guide §1.2/§2.4): the DISTRIBUTED work is exactly the dot-
    product pass; the greedy itself is arithmetic over the
    CORESET_BOUND²-row INTEGER sim frame (16k rows / ~0.4 MB — the
    bound is a module literal, stated per the house bounded-collect
    discipline), so it is fetched ONCE via Arrow and all three steps
    run driver-side in numpy int64 (the supplier_bradley_terry /
    channel_conversion_k8 discipline). The r13 unroll re-read the
    persisted frame in ~10 tiny Spark jobs (plus the final union
    re-computing each pick's broadcast subtree) — measured as pure
    job-launch overhead, not arithmetic. Coverage totals, maxes and
    gains stay exact int64 end to end; only the display ROUND(t/1e10,
    6) touches floats, mirrored by ``functions/mirrors.spark_round``
    (identical input double on both paths)."""
    from technical_test_data_engineer_spark.operators.partitioning import (
        fan_out,
    )
    from technical_test_data_engineer_spark.operators.similarity import (
        int_scaled_dot,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < CORESET_BOUND
    )
    a = emb.select(F.col("vec_id").alias("i"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("j"), F.col("embedding").alias("vb"))
    sims = (
        fan_out(a)
        .crossJoin(F.broadcast(b))
        .select(
            "i",
            "j",
            F.greatest(
                int_scaled_dot(F.col("va"), F.col("vb")),
                F.lit(0).cast("bigint"),
            ).alias("s"),
        )
    )
    import numpy as np
    from pyspark.sql import types as T

    from technical_test_data_engineer_spark.functions.mirrors import spark_round

    # every (i, j) pair of the ≤ CORESET_BOUND filtered corpus
    pdf = collect_bounded(
        sims, CORESET_BOUND**2, "embedding_coreset_facility3 pair sims"
    ).to_pandas()
    key_type = emb.schema["vec_id"].dataType
    out_schema = T.StructType(
        [
            T.StructField("step", T.IntegerType(), False),
            T.StructField("vec_id", key_type),
            T.StructField("coverage", T.DoubleType()),
            T.StructField("marginal_gain", T.DoubleType()),
        ]
    )
    if len(pdf) == 0:
        return local_frame(spark, [], out_schema)

    ids = np.unique(pdf["i"].to_numpy())
    idx = {int(v): k for k, v in enumerate(ids)}
    m = len(ids)
    S = np.zeros((m, m), dtype=np.int64)
    S[
        pdf["i"].map(idx).to_numpy(), pdf["j"].map(idx).to_numpy()
    ] = pdf["s"].to_numpy(dtype=np.int64)

    def argbest(tot: np.ndarray, excluded: set[int]) -> int:
        best = -1
        for k in range(m):
            if k in excluded:
                continue
            if best < 0 or tot[k] > tot[best] or (
                tot[k] == tot[best] and ids[k] < ids[best]
            ):
                best = k
        return best

    t1 = S.sum(axis=1)
    c1 = argbest(t1, set())
    cov = S[c1].copy()
    g2 = np.maximum(cov[None, :], S).sum(axis=1)
    c2 = argbest(g2, {c1})
    cov2 = np.maximum(cov, S[c2])
    g3 = np.maximum(cov2[None, :], S).sum(axis=1)
    c3 = argbest(g3, {c1, c2})
    tots = [int(t1[c1]), int(g2[c2]), int(g3[c3])]
    picks = [c1, c2, c3]
    rows = [
        (
            step + 1,
            int(ids[picks[step]]),
            spark_round(tots[step] / 1e10, 6),
            spark_round(
                (tots[step] - (tots[step - 1] if step else 0)) / 1e10, 6
            ),
        )
        for step in range(3)
    ]
    return local_frame(spark, rows, out_schema)


# rows-only (approximate): PQ reconstruction is lossy by design; recall
# + compression invariants are asserted in tests/test_similarity.py
@query("knn_pq_ann")
def knn_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via product quantization + asymmetric distance
    (FAISS PQ/ADC): each 64-d float32 vector compresses to 8 subspace
    codes (32× smaller), and scoring sums 8 lookup-table entries per
    corpus row — no raw corpus vectors move after encoding. The
    compression tier under IVF/LSH for corpora whose raw embeddings
    don't fit the cluster's storage budget.

    Rows-only entry; its exact oracle-paired companion is
    ``knn_pq_exact_rerankall`` (driver-green r03) — same deterministic
    codebooks with the full re-rank making the output SQL-checkable —
    plus recall-floor tests against ``knn_bruteforce``."""
    from technical_test_data_engineer_spark.operators.similarity import (
        pq_adc_topk,
        train_pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_QUERIES)
    books = train_pq_codebooks(emb, m=8, n_codes=64)
    # two-stage: ADC shortlist of 25 from codes, exact re-rank to top-5
    out = pq_adc_topk(emb, probes, books, k=TOP_K, rerank=25)
    return out.orderBy("query_id", "rank").withColumn(
        "rank", F.col("rank").cast("int")
    ).select("query_id", "vec_id", "rank", "score")


@query(
    "embedding_label_centroids",
    """
    WITH dims AS (SELECT UNNEST(RANGE(1, 65)) AS g)
    SELECT label, CAST(d.g - 1 AS INTEGER) AS dim,
           CAST(SUM(CAST(CAST(embedding[d.g] AS DOUBLE) AS DECIMAL(38,30)))
                AS DOUBLE) / COUNT(*) AS centroid,
           COUNT(*) AS n_vectors
    FROM embeddings e CROSS JOIN dims d
    GROUP BY label, dim
    ORDER BY label, dim
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group vector centroids — the embedding-monitoring primitive
    (cluster drift, per-class mean vectors, k-means update steps as a
    query): element-wise mean over ``array<float>`` rows per label.

    Spark shape: posexplode to (label, dim, x) then groupBy(label, dim)
    — entirely JVM-side, and the partial (map-side) aggregation reduces
    each scan task's output to ≤ labels × 64 rows BEFORE the shuffle,
    so the exchange is constant-size per partition at any corpus scale.
    Decimal-exact sums keep the result order-independent and
    bit-comparable to the DuckDB oracle (the convention from
    functions/scalars.py). Output long form (label, dim, centroid) —
    array columns don't survive the driver's canonicalizer."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("dim", "x"))
    return (
        ex.groupBy("label", "dim")
        .agg(
            (
                exact_sum(F.col("x").cast("double"), precision=38, scale=30)
                / F.count("*")
            ).alias("centroid"),
            F.count("*").alias("n_vectors"),
        )
        .orderBy("label", "dim")
    )


@query(
    "knn_pq_exact_rerankall",
    _exact_topk_oracle(PQ_EXACT_BOUND, int_scaled=True),
)
def knn_pq_exact_rerankall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable PQ companion — the exact-in-the-limit proof of
    the two-stage path: with ``rerank`` ≥ corpus size the ADC shortlist
    is the whole corpus and the exact re-rank is bit-identical to brute
    force, so the brute-force oracle applies while the query still
    exercises codebook training, scan-side encoding, fused ADC scoring
    + per-partition prune, the shortlist window, and the rerank join.
    Completes the set: every ANN path (LSH, IVF, PQ) now has an
    oracle-paired companion. Corpus bounded at PQ_EXACT_BOUND — the
    limit proof is bound-independent, and 256 keeps the decimal-exact
    rerank-everything stage off the bench critical path (round-3 item
    2: 17.2 s → target ≤5 s). Small codebooks — the proof holds for
    ANY codebook. r10: integer-scaled ``score_e10`` rerank scores
    (int_scaled_dot / regenerated oracle) — see knn_lsh_exact."""
    from technical_test_data_engineer_spark.operators.similarity import (
        pq_adc_topk,
        train_pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < PQ_EXACT_BOUND
    )
    probes = emb.filter(F.col("vec_id") < N_QUERIES)
    books = train_pq_codebooks(emb, m=8, n_codes=16, n_iter=1)
    out = pq_adc_topk(
        emb, probes, books, k=TOP_K, rerank=PQ_EXACT_BOUND,
        rerank_metric="int",
    )
    return out.orderBy("query_id", "rank").withColumn(
        "rank", F.col("rank").cast("int")
    ).select("query_id", "vec_id", "rank", F.col("score").alias("score_e10"))


# rows-only (approximate): IVF-PQ is doubly lossy (cell pruning +
# residual quantization); recall and the exact-limit equivalence are
# asserted in tests/test_similarity.py
@query("knn_ivfpq_ann")
def knn_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via the FAISS composite index: IVF coarse
    cells over PQ-compressed RESIDUALS with ADC scoring — probing
    visits n_probe cells (IVF's selectivity dial) and scoring reads
    only (cell, codes) entries (PQ's 32× storage dial), the standard
    billion-vector production shape. Two-stage: code-based shortlist
    of 25 from probed cells, exact re-rank to top-5."""
    from technical_test_data_engineer_spark.operators.similarity import (
        ivfpq_topk,
        train_ivf_centroids,
        train_ivfpq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_QUERIES)
    cents = train_ivf_centroids(emb, n_centroids=8, max_iter=4,
                                max_train_vectors=2048)
    books = train_ivfpq_codebooks(emb, cents, m=8, n_codes=64)
    out = ivfpq_topk(emb, probes, cents, books, k=TOP_K, n_probe=4,
                     rerank=25)
    return out.orderBy("query_id", "rank").withColumn(
        "rank", F.col("rank").cast("int")
    ).select("query_id", "vec_id", "rank", "score")


@query("knn_ivfpq_exact", _exact_topk_oracle(PQ_EXACT_BOUND))
def knn_ivfpq_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable IVF-PQ companion — probe-all + rerank-all:
    probing every cell scores every corpus row from its codes, and the
    exact re-rank of the full shortlist is then bit-identical to brute
    force, so the shared exact oracle applies while the query still
    exercises coarse training, residual codebook training, scan-side
    (cell, codes) encoding, mask-pruned fused ADC, and the rerank
    join. Same PQ_EXACT_BOUND/tiny-codebook trims as the PQ companion
    — the limit proof is bound- and codebook-independent."""
    from technical_test_data_engineer_spark.operators.similarity import (
        ivfpq_topk,
        train_ivf_centroids,
        train_ivfpq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < PQ_EXACT_BOUND
    )
    probes = emb.filter(F.col("vec_id") < N_QUERIES)
    cents = train_ivf_centroids(emb, n_centroids=4, max_iter=1,
                                max_train_vectors=1024)
    books = train_ivfpq_codebooks(emb, cents, m=8, n_codes=16, n_iter=1)
    out = ivfpq_topk(
        emb, probes, cents, books, k=TOP_K, n_probe=4,
        rerank=PQ_EXACT_BOUND, rerank_metric="exact",
    )
    return out.orderBy("query_id", "rank").withColumn(
        "rank", F.col("rank").cast("int")
    ).select("query_id", "vec_id", "rank", "score")


# Hybrid-retrieval proof bounds: sparse queries restricted to doc_id <
# RRF_QUERY_BOUND (the sparse candidate set is data-dependent; the
# bound keeps the decimal-exact dense scoring from scaling with it),
# dense corpus to vec_id < RRF_CORPUS_BOUND — inactive at the driver's
# sf0.01 (500 vectors), active at bench sf0.1+, same convention as
# EXACT_BOUND above.
RRF_QUERY_BOUND = 100
RRF_CORPUS_BOUND = 300


@query(
    "hybrid_rrf_retrieval",
    f"""
    WITH tok AS (
        SELECT doc_id, UNNEST(STR_SPLIT(text, ' ')) AS term FROM documents
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    ),
    dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    kept AS (
        SELECT term, df FROM dfq, n
        WHERE df <= CAST(FLOOR(n_docs * 0.2) AS BIGINT)
    ),
    w AS (
        SELECT tf.doc_id, tf.term,
               CAST(tf AS DOUBLE)
               * LN((CAST(n_docs AS DOUBLE) + 1.0)
                    / (CAST(df AS DOUBLE) + 1.0)) AS w
        FROM tf JOIN kept USING (term) CROSS JOIN n
    ),
    norms AS (SELECT doc_id, SQRT(SUM(w * w)) AS norm FROM w GROUP BY doc_id),
    dots AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.w * b.w) AS dot
        FROM w a JOIN w b ON a.term = b.term AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    ),
    cosd AS (
        SELECT doc_a, doc_b, dot / (na.norm * nb.norm) AS cos
        FROM dots
        JOIN norms na ON na.doc_id = doc_a
        JOIN norms nb ON nb.doc_id = doc_b
    ),
    sparse AS (
        SELECT doc_a AS query_id, doc_b AS cand_id, rn AS r_s
        FROM (
            SELECT doc_a, doc_b, ROW_NUMBER() OVER (
                PARTITION BY doc_a ORDER BY ROUND(cos, 12) DESC, doc_b
            ) AS rn FROM cosd WHERE doc_a < {RRF_QUERY_BOUND}
        ) WHERE rn <= 3
    ),
    qset AS (SELECT DISTINCT query_id FROM sparse),
    corpus AS (
        SELECT * FROM embeddings WHERE vec_id < {RRF_CORPUS_BOUND}
    ),
    q AS (
        SELECT vec_id AS query_id, embedding AS qvec
        FROM corpus JOIN qset ON vec_id = query_id
    ),
    scored AS (
        SELECT q.query_id, e.vec_id,
               CAST((
                   SELECT SUM(CAST(x * y AS DECIMAL(38,30)))
                   FROM (SELECT UNNEST(CAST(q.qvec AS DOUBLE[])) AS x,
                                UNNEST(CAST(e.embedding AS DOUBLE[])) AS y)
               ) AS DOUBLE) AS score
        FROM corpus e CROSS JOIN q
        WHERE e.vec_id <> q.query_id
    ),
    dense AS (
        SELECT query_id, vec_id AS cand_id, rn AS r_d
        FROM (
            SELECT query_id, vec_id, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY score DESC, vec_id
            ) AS rn FROM scored
        ) WHERE rn <= 5
    ),
    fused AS (
        SELECT COALESCE(s.query_id, d.query_id) AS query_id,
               COALESCE(s.cand_id, d.cand_id) AS cand_id,
               COALESCE(1.0 / (60.0 + s.r_s), 0.0)
               + COALESCE(1.0 / (60.0 + d.r_d), 0.0) AS rrf_score
        FROM sparse s
        FULL JOIN dense d
          ON d.query_id = s.query_id AND d.cand_id = s.cand_id
    )
    SELECT query_id, cand_id,
           ROUND(rrf_score, 6) AS rrf_score,
           CAST(rn AS INT) AS fused_rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY rrf_score DESC, cand_id
        ) AS rn FROM fused
    )
    WHERE rn <= 5
    ORDER BY query_id, fused_rank
    """,
)
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (``operators.similarity.rrf_fuse``): sparse
    lexical ranks (inverted-index TF-IDF cosine, hot-term-capped) and
    dense embedding ranks (decimal-exact brute-force top-5, corpus
    bounded — the same exact-proof convention as EXACT_BOUND) merged by
    Reciprocal Rank Fusion, 1/(60+rank) per list — the BM25+vector
    pattern every RAG stack runs, here entirely engine-side. Query set
    = documents with sparse candidates (bounded by RRF_QUERY_BOUND);
    vec_id doubles as doc_id across the two synthetic tables (the
    retrieval join key). Fusion moves only k-bounded rank rows; the
    oracle recomputes both rankings and the same fusion arithmetic."""
    from technical_test_data_engineer_spark.operators.similarity import rrf_fuse
    from technical_test_data_engineer_spark.plans.text_queries import (
        shared_tfidf_neighbors,
    )

    sparse = (
        shared_tfidf_neighbors(spark, sf_dir)
        .filter(F.col("doc_a") < RRF_QUERY_BOUND)
        .select(
            F.col("doc_a").alias("query_id"),
            F.col("doc_b").alias("cand_id"),
            F.col("rank"),
        )
    )
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < RRF_CORPUS_BOUND
    )
    qset = sparse.select(F.col("query_id").alias("vec_id")).distinct()
    qvecs = emb.join(qset, "vec_id")
    dense = brute_force_topk(emb, qvecs, k=5).select(
        "query_id", F.col("vec_id").alias("cand_id"), "rank"
    )
    out = rrf_fuse([sparse, dense], k=5)
    return out.select(
        "query_id",
        "cand_id",
        F.round("rrf_score", 6).alias("rrf_score"),
        "fused_rank",
    ).orderBy("query_id", "fused_rank")


MRL_DIM = 16


@query(
    "knn_matryoshka_trunc",
    f"""
    WITH corpus AS (
        SELECT vec_id, embedding[1:{MRL_DIM}] AS emb
        FROM embeddings WHERE vec_id < {EXACT_BOUND}
    ),
    q AS (
        SELECT vec_id AS query_id, emb AS qvec
        FROM corpus WHERE vec_id < {N_QUERIES}
    ),
    scored AS (
        SELECT q.query_id, e.vec_id,
               CAST((
                   SELECT SUM(CAST(x * y AS DECIMAL(38,30)))
                   FROM (SELECT UNNEST(CAST(q.qvec AS DOUBLE[])) AS x,
                                UNNEST(CAST(e.emb AS DOUBLE[])) AS y)
               ) AS DOUBLE) AS score
        FROM corpus e CROSS JOIN q
        WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, rank, score
    FROM (
        SELECT query_id, vec_id, score,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY score DESC, vec_id ASC
               ) AS INTEGER) AS rank
        FROM scored
    )
    WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
)
def knn_matryoshka_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncated search (Kusupati et al. 2022, MRL): exact
    top-5 using only the FIRST {16} dimensions of each embedding — the
    cheap first stage of an MRL cascade (truncated-dim shortlist, full-
    dim re-rank), here decimal-exact and oracle-paired on the sliced
    vectors. 4× less arithmetic and 4× smaller scan per scored pair at
    dim 64→16; the prefix-signal premise is asserted on planted
    prefix-clustered vectors in tests (random fixtures rightly show
    low truncation recall), and the same EXACT_BOUND convention
    bounds the proof corpus."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < EXACT_BOUND
    )
    sliced = emb.select(
        "vec_id", F.slice("embedding", 1, MRL_DIM).alias("embedding")
    )
    probes = sliced.filter(F.col("vec_id") < N_QUERIES)
    out = brute_force_topk(sliced, probes, k=TOP_K)
    return (
        out.orderBy("query_id", "rank")
        .withColumn("rank", F.col("rank").cast("int"))
        .select("query_id", "vec_id", "rank", "score")
    )


@query(
    "embedding_covariance",
    """
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    x AS (
        SELECT vec_id, u.x, u.i - 1 AS i
        FROM e, LATERAL (
            SELECT UNNEST(v) AS x, generate_subscripts(v, 1) AS i
        ) u
    ),
    n AS (SELECT COUNT(*) AS n FROM e),
    s AS (
        SELECT i,
               CAST(CAST(SUM(CAST(ROUND(x * 1e10, 0) AS BIGINT))
                         AS BIGINT) AS DOUBLE) / 1e10 AS s
        FROM x GROUP BY i
    ),
    p AS (
        SELECT a.i AS i, b.i AS j,
               CAST(CAST(SUM(CAST(ROUND(a.x * b.x * 1e10, 0) AS BIGINT))
                         AS BIGINT) AS DOUBLE) / 1e10 AS sxy
        FROM x a JOIN x b ON a.vec_id = b.vec_id AND b.i >= a.i
        GROUP BY a.i, b.i
    )
    SELECT p.i, p.j,
           (sxy - si.s * sj.s / n) / (n - 1) AS cov
    FROM p
    JOIN s si ON si.i = p.i
    JOIN s sj ON sj.i = p.j
    CROSS JOIN n
    ORDER BY p.i, p.j
    """,
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed covariance of the embedding corpus
    (``operators.linalg.covariance_matrix``): one corpus scan emits
    each row's D(D+1)/2 upper-triangle products scan-side (nested
    transform — no self-join), a single partial+final aggregation
    reduces them to the 2080-row D×D triangle, and the mean correction
    applies in double from integer-scaled exact moments (round(x*1e10)
    summed as BIGINT — whole-stage-codegen long sums, no interpreted
    BigDecimal, and no shortest-repr decimal-cast tie class; r09). The
    oracle recomputes the same moments via an index self-join. This is the corpus-sized
    front half of PCA/whitening; everything after it is driver numpy
    (embedding_pca_project). Int indices cast for schema parity."""
    from technical_test_data_engineer_spark.operators.linalg import (
        covariance_matrix,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        covariance_matrix(emb)
        .select(
            F.col("i").cast("int").alias("i"),
            F.col("j").cast("int").alias("j"),
            "cov",
        )
        .orderBy("i", "j")
    )


# rows-only: eigendecomposition has no SQL form; exactness is proven by
# tests/test_linalg.py (projected variance == eigenvalues, parity with
# numpy PCA on the collected corpus), the oracle-paired covariance the
# components derive from, and the oracle-paired projection companion
# embedding_project_literal (r11) which value-checks the SAME
# project_embeddings pass onto literal components.
@query("embedding_pca_project")
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection (``operators.linalg.pca_project``): top-8
    principal components from the distributed covariance (driver
    ``eigh`` on the D×D matrix — O(corpus) stays distributed, O(D³)
    stays local), then one Arrow-batched projection pass with the k×D
    component matrix broadcast in the UDF closure. Deterministic sign
    convention (largest-|entry| coordinate positive) keeps output
    stable across LAPACK builds. Output posexplodes the projection to
    long-form scalar rows (vec_id, component, value) — the registry
    convention that every query's output schema is atomic types only
    (the same long form the oracle-paired covariance proves); rounded
    to 6dp."""
    from technical_test_data_engineer_spark.operators.linalg import (
        pca_project,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = _long_form(pca_project(emb, k=8), "value")
    return out.withColumn("value", F.round("value", 6))


def _long_form(projected: DataFrame, value_col: str) -> DataFrame:
    """(vec_id, component, ``value_col``) rows of a projection's ``pc``
    array, ordered by (vec_id, component), the projection UDF run once
    per action:

    - ``posexplode_outer``: ``pc`` is a k-length array, never NULL or
      empty, so it yields ``posexplode``'s rows — without the inferred
      ``size(pc) > 0 AND isnotnull(pc)`` filter, which Catalyst pushes
      through the projection that defines ``pc``, calling the UDF twice;
    - the sort materializes after the stage: 64 floats per vector go
      in, k rows of three scalars come out, and that output is the
      narrower shuffle (sf0.01: 101 kB vs 133 kB range-first)."""
    return ordered_python_stage(
        projected,
        lambda p: p.select(
            "vec_id", F.posexplode_outer("pc").alias("component", value_col)
        ).withColumn("component", F.col("component").cast("int")),
        ["vec_id", "component"],
        range_first=False,
    )


def _seeded_projection(k: int = 8, dim: int = 64):
    """Seeded literal (mean, components) shared by the Spark
    literal-projection companion and its generated DuckDB oracle — the
    ``_seeded_planes`` convention: one definition, two consumers, so
    both engines project with bit-identical doubles. Components are
    unit-norm seeded Gaussian rows (representative magnitude; the
    companion proves the PROJECTION machinery, which is basis-
    agnostic), mean a small seeded offset."""
    import random

    rng = random.Random(1337)
    mean = [rng.uniform(-0.05, 0.05) for _ in range(dim)]
    comps = []
    for _ in range(k):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        n = sum(x * x for x in v) ** 0.5
        comps.append([x / n for x in v])
    return mean, comps


def _projection_literal_oracle(mean, comps) -> str:
    """Generated oracle for the literal-components projection: per-term
    away-from-zero rounding at 1e10 then BIGINT sums (the int-scaled
    convention — project_embeddings(int_scaled=True)'s DuckDB twin),
    with the SAME mean/component literals indexed from list literals.
    Outer CAST keeps the int64 tag (DuckDB SUM → HUGEINT floats
    through the driver's pandas fetch)."""
    k, dim = len(comps), len(mean)
    mean_lit = "[" + ", ".join(repr(float(v)) for v in mean) + "]"
    comps_lit = (
        "["
        + ", ".join(
            "[" + ", ".join(repr(float(v)) for v in row) + "]"
            for row in comps
        )
        + "]"
    )
    return f"""
    WITH dims AS (SELECT UNNEST(RANGE(1, {dim + 1})) AS g),
    mw AS (SELECT d.g, ({mean_lit})[d.g] AS m FROM dims d),
    w AS (
        SELECT c.c, d.g, ({comps_lit})[c.c][d.g] AS w
        FROM (SELECT UNNEST(RANGE(1, {k + 1})) AS c) c CROSS JOIN dims d
    )
    SELECT e.vec_id,
           CAST(w.c - 1 AS INTEGER) AS component,
           CAST(SUM(CAST(ROUND(
               (CAST(e.embedding[w.g] AS DOUBLE) - mw.m) * w.w * 1e10, 0
           ) AS BIGINT)) AS BIGINT) AS value_e10
    FROM embeddings e
    CROSS JOIN w
    JOIN mw ON mw.g = w.g
    GROUP BY e.vec_id, w.c
    ORDER BY vec_id, component
    """


_PROJ_MEAN, _PROJ_COMPS = _seeded_projection()


@query(
    "embedding_project_literal",
    _projection_literal_oracle(_PROJ_MEAN, _PROJ_COMPS),
)
def embedding_project_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable projection companion for the PCA path (r10
    verdict item 4): the SAME Arrow-batched projection pass as
    ``embedding_pca_project`` (``operators.linalg.project_embeddings``
    — broadcast k×D matrix in the pandas_udf closure, one corpus scan,
    zero shuffles) but onto LITERAL seeded components, the way the
    colormap/anchor queries ship literals — so the projection
    arithmetic is oracle-expressible while eigh (no SQL form) stays on
    the rows-only self-trained entry. Integer-scaled per-term sums
    (``value_e10``) make the fold order-independent and hashable; a
    float matmul's pairwise-summation order is not. Long-form output
    (vec_id, component, value_e10) — the registry's atomic-schema
    convention."""
    from technical_test_data_engineer_spark.operators.linalg import (
        project_embeddings,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = project_embeddings(emb, _PROJ_MEAN, _PROJ_COMPS, int_scaled=True)
    return _long_form(out, "value_e10")


# rows-only: the greedy MMR selection is iterative (no SQL form); the
# selection is value-checked against a pure-numpy reference and the
# diversity property is asserted in tests/test_similarity.py, and its
# relevance inputs come from the oracle-anchored brute-force ranker.
@query("knn_mmr_rerank")
def knn_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware retrieval (``operators.similarity.mmr_rerank``):
    brute-force top-25 shortlist per query, then Maximal Marginal
    Relevance greedily picks 5 — near-duplicate candidates pay for
    their redundancy (λ=0.7). The two-stage shape is the production
    norm: corpus-scale scoring in the ranker (oracle-anchored), the
    sequential greedy loop as an Arrow-batched grouped map over
    25-row groups. Scores rounded to 6dp for cross-run stability."""
    from technical_test_data_engineer_spark.operators.similarity import (
        mmr_rerank,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_QUERIES)
    shortlist = brute_force_topk(emb, probes, k=25).select(
        "query_id", "vec_id", "score"
    )
    # materialize after: the candidates carry vectors, the picks do not
    return ordered_python_stage(
        shortlist,
        lambda s: mmr_rerank(s, emb, k=TOP_K, lam=0.7).select(
            "query_id",
            "vec_id",
            "mmr_rank",
            F.round("score", 6).alias("score"),
        ),
        ["query_id", "mmr_rank"],
        range_first=False,
    )


N_ANCHORS = 10


@query(
    "hard_negative_mining",
    f"""
    WITH corpus AS (SELECT * FROM embeddings WHERE vec_id < {EXACT_BOUND}),
    a AS (
        SELECT vec_id AS anchor_id, embedding AS avec, label AS albl
        FROM corpus WHERE vec_id < {N_ANCHORS}
    ),
    scored AS (
        SELECT a.anchor_id, e.vec_id,
               ROUND(CAST((
                   SELECT SUM(CAST(x * y AS DECIMAL(38,30)))
                   FROM (SELECT UNNEST(CAST(a.avec AS DOUBLE[])) AS x,
                                UNNEST(CAST(e.embedding AS DOUBLE[])) AS y)
               ) AS DOUBLE), 12) AS score
        FROM corpus e CROSS JOIN a
        WHERE e.vec_id <> a.anchor_id AND e.label <> a.albl
    )
    SELECT anchor_id, vec_id, rank, score
    FROM (
        SELECT anchor_id, vec_id, score,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY anchor_id ORDER BY score DESC, vec_id ASC
               ) AS INTEGER) AS rank
        FROM scored
    )
    WHERE rank <= {TOP_K}
    ORDER BY anchor_id, rank
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (``operators.similarity.hard_negatives``):
    per anchor, the top-k most-similar corpus vectors with a DIFFERENT
    label — the contrastive-training pairs closest to the decision
    boundary. Anchors broadcast with labels; the label inequality
    prunes scan-side before any scoring; ``local_topk`` bounds the
    ranking shuffle to k × partitions rows per anchor. Corpus bounded
    to EXACT_BOUND (inactive at sf0.01 — README §bounds); production
    swaps the full scan for an ANN shortlist with the same re-rank
    tail. Scores are decimal-exact dots rounded to 12 on both engines
    (the RRF convention), so rank ties cannot diverge."""
    from technical_test_data_engineer_spark.operators.similarity import (
        hard_negatives,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < EXACT_BOUND
    )
    anchors = emb.filter(F.col("vec_id") < N_ANCHORS)
    return hard_negatives(emb, anchors, k=TOP_K).orderBy("anchor_id", "rank")


MAXSIM_BOUND = 300
MAXSIM_TOKENS = 8  # 64-d fixture vector -> 8 token sub-vectors of 8 dims


@query(
    "knn_maxsim_late_interaction",
    f"""
    WITH corpus AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        FROM embeddings WHERE vec_id < {MAXSIM_BOUND}
    ),
    q AS (
        SELECT vec_id AS query_id, emb AS qemb
        FROM corpus WHERE vec_id < {N_QUERIES}
    ),
    grid AS (
        SELECT q.query_id, e.vec_id, i.i, j.j,
               CAST((
                   SELECT SUM(CAST(x * y AS DECIMAL(38,30)))
                   FROM (SELECT UNNEST(q.qemb[i.i*8+1 : i.i*8+8]) AS x,
                                UNNEST(e.emb[j.j*8+1 : j.j*8+8]) AS y)
               ) AS DOUBLE) AS dot
        FROM corpus e
        CROSS JOIN q
        CROSS JOIN (SELECT UNNEST(RANGE(0, {MAXSIM_TOKENS})) AS i) i
        CROSS JOIN (SELECT UNNEST(RANGE(0, {MAXSIM_TOKENS})) AS j) j
        WHERE e.vec_id <> q.query_id
    ),
    mx AS (
        SELECT query_id, vec_id, i, MAX(dot) AS m
        FROM grid GROUP BY 1, 2, 3
    ),
    sc AS (
        SELECT query_id, vec_id,
               CAST(SUM(CAST(m AS DECIMAL(38,30))) AS DOUBLE) AS score
        FROM mx GROUP BY 1, 2
    )
    SELECT query_id, vec_id, rank, score
    FROM (
        SELECT query_id, vec_id, score,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY score DESC, vec_id ASC
               ) AS INTEGER) AS rank
        FROM sc
    )
    WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
)
def knn_maxsim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction (ColBERT-style) multi-vector retrieval
    (``operators.similarity.maxsim_topk``): documents and queries are
    bags of token sub-vectors (the 64-d fixture vector reinterpreted
    as 8×8 — a deterministic stand-in; production feeds real
    ``array<array<float>>`` token embeddings); relevance is MaxSim
    Σ_i max_j dot(q_i, d_j). The token×token grid is a row-local
    expression (never a join); queries broadcast; ``local_topk``
    bounds the ranking shuffle. Inner dots decimal-exact, outer sum a
    decimal fold — bit-identical to the oracle's grid recomputation.
    Corpus bounded to MAXSIM_BOUND (inactive at sf0.01 — README
    §bounds); production path is token-level ANN candidates + full
    MaxSim re-rank on the shortlist."""
    from technical_test_data_engineer_spark.operators.similarity import (
        maxsim_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < MAXSIM_BOUND
    )
    qs = emb.filter(F.col("vec_id") < N_QUERIES)
    return maxsim_topk(emb, qs, MAXSIM_TOKENS, k=TOP_K).orderBy(
        "query_id", "rank"
    )


# Truncation-recall curve: which embedding prefix lengths preserve the
# exact top-k? Shares EXACT_BOUND / N_QUERIES / TOP_K with the other
# exact proofs.
RECALL_DIMS = (8, 16, 32)
_FULL_DIM = 64


def _recall_curve_oracle() -> str:
    """Generated oracle: one decimal-exact brute-force block per
    truncation dim (same machinery as knn_matryoshka_trunc), then the
    overlap-with-full-dim recall grid."""
    blocks = []
    for d in (*RECALL_DIMS, _FULL_DIM):
        blocks.append(
            f"""
    c{d} AS (
        SELECT vec_id, embedding[1:{d}] AS emb
        FROM embeddings WHERE vec_id < {EXACT_BOUND}
    ),
    q{d} AS (
        SELECT vec_id AS query_id, emb AS qvec
        FROM c{d} WHERE vec_id < {N_QUERIES}
    ),
    s{d} AS (
        SELECT q.query_id, e.vec_id,
               CAST((
                   SELECT SUM(CAST(x * y AS DECIMAL(38,30)))
                   FROM (SELECT UNNEST(CAST(q.qvec AS DOUBLE[])) AS x,
                                UNNEST(CAST(e.emb AS DOUBLE[])) AS y)
               ) AS DOUBLE) AS score
        FROM c{d} e CROSS JOIN q{d} q
        WHERE e.vec_id <> q.query_id
    ),
    t{d} AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY score DESC, vec_id ASC
                   ) AS rank
            FROM s{d}
        ) WHERE rank <= {TOP_K}
    )"""
        )
    union = "\n        UNION ALL ".join(
        f"SELECT {d} AS dim, query_id, vec_id FROM t{d}" for d in RECALL_DIMS
    )
    return f"""
    WITH {",".join(blocks)},
    tr AS (
        {union}
    ),
    ov AS (
        SELECT tr.dim, tr.query_id, COUNT(*) AS n_overlap
        FROM tr JOIN t{_FULL_DIM} f
          ON f.query_id = tr.query_id AND f.vec_id = tr.vec_id
        GROUP BY tr.dim, tr.query_id
    ),
    grid AS (
        SELECT d.dim, q.query_id
        FROM (VALUES {",".join(f"({d})" for d in RECALL_DIMS)}) AS d(dim)
        CROSS JOIN (SELECT DISTINCT query_id FROM t{_FULL_DIM}) q
    )
    SELECT CAST(grid.dim AS INTEGER) AS dim,
           grid.query_id AS query_id,
           CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
           ROUND(CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE) / {TOP_K},
                 6) AS recall_at_k
    FROM grid LEFT JOIN ov ON ov.dim = grid.dim
                          AND ov.query_id = grid.query_id
    ORDER BY grid.dim, grid.query_id
    """


@query("matryoshka_recall_curve", _recall_curve_oracle())
def matryoshka_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN EVAL harness: recall@k of prefix-truncated exact search
    (dims 8/16/32) against the full-dim exact top-k — the curve that
    tells an MRL / dimension-reduction rollout which truncation is
    safe (the measurement behind knn_matryoshka_trunc's design
    premise). Per (dim, query) overlap counts, zero-filled via the
    dim x query grid so empty overlaps are visible rows, not silent
    holes (no-silent-caps discipline). All four rankings are
    decimal-exact and share the EXACT_BOUND proof corpus.

    Single-pass form (r09): ONE pair enumeration scores every
    truncation — per (query, corpus) pair the four prefix dots are
    slice-folds of the same two arrays (identical decimal values to
    four separate sliced passes), exploded to (dim, score) rows and
    pruned by one composite-key local_topk + one (query_id, dim) rank
    window. The old form ran brute_force_topk four times: 4 corpus
    scans, 4 crossJoin+prune pipelines, 4 windows — at 100 TB the
    corpus-pass count IS the cost, and in production the same
    single-pass grid runs on a sampled query set against the ANN
    index."""
    from technical_test_data_engineer_spark.operators.similarity import (
        _rank_topk,
        exact_dot,
        local_topk,
        nan_safe_score,
    )
    from technical_test_data_engineer_spark.operators.partitioning import (
        fan_out,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < EXACT_BOUND
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qvec")
    )
    paired = (
        fan_out(emb)
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    all_dims = (*RECALL_DIMS, _FULL_DIM)
    scored = paired.select(
        "query_id",
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("dim"),
                        # nan_safe like brute_force_topk: local_topk's
                        # NaN-free contract must hold for ANY scorer
                        # swapped in here, not by accident of decimals
                        nan_safe_score(
                            exact_dot(
                                F.slice("_qvec", 1, d),
                                F.slice("embedding", 1, d),
                            )
                        ).alias("score"),
                    )
                    for d in all_dims
                ]
            )
        ).alias("s"),
    ).select("query_id", "vec_id", "s.dim", "s.score")
    keys = ["query_id", "dim"]
    topk = (
        _rank_topk(local_topk(scored, TOP_K, keys), TOP_K, keys)
        .select("dim", "query_id", "vec_id")
        .persist()
    )
    full = topk.filter(F.col("dim") == _FULL_DIM).select(
        "query_id", "vec_id"
    )
    trunc = topk.filter(F.col("dim") != _FULL_DIM)

    ov = (
        trunc.join(full, ["query_id", "vec_id"])
        .groupBy("dim", "query_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    dims = local_frame(spark, [(d,) for d in RECALL_DIMS], "dim int")
    grid = dims.crossJoin(full.select("query_id").distinct())
    return (
        grid.join(ov, ["dim", "query_id"], "left")
        .select(
            "dim",
            "query_id",
            F.coalesce(F.col("n_overlap"), F.lit(0)).cast("bigint").alias(
                "n_overlap"
            ),
            F.round(
                F.coalesce(F.col("n_overlap"), F.lit(0)).cast("double")
                / TOP_K,
                6,
            ).alias("recall_at_k"),
        )
        .orderBy("dim", "query_id")
    )


@query(
    "embedding_silhouette",
    """
    WITH x AS (
        SELECT vec_id, label, u.i - 1 AS dim, CAST(u.x AS DOUBLE) AS x
        FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings) e,
             LATERAL (SELECT UNNEST(v) AS x,
                             generate_subscripts(v, 1) AS i) u
    ),
    c AS (
        SELECT label, dim,
               CAST(SUM(CAST(ROUND(x * 1e10, 0) AS BIGINT)) AS DOUBLE)
                   / 1e10 / COUNT(*) AS c
        FROM x GROUP BY label, dim
    ),
    nv AS (
        SELECT vec_id,
               CAST(SUM(CAST(ROUND(x * x * 1e10, 0) AS BIGINT)) AS DOUBLE)
                   / 1e10 AS na
        FROM x GROUP BY vec_id
    ),
    nc AS (
        SELECT label,
               CAST(SUM(CAST(ROUND(c * c * 1e10, 0) AS BIGINT)) AS DOUBLE)
                   / 1e10 AS ncv
        FROM c GROUP BY label
    ),
    dots AS (
        SELECT x.vec_id, x.label AS vlabel, c.label AS clabel,
               CAST(SUM(CAST(ROUND(x.x * c.c * 1e10, 0) AS BIGINT))
                    AS DOUBLE) / 1e10 AS dot
        FROM x JOIN c ON c.dim = x.dim
        GROUP BY x.vec_id, x.label, c.label
    ),
    sc AS (
        SELECT d.vec_id, d.vlabel, d.clabel,
               ROUND(d.dot / (SQRT(nv.na) * SQRT(nc.ncv)), 12) AS score
        FROM dots d
        JOIN nv ON nv.vec_id = d.vec_id
        JOIN nc ON nc.label = d.clabel
    ),
    m AS (
        SELECT vec_id, vlabel,
               MAX(CASE WHEN clabel = vlabel THEN score END) AS own,
               MAX(CASE WHEN clabel <> vlabel THEN score END) AS best_other
        FROM sc GROUP BY vec_id, vlabel
    )
    SELECT vlabel AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           ROUND(CAST(SUM(CAST(own - best_other AS DECIMAL(30,15)))
                      AS DOUBLE) / COUNT(*), 6) AS mean_margin,
           ROUND(CAST(SUM(CASE WHEN own < best_other THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS frac_misassigned
    FROM m
    GROUP BY vlabel
    ORDER BY label
    """,
)
def embedding_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-approximate silhouette — the CLUSTERING-EVAL member of
    the eval harness (matryoshka_recall_curve evals retrieval, this
    evals the label structure semantic dedup and per-label centroids
    rely on): per vector, cosine to its OWN label centroid vs the best
    OTHER centroid; per label, the mean margin and the fraction of
    vectors sitting closer to a foreign centroid (the misassignment
    rate a k-means/sem-dedup rollout watches). Exact-silhouette's
    all-pairs a/b terms are O(n²) — the centroid approximation is the
    standard scalable form and reuses the scan-side argmax-centroid
    shape of semantic_dedup_keep. Plan (r08 long-form rewrite): the
    exploded (vec, dim, val) frame persists once and feeds centroid
    means, per-vector norms, AND the dot products — dots come from a
    dim-keyed broadcast join against the (labels × dims) centroid
    table, replacing the corpus × labels interpreted decimal HOF folds
    that also re-derived each vector's norm once per label (measured
    6.7 s → ~2 s in r08). r14 (r13 verdict item 5): the DECIMAL(38,30)
    accumulators on the centroid / norm / dot sums switched to the
    integer-scaled BIGINT fold convention (round(t·1e10) summed as
    long — the price_quantity_elasticity / linalg moment-fold
    precedent): same order-independence, but the sums stay in
    whole-stage codegen instead of interpreted BigDecimal; the oracle
    is regenerated with the matching CAST(SUM(...BIGINT) AS
    DOUBLE)/1e10 rescale. |terms| ≤ ~1e11 with ≤ 4096 dims per vector
    keeps every sum far under 2^53. Cosines round to 12 (the house
    ranking convention) before the max comparison, margins
    decimal-summed (vector-count rows — off the hot path). Locally the
    exploded frame is UNpersisted (the LSH-sig-recompute audit class:
    re-deriving it per consumer measured faster than caching, A/B 1.92
    vs 2.22 s); at 100 TB the same plan persists/checkpoints the
    exploded frame once — one corpus scan, one (labels × dims)
    shuffle, one (vec × labels)-bounded partial-agg shuffle — and that
    is the ONLY knob that changes with scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    xl = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding")).alias("dim", "val"),
    ).withColumn("val", F.col("val").cast("double"))
    # feeds the centroid means, the per-vector norms, and the dots —
    # UNpersisted (r14 A/B: bare 1.92 vs persisted 2.22 s): the
    # explode recompute is corpus-scan-sized and caching it races the
    # concurrent broadcast futures against an unpopulated cache (the
    # r13 count-fusion-boundary class)
    cent_long = xl.groupBy("label", "dim").agg(
        (unscale(F.sum(scaled_long(F.col("val")))) / F.count("*")).alias("c")
    )  # (labels × dims)-bounded; recomputed per consumer, see above
    nv = xl.groupBy("vec_id").agg(
        unscale(F.sum(scaled_long(F.col("val") * F.col("val")))).alias("na")
    )
    nc = cent_long.groupBy(F.col("label").alias("clabel")).agg(
        unscale(F.sum(scaled_long(F.col("c") * F.col("c")))).alias("ncv")
    )
    dots = (
        xl.join(
            F.broadcast(
                cent_long.select(
                    "dim", F.col("label").alias("clabel"), "c"
                )
            ),
            "dim",
        )
        .groupBy("vec_id", "label", "clabel")
        .agg(
            unscale(F.sum(scaled_long(F.col("val") * F.col("c")))).alias("dot")
        )
    )
    scored = (
        dots.join(nv, "vec_id")
        .join(F.broadcast(nc), "clabel")
        .select(
            "vec_id",
            "label",
            "clabel",
            F.round(
                F.col("dot") / (F.sqrt(F.col("na")) * F.sqrt(F.col("ncv"))),
                12,
            ).alias("score"),
        )
    )
    m = scored.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("clabel") == F.col("label"), F.col("score"))).alias(
            "own"
        ),
        F.max(F.when(F.col("clabel") != F.col("label"), F.col("score"))).alias(
            "best_other"
        ),
    )
    margin = F.col("own") - F.col("best_other")
    return (
        m.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.round(
                exact_sum(margin, precision=30, scale=15)
                / F.count("*"),
                6,
            ).alias("mean_margin"),
            F.round(
                F.sum(
                    F.when(F.col("own") < F.col("best_other"), 1).otherwise(0)
                ).cast("double")
                / F.count("*"),
                6,
            ).alias("frac_misassigned"),
        )
        .orderBy("label")
    )


@query(
    "embedding_isotropy_stats",
    """
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    x AS (
        SELECT vec_id, u.x, u.i - 1 AS i
        FROM e, LATERAL (
            SELECT UNNEST(v) AS x, generate_subscripts(v, 1) AS i
        ) u
    ),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM e),
    d AS (
        SELECT i,
               CAST(SUM(CAST(x AS DECIMAL(30,10))) AS DOUBLE) AS s,
               CAST(SUM(CAST(x * x AS DECIMAL(30,10))) AS DOUBLE) AS ss
        FROM x GROUP BY i
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS dims,
               CAST(SUM(CAST((s / n) * (s / n) AS DECIMAL(30,12)))
                    AS DOUBLE) AS mu_sq_norm,
               CAST(SUM(CAST(ss / n AS DECIMAL(30,12))) AS DOUBLE)
                   AS mean_sq_norm,
               MAX(ss / n - (s / n) * (s / n)) AS max_var,
               CAST(SUM(CAST(ss / n - (s / n) * (s / n)
                    AS DECIMAL(30,12))) AS DOUBLE) AS tot_var
        FROM d CROSS JOIN n
    )
    SELECT dims,
           CAST(n.n AS BIGINT) AS n_vectors,
           ROUND(mean_sq_norm, 6) AS mean_sq_norm,
           ROUND(mu_sq_norm, 6) AS mu_sq_norm,
           ROUND(mu_sq_norm / mean_sq_norm, 6) AS anisotropy,
           ROUND(max_var / tot_var, 6) AS top_dim_var_share
    FROM agg CROSS JOIN n
    """,
)
def embedding_isotropy_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space health card — the collapse diagnostics a
    representation-learning pipeline monitors (Ethayarajh's anisotropy
    line of work): anisotropy = ‖μ‖²/E‖x‖² (→1 when all vectors point
    the same way, ≈0 for a centered isotropic cloud) and the top
    dimension's share of total variance (a rogue-dimension detector —
    one dominant coordinate is the classic embedding-collapse
    signature). One scan posexplodes to the (vec, dim) grid and
    reduces to per-dimension moments (D rows); everything after is
    scalar algebra, per-dim terms re-summed through DECIMAL. The
    driver-checkable scalar complement of the covariance/PCA family
    (full eigen-spectrum share needs eigh — embedding_pca_project)."""
    emb = load_table(spark, sf_dir, "embeddings")
    from technical_test_data_engineer_spark.operators.partitioning import (
        fan_out,
    )

    x = fan_out(emb, 32).select(
        "vec_id", F.posexplode("embedding").alias("i", "x")
    )
    # persisted: the 1-row count attaches to both the per-dim frame and
    # the final select — one pruned count scan total (tests/PLAN_SHAPES.json)
    n = emb.agg(F.count("*").cast("double").alias("n")).persist()
    d = x.groupBy("i").agg(
        exact_sum(F.col("x"), "s"),
        exact_sum(F.col("x") * F.col("x"), "ss"),
    )
    mean = F.col("s") / F.col("n")
    evar = F.col("ss") / F.col("n") - mean * mean
    agg = d.crossJoin(F.broadcast(n)).agg(
        F.count("*").cast("bigint").alias("dims"),
        exact_sum(mean * mean, "mu_sq_norm", precision=30, scale=12),
        exact_sum(F.col("ss") / F.col("n"), "mean_sq_norm", precision=30, scale=12),
        F.max(evar).alias("max_var"),
        exact_sum(evar, "tot_var", precision=30, scale=12),
    )
    return agg.crossJoin(F.broadcast(n)).select(
        "dims",
        F.col("n").cast("bigint").alias("n_vectors"),
        F.round("mean_sq_norm", 6).alias("mean_sq_norm"),
        F.round("mu_sq_norm", 6).alias("mu_sq_norm"),
        F.round(F.col("mu_sq_norm") / F.col("mean_sq_norm"), 6).alias(
            "anisotropy"
        ),
        F.round(F.col("max_var") / F.col("tot_var"), 6).alias(
            "top_dim_var_share"
        ),
    )


_MMR_SHORT = 10   # brute-force shortlist per query feeding the re-rank
_MMR_LAM = 0.7


def _mmr_exact3_oracle() -> str:
    """Generated oracle for the 3-step unrolled MMR, r10 ALL-INTEGER
    form: exact top-10 shortlist ranked by integer-scaled dots
    (``rel_e10`` — int_scaled_dot's DuckDB twin), pairwise candidate
    sims likewise, then three argmax CTEs stepping the MMR objective in
    the exact integer domain: with λ = 0.7 = 7/10,
        mmr·1e11 = 7·rel_e10 − (10−7)·sim_e10
    so every score, comparison and tie-break is int64 arithmetic —
    bit-identical across engines with no float class at all (the r9
    deep-decimal unroll was the heaviest solo-session query in the
    registry; the integer form drops the interpreted BigDecimal folds
    entirely). Outer CASTs keep int64 tags (DuckDB SUM → HUGEINT
    floats through the driver's pandas fetch)."""
    lam_num = round(_MMR_LAM * 10)  # 7: λ as an exact tenth
    dot = (
        "CAST((SELECT SUM(CAST(ROUND(x * y * 1e10, 0) AS BIGINT)) "
        "FROM (SELECT UNNEST(CAST({a} AS DOUBLE[])) AS x, "
        "UNNEST(CAST({b} AS DOUBLE[])) AS y)) AS BIGINT)"
    )
    return f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qvec
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    scored AS (
        SELECT q.query_id, e.vec_id,
               {dot.format(a='q.qvec', b='e.embedding')} AS rel
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.query_id
    ),
    short AS (
        SELECT query_id, vec_id, rel FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY rel DESC, vec_id
            ) AS rn FROM scored
        ) WHERE rn <= {_MMR_SHORT}
    ),
    cv AS (
        SELECT s.query_id, s.vec_id, s.rel, e.embedding AS v
        FROM short s JOIN embeddings e USING (vec_id)
    ),
    sims AS (
        SELECT a.query_id, a.vec_id AS va, b.vec_id AS vb,
               {dot.format(a='a.v', b='b.v')} AS sim
        FROM cv a JOIN cv b
          ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
    ),
    s1 AS (
        SELECT query_id, vec_id,
               CAST({lam_num} * rel AS BIGINT) AS mmr
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY rel DESC, vec_id
            ) AS rn FROM short
        ) WHERE rn = 1
    ),
    p2 AS (
        SELECT c.query_id, c.vec_id,
               CAST({lam_num} * c.rel
                    - {10 - lam_num} * s.sim AS BIGINT) AS mmr
        FROM short c
        JOIN s1 ON c.query_id = s1.query_id AND c.vec_id <> s1.vec_id
        JOIN sims s ON s.query_id = c.query_id
         AND s.va = c.vec_id AND s.vb = s1.vec_id
    ),
    s2 AS (
        SELECT query_id, vec_id, mmr FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY mmr DESC, vec_id
            ) AS rn FROM p2
        ) WHERE rn = 1
    ),
    p3 AS (
        SELECT c.query_id, c.vec_id,
               CAST({lam_num} * c.rel
                    - {10 - lam_num} * GREATEST(sa.sim, sb.sim)
                    AS BIGINT) AS mmr
        FROM short c
        JOIN s1 ON c.query_id = s1.query_id AND c.vec_id <> s1.vec_id
        JOIN s2 ON c.query_id = s2.query_id AND c.vec_id <> s2.vec_id
        JOIN sims sa ON sa.query_id = c.query_id
         AND sa.va = c.vec_id AND sa.vb = s1.vec_id
        JOIN sims sb ON sb.query_id = c.query_id
         AND sb.va = c.vec_id AND sb.vb = s2.vec_id
    ),
    s3 AS (
        SELECT query_id, vec_id, mmr FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY mmr DESC, vec_id
            ) AS rn FROM p3
        ) WHERE rn = 1
    )
    SELECT query_id, pick, vec_id, mmr AS mmr_e11 FROM (
        SELECT query_id, 1 AS pick, vec_id, mmr FROM s1
        UNION ALL SELECT query_id, 2, vec_id, mmr FROM s2
        UNION ALL SELECT query_id, 3, vec_id, mmr FROM s3
    )
    ORDER BY query_id, pick
    """


@query("knn_mmr_exact3", _mmr_exact3_oracle())
def knn_mmr_exact3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unrolled 3-step Maximal Marginal Relevance — the oracle-pairable
    twin of the grouped-map greedy (knn_mmr_rerank): a FIXED number of
    greedy picks unrolls into chained argmax stages (the k-core-peel /
    k-step-conversion convention), with relevance AND candidate-pair
    similarities both integer-scaled exact dots (int_scaled_dot — the
    r10 rewrite of the r9 deep-decimal unroll, which was the heaviest
    solo-session query in the registry: 10.1 s solo steady from
    interpreted BigDecimal folds). With λ = 0.7 = 7/10 the objective
    stays in the exact integer domain end to end:
        mmr_e11 = 7·rel_e10 − 3·maxsim_e10
    so every score, argmax and tie-break is int64 arithmetic, bit-
    identical across engines, and the driver value-checks the
    diversity re-rank itself — selection, scores, and tie-breaks.
    Scale shape: the shortlist bounds everything — sims are
    shortlist², and each pick is a shortlist-sized argmax.

    r14 (guide §1.2/§2.4): the DISTRIBUTED work is the brute-force
    shortlist scoring and the shortlist² exact sim grid; the pick
    chain itself is integer argmax over N_QUERIES × _MMR_SHORT ≤ 50
    relevance rows + ≤ 450 sim rows, so both bounded frames are
    fetched ONCE and the three picks run driver-side in exact int
    arithmetic (the supplier_bradley_terry / coreset discipline).
    The r13 unroll ran the picks as 8 chained broadcast-join + window
    stages over two persisted tiny frames — job-launch overhead, not
    arithmetic. All scores stay in int64 (λ = 7/10 exact); no floats
    anywhere driver-side, so values are bit-identical by construction."""
    from technical_test_data_engineer_spark.operators.similarity import (
        int_scaled_dot,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_QUERIES)
    # persisted: the shortlist feeds its own collect AND the sim grid's
    # subtree — without it the brute-force scoring pass would run twice
    short = (
        brute_force_topk(emb, probes, k=_MMR_SHORT, metric="int")
        .select("query_id", "vec_id", F.col("score").alias("rel"))
        .persist()
    )
    cv = short.join(
        emb.select("vec_id", F.col("embedding").alias("v")), "vec_id"
    )
    a, b = cv.alias("a"), cv.alias("b")
    sims = (
        a.join(
            b,
            (F.col("a.query_id") == F.col("b.query_id"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.query_id").alias("query_id"),
            F.col("a.vec_id").alias("va"),
            F.col("b.vec_id").alias("vb"),
            int_scaled_dot(F.col("a.v"), F.col("b.v")).alias("sim"),
        )
    )
    # two bounded fetches (≤ 50 + ≤ 450 rows); the persisted shortlist
    # makes the second a cache read, not a recompute
    n_short = N_QUERIES * _MMR_SHORT
    short_rows = collect_bounded(
        short, n_short, "knn_mmr_exact3 shortlist"
    ).to_pylist()
    sim_rows = collect_bounded(
        sims, n_short * (_MMR_SHORT - 1), "knn_mmr_exact3 shortlist sims"
    ).to_pylist()

    lam = round(_MMR_LAM * 10)
    one_m = 10 - lam
    simd = {(r["query_id"], r["va"], r["vb"]): r["sim"] for r in sim_rows}
    byq: dict = {}
    for r in short_rows:
        byq.setdefault(r["query_id"], []).append((r["vec_id"], r["rel"]))

    rows = []
    for q in byq:
        cands = byq[q]
        # pick 1: argmax rel, lowest vec_id tiebreak
        sel1, rel1 = min(cands, key=lambda t: (-t[1], t[0]))
        rows.append((q, 1, sel1, lam * rel1))
        # pick 2: 7·rel − 3·sim(·, sel1)
        p2 = [
            (v, lam * rel - one_m * simd[(q, v, sel1)])
            for v, rel in cands
            if v != sel1 and (q, v, sel1) in simd
        ]
        if not p2:
            continue
        sel2, mmr2 = min(p2, key=lambda t: (-t[1], t[0]))
        rows.append((q, 2, sel2, mmr2))
        # pick 3: 7·rel − 3·max(sim to sel1, sim to sel2)
        p3 = [
            (
                v,
                lam * rel
                - one_m
                * max(simd[(q, v, sel1)], simd[(q, v, sel2)]),
            )
            for v, rel in cands
            if v != sel1
            and v != sel2
            and (q, v, sel1) in simd
            and (q, v, sel2) in simd
        ]
        if not p3:
            continue
        sel3, mmr3 = min(p3, key=lambda t: (-t[1], t[0]))
        rows.append((q, 3, sel3, mmr3))

    from pyspark.sql import types as T

    key_type = emb.schema["vec_id"].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", key_type),
            T.StructField("pick", T.IntegerType(), False),
            T.StructField("vec_id", key_type),
            T.StructField("mmr_e11", T.LongType()),
        ]
    )
    rows.sort(key=lambda t: (t[0], t[1]))
    return local_frame(spark, rows, out_schema)


_EVAL_QUERIES = 20
_EVAL_K = 10
# Literal DCG discount ladder 1/log2(i+1) and its cumulative (ideal)
# sums, i = 1..10 — shared verbatim by both engines so no log()
# implementation drift can enter the metric (the house literal-ladder
# convention, same as the Poisson CDF bootstrap).
_DISC = [1.0 / __import__("math").log2(i + 1) for i in range(1, _EVAL_K + 1)]
_IDCG = [sum(_DISC[: i + 1]) for i in range(_EVAL_K)]


def _disc_case_sql(col: str) -> str:
    branches = "".join(
        f" WHEN {i + 1} THEN {d!r}" for i, d in enumerate(_DISC)
    )
    return f"CASE {col}{branches} END"


def _idcg_case_sql(col: str) -> str:
    branches = "".join(
        f" WHEN {i + 1} THEN {c!r}" for i, c in enumerate(_IDCG)
    )
    return f"CASE {col}{branches} END"


@query(
    "retrieval_ndcg_mrr",
    f"""
    WITH corpus AS (SELECT * FROM embeddings WHERE vec_id < {EXACT_BOUND}),
    q AS (
        SELECT vec_id AS query_id, embedding AS qvec, label AS qlabel
        FROM corpus WHERE vec_id < {_EVAL_QUERIES}
    ),
    scored AS (
        SELECT q.query_id, q.qlabel, e.vec_id, e.label,
               CAST((
                   SELECT SUM(CAST(x * y AS DECIMAL(38,30)))
                   FROM (SELECT UNNEST(CAST(q.qvec AS DOUBLE[])) AS x,
                                UNNEST(CAST(e.embedding AS DOUBLE[])) AS y)
               ) AS DOUBLE) AS score
        FROM corpus e CROSS JOIN q
        WHERE e.vec_id <> q.query_id
    ),
    ranked AS (
        SELECT query_id, qlabel, label,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY score DESC, vec_id ASC
               ) AS INTEGER) AS rank
        FROM scored
    ),
    rel_counts AS (
        SELECT q.query_id,
               CAST(COUNT(*) AS BIGINT) AS n_relevant
        FROM q JOIN corpus e
          ON e.label = q.qlabel AND e.vec_id <> q.query_id
        GROUP BY q.query_id
    ),
    topk AS (
        SELECT query_id,
               CAST(SUM(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
                    AS BIGINT) AS hits_at_k,
               SUM(CASE WHEN label = qlabel
                        THEN {_disc_case_sql('rank')} ELSE 0.0 END) AS dcg,
               MIN(CASE WHEN label = qlabel THEN rank END) AS first_rel
        FROM ranked WHERE rank <= {_EVAL_K}
        GROUP BY query_id
    )
    SELECT t.query_id,
           r.n_relevant,
           t.hits_at_k,
           ROUND(CASE WHEN r.n_relevant = 0 THEN 0.0
                 ELSE t.dcg / {_idcg_case_sql(
                     f'LEAST(r.n_relevant, {_EVAL_K})')} END, 6)
               AS ndcg_at_k,
           ROUND(CASE WHEN t.first_rel IS NULL THEN 0.0
                 ELSE 1.0 / t.first_rel END, 6) AS mrr,
           ROUND(CASE WHEN r.n_relevant = 0 THEN 0.0
                 ELSE CAST(t.hits_at_k AS DOUBLE) / r.n_relevant END, 6)
               AS recall_at_k
    FROM topk t JOIN rel_counts r ON t.query_id = r.query_id
    ORDER BY t.query_id
    """,
)
def retrieval_ndcg_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality eval harness — NDCG@10, MRR, and recall@10
    for 20 probe queries against the corpus, relevance = label match
    (the eval loop every embedding/retrieval pipeline runs after each
    index or model change; completes the ANN family with the METRIC
    layer the recall-floor unit tests only spot-check). Ranking rides
    the proven decimal-exact brute-force top-k (ranks bit-identical
    across engines); the DCG discount and ideal-DCG denominators are
    LITERAL ladders shared verbatim with the oracle, so no log()
    implementation drift can enter. Scale shape: one corpus scan
    scores all queries (broadcast probe block, local_topk pre-prune),
    per-label corpus counts are a 10-row broadcast, and every join
    after the top-k is over k x queries = 200 rows. At 100 TB the
    probe set grows, not the plan."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < EXACT_BOUND
    )
    probes = emb.filter(F.col("vec_id") < _EVAL_QUERIES)
    topk = brute_force_topk(emb, probes, k=_EVAL_K)
    labels = emb.select("vec_id", "label")
    qlab = probes.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
    )
    label_counts = emb.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_label")
    )
    rel_counts = (
        qlab.join(F.broadcast(label_counts), qlab.qlabel == label_counts.label)
        .select(
            "query_id",
            (F.col("n_label") - 1).cast("bigint").alias("n_relevant"),
        )
    )
    disc = F.lit(None).cast("double")
    for i in range(_EVAL_K - 1, -1, -1):
        disc = F.when(F.col("rank") == i + 1, F.lit(_DISC[i])).otherwise(disc)
    idcg = F.lit(None).cast("double")
    for i in range(_EVAL_K - 1, -1, -1):
        idcg = F.when(
            F.least(F.col("n_relevant"), F.lit(_EVAL_K)) == i + 1,
            F.lit(_IDCG[i]),
        ).otherwise(idcg)
    rel = (F.col("label") == F.col("qlabel")).cast("int")
    per_q = (
        topk.join(F.broadcast(labels), "vec_id")
        .join(F.broadcast(qlab), "query_id")
        .select("query_id", rel.alias("rel"), disc.alias("disc"), "rank")
        .groupBy("query_id")
        .agg(
            F.sum("rel").cast("bigint").alias("hits_at_k"),
            F.sum(F.col("rel") * F.col("disc")).alias("dcg"),
            F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias(
                "first_rel"
            ),
        )
    )
    return (
        per_q.join(rel_counts, "query_id")
        .select(
            "query_id",
            "n_relevant",
            "hits_at_k",
            F.round(
                F.when(F.col("n_relevant") == 0, F.lit(0.0)).otherwise(
                    F.col("dcg") / idcg
                ),
                6,
            ).alias("ndcg_at_k"),
            F.round(
                F.when(F.col("first_rel").isNull(), F.lit(0.0)).otherwise(
                    F.lit(1.0) / F.col("first_rel")
                ),
                6,
            ).alias("mrr"),
            F.round(
                F.when(F.col("n_relevant") == 0, F.lit(0.0)).otherwise(
                    F.col("hits_at_k").cast("double") / F.col("n_relevant")
                ),
                6,
            ).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


@query(
    "embedding_int8_quant_error",
    """
    WITH e AS (
        SELECT u.i - 1 AS dim, CAST(u.x AS DOUBLE) AS x
        FROM (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             LATERAL (
                 SELECT UNNEST(v) AS x, generate_subscripts(v, 1) AS i
             ) u
    ),
    mm AS (
        SELECT dim, MIN(x) AS mn, MAX(x) AS mx,
               (MAX(x) - MIN(x)) / 255.0 AS scale
        FROM e GROUP BY dim
    ),
    q AS (
        SELECT e.dim, e.x, mm.mn, mm.mx,
               e.x - (mm.mn + LEAST(255, GREATEST(0,
                   FLOOR((e.x - mm.mn) / NULLIF(mm.scale, 0) + 0.5)))
                   * mm.scale) AS err
        FROM e JOIN mm ON e.dim = mm.dim
    )
    SELECT CAST(dim AS INTEGER) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MAX(mn), 6) AS dim_min,
           ROUND(MAX(mx), 6) AS dim_max,
           ROUND(CAST(SUM(CAST(ROUND(ABS(COALESCE(err, 0)), 12)
                               AS DECIMAL(30,15))) AS DOUBLE)
                 / COUNT(*), 8) AS mean_abs_err,
           ROUND(MAX(ROUND(ABS(COALESCE(err, 0)), 9)), 8) AS max_abs_err,
           ROUND(CAST(SUM(CAST(ROUND(COALESCE(err, 0)
                                     * COALESCE(err, 0), 15)
                               AS DECIMAL(30,18))) AS DOUBLE)
                 / COUNT(*), 10) AS mse
    FROM q
    GROUP BY dim
    ORDER BY dim
    """,
)
def embedding_int8_quant_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization audit — the error readout a vector
    store publishes before switching its ANN index to 8-bit storage
    (4× memory cut vs float32): per-dimension min/max calibration,
    symmetric-grid quantize q = clamp(floor((x−min)/scale + .5)),
    reconstruct, and report per-dimension mean/max absolute error and
    MSE. floor(+0.5) rather than ROUND so both engines use the
    identical half-up rule on doubles; constant dimensions (scale 0)
    quantize error-free via the NULLIF/COALESCE guard. Plan: ONE
    posexplode of the corpus persisted, a dims-sized min/max agg
    broadcast back onto it, error algebra scan-side, one dims-keyed
    agg out — two passes over the exploded frame, zero joins at corpus
    width. At 100 TB the exploded frame never materializes wider than
    (dim, x) and the calibration table is dims-sized."""
    emb = load_table(spark, sf_dir, "embeddings")
    # persisted: feeds the dims-sized calibration agg AND the error pass
    e = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "x"
        )
    ).persist()
    mm = e.groupBy("dim").agg(
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
        ((F.max("x") - F.min("x")) / F.lit(255.0)).alias("scale"),
    )
    j = e.join(F.broadcast(mm), "dim")
    qv = F.least(
        F.lit(255.0),
        F.greatest(
            F.lit(0.0),
            F.floor(
                (F.col("x") - F.col("mn"))
                / F.nullif(F.col("scale"), F.lit(0.0))
                + F.lit(0.5)
            ).cast("double"),
        ),
    )
    err = F.coalesce(
        F.col("x") - (F.col("mn") + qv * F.col("scale")), F.lit(0.0)
    )
    q = j.select("dim", "mn", "mx", err.alias("err"))
    return (
        q.groupBy("dim")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.max("mn"), 6).alias("dim_min"),
            F.round(F.max("mx"), 6).alias("dim_max"),
            F.round(
                exact_sum(F.round(F.abs(F.col("err")), 12), precision=30, scale=15)
                / F.count("*"),
                8,
            ).alias("mean_abs_err"),
            F.round(F.max(F.round(F.abs(F.col("err")), 9)), 8).alias(
                "max_abs_err"
            ),
            F.round(
                exact_sum(
                    F.round(F.col("err") * F.col("err"), 15), precision=30, scale=18
                )
                / F.count("*"),
                10,
            ).alias("mse"),
        )
        .select(
            F.col("dim").cast("int").alias("dim"),
            "n",
            "dim_min",
            "dim_max",
            "mean_abs_err",
            "max_abs_err",
            "mse",
        )
        .orderBy("dim")
    )


_JL_K = 16  # projected dimensionality
_JL_PROBES = 20  # bounded pair-audit probe set (190 pairs)


@query(
    "embedding_jl_distortion",
    f"""
    WITH probe AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id < {_JL_PROBES}
    ),
    e AS (
        SELECT vec_id, u.i - 1 AS dim, CAST(u.x AS DOUBLE) AS x
        FROM probe,
             LATERAL (
                 SELECT UNNEST(v) AS x, generate_subscripts(v, 1) AS i
             ) u
    ),
    signs AS (
        SELECT d.dim, j.j,
               CASE WHEN (CAST('0x' || SUBSTRING(MD5(
                        CAST(d.dim AS VARCHAR) || '_'
                        || CAST(j.j AS VARCHAR)), 1, 8) AS BIGINT)
                     % 2) = 0 THEN 1.0 ELSE -1.0 END AS s
        FROM (SELECT UNNEST(GENERATE_SERIES(0, 63)) AS dim) d
        CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, {_JL_K - 1})) AS j) j
    ),
    proj AS (
        SELECT e.vec_id, sg.j,
               CAST(SUM(CAST(ROUND(sg.s * e.x, 12) AS DECIMAL(30,15)))
                    AS DOUBLE) / 4.0 AS p
        FROM e JOIN signs sg ON e.dim = sg.dim
        GROUP BY e.vec_id, sg.j
    ),
    od AS (
        SELECT a.vec_id AS va, b.vec_id AS vb,
               CAST(SUM(CAST(ROUND(POW(a.x - b.x, 2), 12)
                             AS DECIMAL(30,15))) AS DOUBLE) AS d2
        FROM e a JOIN e b ON a.dim = b.dim AND a.vec_id < b.vec_id
        GROUP BY a.vec_id, b.vec_id
    ),
    pd AS (
        SELECT a.vec_id AS va, b.vec_id AS vb,
               CAST(SUM(CAST(ROUND(POW(a.p - b.p, 2), 12)
                             AS DECIMAL(30,15))) AS DOUBLE) AS d2p
        FROM proj a JOIN proj b ON a.j = b.j AND a.vec_id < b.vec_id
        GROUP BY a.vec_id, b.vec_id
    ),
    pr AS (
        SELECT od.va, od.vb, od.d2, pd.d2p,
               ROUND(pd.d2p / NULLIF(od.d2, 0), 12) AS ratio
        FROM od JOIN pd ON od.va = pd.va AND od.vb = pd.vb
    )
    SELECT va, vb,
           ROUND(d2, 6) AS d2_orig,
           ROUND(d2p, 6) AS d2_proj,
           ROUND(ratio, 6) AS ratio,
           ROUND(CAST(SUM(CAST(ratio AS DECIMAL(30,15))) OVER ()
                      AS DOUBLE) / COUNT(*) OVER (), 6) AS mean_ratio,
           ROUND(MAX(ratio) OVER (), 6) AS max_ratio,
           ROUND(MIN(ratio) OVER (), 6) AS min_ratio
    FROM pr
    ORDER BY va, vb
    """,
)
def embedding_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss distortion audit for a ±1 random
    projection 64 → 16 dims (Achlioptas 2003: sign matrices satisfy
    the JL lemma with the same guarantees as Gaussians and cost one
    multiply) — the audit a vector pipeline runs before switching its
    coarse recall stage to projected vectors: per probe pair, squared
    distance before vs after projection and the distortion ratio,
    with the mean/min/max ratio envelope attached. Signs come from the
    house md5 convention on (dim, j) so BOTH engines derive the
    identical matrix with no shipped literals — the seeded-planes
    discipline made engine-portable. Bounded documented proof: 20
    probes → 190 pairs; the production path projects the corpus with
    the same dims×k broadcast matrix in one scan (the fold shape of
    ``knn_bruteforce``) and never joins at corpus width. All distance
    terms are rounded to 12 and DECIMAL-summed (order-free); the /4
    scaling (1/√k, k=16) is exact."""
    from technical_test_data_engineer_spark.operators.text import md5_bucket

    emb = load_table(spark, sf_dir, "embeddings")
    # persisted: feeds the sign-join projection AND the original-distance
    # pair self-join
    e = (
        emb.filter(F.col("vec_id") < _JL_PROBES)
        .select(
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "dim", "x"
            ),
        )
        .persist()
    )
    dims = spark.range(64).select(F.col("id").cast("int").alias("dim"))
    js = spark.range(_JL_K).select(F.col("id").cast("int").alias("j"))
    signs = dims.crossJoin(js).select(
        "dim",
        "j",
        F.when(
            md5_bucket(
                F.concat_ws("_", F.col("dim"), F.col("j")), 2
            )
            == 0,
            F.lit(1.0),
        )
        .otherwise(F.lit(-1.0))
        .alias("s"),
    )
    proj = (
        e.join(F.broadcast(signs), "dim")
        .groupBy("vec_id", "j")
        .agg(
            (
                exact_sum(F.round(F.col("s") * F.col("x"), 12), precision=30, scale=15)
                / F.lit(4.0)
            ).alias("p")
        )
        .persist()  # feeds both sides of the projected-distance self-join
    )

    def pair_d2(df, val, out):
        a = df.select(
            F.col("vec_id").alias("va"), F.col(df.columns[1]).alias("k"),
            F.col(val).alias("xa"),
        )
        b = df.select(
            F.col("vec_id").alias("vb"), F.col(df.columns[1]).alias("k"),
            F.col(val).alias("xb"),
        )
        return (
            a.join(b, "k")
            .filter(F.col("va") < F.col("vb"))
            .groupBy("va", "vb")
            .agg(
                exact_sum(
                    F.round(F.pow(F.col("xa") - F.col("xb"), 2), 12),
                    out,
                    precision=30,
                    scale=15,
                )
            )
        )

    od = pair_d2(e.select("vec_id", "dim", "x"), "x", "d2")
    pd_ = pair_d2(proj.select("vec_id", "j", "p"), "p", "d2p")
    pr = od.join(pd_, ["va", "vb"]).select(
        "va",
        "vb",
        "d2",
        "d2p",
        F.round(
            F.col("d2p") / F.nullif(F.col("d2"), F.lit(0.0)), 12
        ).alias("ratio"),
    )
    from pyspark.sql.window import Window

    wg = Window.partitionBy()
    return pr.select(
        "va",
        "vb",
        F.round("d2", 6).alias("d2_orig"),
        F.round("d2p", 6).alias("d2_proj"),
        F.round("ratio", 6).alias("ratio"),
        F.round(
            F.sum(dec(F.col("ratio"), 30, 15))
            .over(wg)
            .cast("double")
            / F.count("*").over(wg),
            6,
        ).alias("mean_ratio"),
        F.round(F.max("ratio").over(wg), 6).alias("max_ratio"),
        F.round(F.min("ratio").over(wg), 6).alias("min_ratio"),
    ).orderBy("va", "vb")
