"""Similarity search: exact dot-product correctness on hand vectors;
LSH recall against brute force on the real embeddings fixture."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from technical_test_data_engineer_spark.operators.similarity import (
    brute_force_topk,
    exact_dot,
    ivf_topk,
    lsh_topk,
)
from technical_test_data_engineer_spark.sources.parquet_source import load_table


def test_exact_dot_hand_values(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])],
        "a array<float>, b array<float>",
    )
    got = df.select(exact_dot(F.col("a"), F.col("b")).alias("d")).collect()[0].d
    assert got == 32.0


def test_brute_force_finds_identical_vector(spark):
    rows = [
        (0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.7, 0.7]),
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = brute_force_topk(corpus, corpus.filter("vec_id = 0"), k=2)
    got = [(r.vec_id, r.rank) for r in out.orderBy("rank").collect()]
    assert got[0] == (1, 1)  # the identical vector ranks first


def test_lsh_recall_vs_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, probes, k=5)
    rng = random.Random(42)
    planes = [[[rng.gauss(0, 1) for _ in range(64)] for _ in range(3)]
              for _ in range(8)]
    approx = lsh_topk(emb, probes, planes, k=5)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # 8 tables × 3 planes measured 0.92 on this fixture (seed 42)
    assert recall >= 0.7, f"LSH recall too low: {recall}"


def test_ivf_finds_identical_vector(spark):
    rows = [(i, [float(i % 4 == 0), float(i % 4 == 1), float(i % 4 == 2),
                 float(i % 4 == 3)]) for i in range(16)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = ivf_topk(corpus, corpus.filter("vec_id = 12"), n_centroids=4,
                   n_probe=1, k=2)
    got = [(r.vec_id, r.rank) for r in out.orderBy("rank").collect()]
    # vec 12 ≡ e_0; its cell holds the other e_0 vectors (0, 4, 8)
    assert got[0][0] in (0, 4, 8)
    assert got[0][1] == 1


def test_ivf_recall_on_clustered_data(spark):
    # IVF's contract — neighbors share coarse cells — holds on clustered
    # corpora, so that's where the ≥0.9 recall bar belongs. 16 planted
    # gaussian clusters in 16-d, 25 points each; k-means (seed 42)
    # recovers them and probing 4/16 cells keeps the true top-5.
    rng = random.Random(7)
    rows = []
    for c in range(16):
        center = [rng.gauss(0, 1) for _ in range(16)]
        for p in range(25):
            rows.append(
                (c * 25 + p, [x + rng.gauss(0, 0.05) for x in center])
            )
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = corpus.filter(F.col("vec_id") % 25 == 0).limit(5)
    exact = brute_force_topk(corpus, probes, k=5)
    approx = ivf_topk(corpus, probes, n_centroids=16, n_probe=4, k=5)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, f"IVF recall too low on clustered data: {recall}"


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    # The sf fixtures are uniform-random unit vectors (no planted
    # structure — embedding_near_dup_exact finds 0 pairs), so top-5
    # neighbors are weakly correlated with cells and recall is data-
    # bound, not centroid-bound: measured 0.72 (sf0.001) / 0.88 (sf0.01)
    # at n_probe=8. The ≥0.9 bar lives in the clustered-data test above;
    # here assert a sanity floor and the exact-in-the-limit property.
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, probes, k=5)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    half = ivf_topk(emb, probes, n_centroids=16, n_probe=8, k=5)
    a = {(r.query_id, r.vec_id) for r in half.collect()}
    assert len(e & a) / len(e) >= 0.6, "IVF recall at n_probe=8 regressed"
    full = ivf_topk(emb, probes, n_centroids=16, n_probe=16, k=5)
    af = {(r.query_id, r.vec_id) for r in full.collect()}
    assert af == e, "probing every cell must equal brute force"


def test_pq_recall_and_score_quality(spark, sf_dir):
    from technical_test_data_engineer_spark.operators.similarity import (
        pq_adc_topk,
        train_pq_codebooks,
    )

    # uniform-random 64-d unit vectors are PQ's worst case (no subspace
    # structure to exploit): measured 0.38 recall@10 at 8 subspaces × 64
    # codes vs 0.02 chance. The ≥0.9 bar lives on clustered data below.
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, probes, k=10)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    books = train_pq_codebooks(emb, m=8, n_codes=64)
    approx = pq_adc_topk(emb, probes, books, k=10)
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.25, f"PQ/ADC recall collapsed: {recall}"
    # determinism: same seed → same codebooks → identical result set
    books2 = train_pq_codebooks(emb, m=8, n_codes=64)
    a2 = {(r.query_id, r.vec_id) for r in pq_adc_topk(emb, probes, books2, k=10).collect()}
    assert a == a2


def test_pq_recall_on_clustered_data(spark):
    import random as _random

    from technical_test_data_engineer_spark.operators.similarity import (
        pq_adc_topk,
        train_pq_codebooks,
    )

    rng = _random.Random(11)
    rows = []
    for c in range(16):
        center = [rng.gauss(0, 1) for _ in range(16)]
        for p in range(25):
            rows.append((c * 25 + p, [x + rng.gauss(0, 0.05) for x in center]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = corpus.filter(F.col("vec_id") % 25 == 0).limit(5)
    e = {(r.query_id, r.vec_id) for r in brute_force_topk(corpus, probes, k=5).collect()}
    books = train_pq_codebooks(corpus, m=4, n_codes=32)
    # ADC alone cannot rank within a cluster (cell-mates share codes →
    # tied scores), so bare-ADC recall is ~0.28 here; the standard
    # two-stage pattern — ADC shortlist, exact re-rank — restores it
    a = {
        (r.query_id, r.vec_id)
        for r in pq_adc_topk(corpus, probes, books, k=5, rerank=50).collect()
    }
    recall = len(e & a) / len(e)
    assert recall >= 0.9, f"PQ+rerank recall too low on clustered data: {recall}"


def test_pq_encoding_reconstruction_improves_with_codes(spark, sf_dir):
    # more centroids per subspace → lower quantization error (monotone
    # improvement is the basic sanity invariant of a trained quantizer)
    import numpy as np

    from technical_test_data_engineer_spark.operators.similarity import (
        ivfpq_encode_udf,
        train_pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    X = np.array([list(r[0]) for r in emb.select("embedding").collect()])

    def mse(n_codes):
        books = train_pq_codebooks(emb, m=8, n_codes=n_codes)
        # plain PQ is IVF-PQ over one all-zero cell: the residual is x
        enc = ivfpq_encode_udf(np.zeros((1, X.shape[1])), books)
        codes = np.array(
            [
                list(r[0])
                for r in emb.select(enc(F.col("embedding"))["codes"]).collect()
            ]
        )
        sub = X.shape[1] // 8
        rec = np.concatenate(
            [books[j][codes[:, j]] for j in range(8)], axis=1
        )
        assert rec.shape == X.shape
        return float(((X - rec) ** 2).mean())

    assert mse(32) < mse(4)


def test_train_sample_sparse_offset_ids(spark):
    # hash-based subsampling must keep ~the intended rate when ids are
    # sparse/offset — the round-2 advisor showed (id % stride)==0 keeps
    # ~0 rows for offset id spaces and k-means then fails cryptically
    import random as _random

    from technical_test_data_engineer_spark.operators.similarity import (
        train_ivf_centroids,
    )

    rng = _random.Random(3)
    rows = [
        (10**12 + i * 7919, [rng.gauss(0, 1) for _ in range(8)])
        for i in range(120)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = train_ivf_centroids(
        corpus, n_centroids=4, max_train_vectors=60
    )
    assert len(cents) == 4 and len(cents[0]) == 8


def test_train_sample_undersized_raises_clearly(spark):
    from technical_test_data_engineer_spark.operators.similarity import (
        train_ivf_centroids,
    )

    rows = [(i, [float(i), 0.0]) for i in range(8)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="training sample"):
        train_ivf_centroids(corpus, n_centroids=16)


def test_nan_scores_rank_last_and_prune_losslessly(spark):
    # contract: scorers normalize NaN -> NULL (nan_safe_score), because
    # the Arrow/pandas hop in local_topk cannot represent float NaN and
    # Spark orders NaN (greatest) and NULL (last under desc) differently.
    # Operator level: a zero-norm vector's cosine is undefined -> ranks
    # LAST, and the pruned pipeline equals the expected ranking.
    rows = [
        (0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.0, 1.0]),
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = brute_force_topk(
        corpus, corpus.filter("vec_id = 0"), k=3, metric="cosine"
    )
    got = [(r.vec_id, r.score) for r in out.orderBy("rank").collect()]
    assert [v for v, _ in got] == [1, 3, 2]
    assert got[2][1] is None  # undefined score surfaced as NULL, ranked last

    # prune level: NULL scores must survive the prune exactly like the
    # plain window path (null-last on both sides)
    from pyspark.sql.window import Window

    from technical_test_data_engineer_spark.operators.similarity import (
        local_topk,
    )

    srows = [
        (0, None, 1), (0, 5.0, 2), (0, 4.0, 3), (0, 3.0, 4),
        (1, 2.0, 5), (1, None, 6),
    ]
    df = spark.createDataFrame(
        srows, "query_id long, score double, vec_id long"
    ).repartition(3)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("vec_id")
    )

    def finish(scored):
        return {
            (r.query_id, r.vec_id, r.rank)
            for r in scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 2)
            .collect()
        }

    got2 = finish(local_topk(df, 2))
    assert got2 == finish(df)
    assert (1, 5, 1) in got2 and (1, 6, 2) in got2  # null ranks last


def test_lsh_multiprobe_superset_and_recall(spark, sf_dir):
    # deterministic contract: flipping bits only ADDS probe buckets, so
    # the multiprobe candidate set (hence result quality) can only grow
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5)
    rng = random.Random(42)
    planes = [[[rng.gauss(0, 1) for _ in range(64)] for _ in range(6)]
              for _ in range(8)]
    exact = {(r.query_id, r.vec_id) for r in
             brute_force_topk(emb, probes, k=5).collect()}

    def recall(probe_bits):
        got = lsh_topk(emb, probes, planes, k=5, probe_bits=probe_bits)
        return {(r.query_id, r.vec_id) for r in got.collect()}

    single, multi = recall(0), recall(6)
    # at 6 planes/table single-probe recall collapses on the uniform
    # fixture (buckets hold ~1/64 of the corpus); Hamming-1 probing
    # must recover at least as much as single-probe ever had, and in
    # practice most of the gap to brute force
    assert len(multi & exact) >= len(single & exact)
    assert len(multi & exact) / len(exact) >= 0.6, (
        len(multi & exact) / len(exact)
    )


def test_ivfpq_recall_on_clustered_data(spark):
    """IVF-PQ on planted clusters: probing 4/16 cells with residual
    codes + exact re-rank keeps ≥0.9 of the true top-5 (the composite
    inherits IVF's cell contract; residual PQ only has to rank within
    probed cells before re-rank fixes fine order)."""
    import random

    from technical_test_data_engineer_spark.operators.similarity import (
        ivfpq_topk,
        train_ivf_centroids,
        train_ivfpq_codebooks,
    )

    rng = random.Random(7)
    rows = []
    for c in range(16):
        center = [rng.gauss(0, 1) for _ in range(16)]
        for p in range(25):
            rows.append((c * 25 + p, [x + rng.gauss(0, 0.05) for x in center]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = corpus.filter(F.col("vec_id") % 25 == 0).limit(5)
    exact = brute_force_topk(corpus, probes, k=5)
    cents = train_ivf_centroids(corpus, n_centroids=16)
    books = train_ivfpq_codebooks(corpus, cents, m=8, n_codes=16)
    approx = ivfpq_topk(corpus, probes, cents, books, k=5, n_probe=4, rerank=15)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, f"IVF-PQ recall too low on clustered data: {recall}"


def test_ivfpq_probeall_rerankall_equals_bruteforce(spark, sf_dir):
    """The exact-in-the-limit proof behind knn_ivfpq_exact: every cell
    probed + whole shortlist exact-re-ranked ⇒ identical result set to
    brute force, for ANY centroids/codebooks."""
    from technical_test_data_engineer_spark.operators.similarity import (
        ivfpq_topk,
        train_ivf_centroids,
        train_ivfpq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    probes = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, probes, k=5)
    cents = train_ivf_centroids(emb, n_centroids=4, max_iter=1,
                                max_train_vectors=1024)
    books = train_ivfpq_codebooks(emb, cents, m=8, n_codes=16, n_iter=1)
    full = ivfpq_topk(emb, probes, cents, books, k=5, n_probe=4,
                      rerank=200, rerank_metric="exact")
    e = {(r.query_id, r.vec_id, r.rank) for r in exact.collect()}
    a = {(r.query_id, r.vec_id, r.rank) for r in full.collect()}
    assert a == e


def test_ivfpq_unprobed_cells_never_scored(spark):
    """n_probe=1 on well-separated clusters: every returned neighbor
    lies in the query's own cell — the mask prune is real, not
    cosmetic."""
    from technical_test_data_engineer_spark.operators.similarity import (
        ivfpq_topk,
        train_ivf_centroids,
        train_ivfpq_codebooks,
    )

    # 4 orthogonal clusters in 8-d
    rows = []
    for c in range(4):
        for p in range(10):
            v = [0.0] * 8
            v[c * 2] = 1.0
            v[c * 2 + 1] = 0.1 * p
            rows.append((c * 10 + p, v))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = corpus.filter(F.col("vec_id") == 0)
    cents = train_ivf_centroids(corpus, n_centroids=4)
    books = train_ivfpq_codebooks(corpus, cents, m=4, n_codes=8)
    out = ivfpq_topk(corpus, probes, cents, books, k=5, n_probe=1).collect()
    assert out, "probe of own cell must return neighbors"
    assert {r.vec_id for r in out} <= set(range(10)), (
        "neighbors leaked from unprobed cells"
    )


def test_rrf_fuse_hand_checked(spark):
    from technical_test_data_engineer_spark.operators.similarity import rrf_fuse

    sparse = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (2, 20, 1)],
        "query_id long, cand_id long, rank int",
    )
    dense = spark.createDataFrame(
        [(1, 11, 1), (1, 12, 2), (2, 20, 1)],
        "query_id long, cand_id long, rank int",
    )
    out = {
        (r["query_id"], r["cand_id"]): (r["rrf_score"], r["fused_rank"])
        for r in rrf_fuse([sparse, dense], k=5).collect()
    }
    # cand 11: in both lists (1/62 + 1/61) beats cand 10 (1/61 only)
    # and cand 12 (1/62 only); cand 20 fused from both rank-1 lists
    assert abs(out[(1, 11)][0] - (1 / 62 + 1 / 61)) < 1e-12
    assert out[(1, 11)][1] == 1
    assert out[(1, 10)][1] == 2 and abs(out[(1, 10)][0] - 1 / 61) < 1e-12
    assert out[(1, 12)][1] == 3
    assert abs(out[(2, 20)][0] - 2 / 61) < 1e-12 and out[(2, 20)][1] == 1


def test_rrf_fuse_rank_only_no_score_scale_dependence(spark):
    from technical_test_data_engineer_spark.operators.similarity import rrf_fuse

    # identical ranks from wildly different scorers fuse identically —
    # the property that makes RRF the calibration-free hybrid default
    a = spark.createDataFrame([(1, 5, 1), (1, 6, 2)], "query_id long, cand_id long, rank int")
    out1 = rrf_fuse([a, a]).collect()
    out2 = rrf_fuse([a]).collect()
    r1 = {(r["query_id"], r["cand_id"]): r["fused_rank"] for r in out1}
    r2 = {(r["query_id"], r["cand_id"]): r["fused_rank"] for r in out2}
    assert r1 == r2  # ordering identical; only magnitudes differ


def test_matryoshka_truncation_on_prefix_structured_vectors(spark):
    """The MRL premise — prefixes carry the signal — holds when vectors
    are TRAINED that way, not for arbitrary fixtures (the random test
    corpus measures ~0.2 recall@trunc, correctly). Plant prefix-
    clustered vectors (first 16 dims = cluster centroid, tail = small
    id-seeded noise) and the truncated search must recover the same
    cluster neighbors as full-dim search; slicing ALL dims must be a
    no-op."""
    import math
    import random as rnd

    from technical_test_data_engineer_spark.operators.similarity import (
        brute_force_topk,
    )

    r = rnd.Random(11)
    rows = []
    for vid in range(40):
        cluster = vid % 4
        head = [1.0 if d // 4 == cluster else 0.0 for d in range(16)]
        tail = [r.uniform(-0.05, 0.05) for _ in range(48)]
        vec = head + tail
        norm = math.sqrt(sum(x * x for x in vec))
        rows.append((vid, [x / norm for x in vec]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probes = emb.filter(F.col("vec_id") < 4)  # one probe per cluster

    full = brute_force_topk(emb, probes, k=5)
    sliced = emb.select(
        "vec_id", F.slice("embedding", 1, 16).alias("embedding")
    )
    trunc = brute_force_topk(sliced, sliced.filter(F.col("vec_id") < 4), k=5)

    def cluster_purity(df):
        ok = n = 0
        for row in df.collect():
            n += 1
            ok += int(row["vec_id"] % 4 == row["query_id"] % 4)
        return ok / n

    assert cluster_purity(full) == 1.0
    assert cluster_purity(trunc) == 1.0  # 16 dims suffice by design

    whole = brute_force_topk(
        emb.select("vec_id", F.slice("embedding", 1, 64).alias("embedding")),
        emb.select(
            "vec_id", F.slice("embedding", 1, 64).alias("embedding")
        ).filter(F.col("vec_id") < 4),
        k=5,
    )
    assert {(r["query_id"], r["vec_id"], r["rank"]) for r in whole.collect()} == {
        (r["query_id"], r["vec_id"], r["rank"]) for r in full.collect()
    }


def test_mmr_rerank_matches_numpy_reference(spark):
    """MMR grouped-map selection == a straightforward numpy reference
    on the same shortlist; λ=1 degenerates to plain top-k order."""
    import numpy as np

    from technical_test_data_engineer_spark.operators.similarity import (
        brute_force_topk,
        mmr_rerank,
    )
    from technical_test_data_engineer_spark.sources.parquet_source import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    probes = emb.filter(F.col("vec_id") < 3)
    short = brute_force_topk(emb, probes, k=10).select(
        "query_id", "vec_id", "score"
    )
    got = {
        (r["query_id"], r["mmr_rank"]): r["vec_id"]
        for r in mmr_rerank(short, emb, k=4, lam=0.6).collect()
    }
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    rows = short.collect()
    for q in {r["query_id"] for r in rows}:
        cand = sorted(
            [(r["score"], r["vec_id"]) for r in rows if r["query_id"] == q],
            key=lambda t: (-t[0], t[1]),
        )
        ids = [c[1] for c in cand]
        rel = {c[1]: c[0] for c in cand}
        unit = {
            i: vecs[i] / (np.linalg.norm(vecs[i]) or 1.0) for i in ids
        }
        chosen: list = []
        avail = set(ids)
        while len(chosen) < 4 and avail:
            best, best_v = None, -np.inf
            for i in ids:
                if i not in avail:
                    continue
                pen = max(
                    (float(unit[i] @ unit[j]) for j in chosen),
                    default=0.0,
                )
                v = 0.6 * rel[i] - 0.4 * pen
                if v > best_v + 1e-12:
                    best, best_v = i, v
            chosen.append(best)
            avail.discard(best)
        for rank, i in enumerate(chosen, 1):
            assert got[(q, rank)] == i, (q, rank)
    # λ=1 ≡ plain top-k
    top = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in brute_force_topk(emb, probes, k=4).collect()
    }
    lam1 = {
        (r["query_id"], r["mmr_rank"]): r["vec_id"]
        for r in mmr_rerank(short, emb, k=4, lam=1.0).collect()
    }
    assert lam1 == top


def test_mmr_rerank_increases_diversity(spark):
    """With λ<1 the selected set's mean pairwise cosine must not exceed
    plain top-k's on a corpus with planted near-duplicates."""
    import numpy as np

    from technical_test_data_engineer_spark.operators.similarity import (
        brute_force_topk,
        mmr_rerank,
    )

    rng = np.random.RandomState(7)
    base = rng.randn(4, 16)
    rows = []
    vid = 0
    for b in base:
        for _ in range(5):  # 5 near-copies of each of 4 prototypes
            v = b + rng.randn(16) * 0.01
            v = v / np.linalg.norm(v)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = emb.filter(F.col("vec_id") == 0)
    short = brute_force_topk(emb, probes, k=12).select(
        "query_id", "vec_id", "score"
    )
    vecs = {r["vec_id"]: np.asarray(r["embedding"]) for r in emb.collect()}

    def mean_pair_cos(ids):
        u = [vecs[i] / np.linalg.norm(vecs[i]) for i in ids]
        sims = [
            float(u[a] @ u[b])
            for a in range(len(u))
            for b in range(a + 1, len(u))
        ]
        return sum(sims) / len(sims)

    plain = [
        r["vec_id"]
        for r in brute_force_topk(emb, probes, k=4).collect()
    ]
    mmr = [
        r["vec_id"]
        for r in mmr_rerank(short, emb, k=4, lam=0.5)
        .orderBy("mmr_rank")
        .collect()
    ]
    assert mean_pair_cos(mmr) < mean_pair_cos(plain) - 0.05


# ---------------------------------------------------------------------------
# Hard-negative mining (round 6)
# ---------------------------------------------------------------------------


def test_hard_negatives_excludes_same_label_and_self(spark):
    """Planted geometry: the anchor's nearest vector shares its label
    (must be excluded); the returned negatives are exactly the
    nearest different-label vectors in similarity order."""
    from technical_test_data_engineer_spark.operators.similarity import (
        hard_negatives,
    )

    rows = [
        (0, [1.0, 0.0, 0.0], 0),   # anchor, label 0
        (1, [0.99, 0.14, 0.0], 0),  # same label, closest — excluded
        (2, [0.9, 0.43, 0.0], 1),   # hard negative (closest other-label)
        (3, [0.5, 0.86, 0.0], 1),
        (4, [0.0, 1.0, 0.0], 2),
        (5, [-1.0, 0.0, 0.0], 1),   # easy negative
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    anchors = emb.filter(F.col("vec_id") == 0)
    got = [
        (r.vec_id, r.rank)
        for r in hard_negatives(emb, anchors, k=3)
        .orderBy("rank")
        .collect()
    ]
    assert got == [(2, 1), (3, 2), (4, 3)]
    assert 1 not in {v for v, _ in got}


def test_hard_negatives_matches_numpy_reference(spark):
    """Random corpus: operator output equals the numpy argsort of
    dot products restricted to other-label rows, per anchor."""
    import numpy as np

    from technical_test_data_engineer_spark.operators.similarity import (
        hard_negatives,
    )

    rng = random.Random(7)
    n, d = 80, 8
    vecs = [[rng.uniform(-1, 1) for _ in range(d)] for _ in range(n)]
    labels = [rng.randrange(3) for _ in range(n)]
    emb = spark.createDataFrame(
        [(i, vecs[i], labels[i]) for i in range(n)],
        "vec_id long, embedding array<float>, label int",
    )
    anchors = emb.filter(F.col("vec_id") < 4)
    got = {
        (r.anchor_id, r.rank): r.vec_id
        for r in hard_negatives(emb, anchors, k=5).collect()
    }
    V = np.array(vecs, dtype=np.float32).astype(np.float64)
    for a in range(4):
        scores = V @ V[a]
        cand = [
            (round(scores[j], 12), j)
            for j in range(n)
            if j != a and labels[j] != labels[a]
        ]
        cand.sort(key=lambda t: (-t[0], t[1]))
        for rank, (_, j) in enumerate(cand[:5], start=1):
            assert got[(a, rank)] == j, (a, rank)


def test_maxsim_matches_numpy_reference(spark):
    """Late-interaction MaxSim equals the numpy token-grid computation
    (reshape → pairwise dots → per-query-token max → sum), rank for
    rank."""
    import numpy as np

    from technical_test_data_engineer_spark.operators.similarity import (
        maxsim_topk,
    )

    rng = random.Random(11)
    n, d, t = 60, 16, 4  # 4 token sub-vectors of 4 dims
    vecs = [[rng.uniform(-1, 1) for _ in range(d)] for _ in range(n)]
    emb = spark.createDataFrame(
        [(i, vecs[i]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    qs = emb.filter(F.col("vec_id") < 3)
    got = {
        (r.query_id, r.rank): (r.vec_id, r.score)
        for r in maxsim_topk(emb, qs, t, k=4).collect()
    }
    V = np.array(vecs, dtype=np.float32).astype(np.float64).reshape(n, t, d // t)
    for q in range(3):
        scores = []
        for j in range(n):
            if j == q:
                continue
            grid = V[q] @ V[j].T           # (t, t) token dots
            scores.append((grid.max(axis=1).sum(), j))
        scores.sort(key=lambda s: (-s[0], s[1]))
        for rank, (s, j) in enumerate(scores[:4], start=1):
            vid, sc = got[(q, rank)]
            assert vid == j, (q, rank)
            assert abs(sc - s) < 1e-9


def test_maxsim_token_matching_beats_pooled_on_planted_case(spark):
    """The discriminating property of late interaction: a document
    whose tokens each match ONE query token strongly outranks a
    document that is a uniform mediocre match, even when their pooled
    (mean-vector) similarity is identical-or-reversed."""
    from technical_test_data_engineer_spark.operators.similarity import (
        maxsim_topk,
    )

    # query: two orthogonal token vectors e0, e1 (4-d sub-vectors)
    q = [1.0, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0]
    # doc A: tokens exactly e0 and e1 (perfect per-token matches)
    da = [1.0, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0]
    # doc B: both tokens the pooled mean direction (same mean as A!)
    db = [0.5, 0.5, 0.0, 0.0, 0.5, 0.5, 0.0, 0.0]
    emb = spark.createDataFrame(
        [(0, q), (1, da), (2, db)],
        "vec_id long, embedding array<float>",
    )
    got = [
        (r.vec_id, r.score)
        for r in maxsim_topk(emb, emb.filter(F.col("vec_id") == 0), 2, k=2)
        .orderBy("rank")
        .collect()
    ]
    assert got[0][0] == 1 and got[1][0] == 2
    assert got[0][1] > got[1][1]


def test_recall_curve_grid_and_monotonicity(spark):
    """matryoshka_recall_curve invariants the oracle can't state: the
    (dim x query) grid is complete with zero-filled holes, recall is
    n_overlap / TOP_K in [0, 1], and on the fixed fixture mean recall
    rises with prefix length (0.08 / 0.12 / 0.28 at dims 8/16/32 —
    random vectors rightly score LOW truncation recall; the planted
    prefix-structured case is covered by the matryoshka test above)."""
    from technical_test_data_engineer_spark.plans.similarity_queries import (
        N_QUERIES,
        RECALL_DIMS,
        TOP_K,
        matryoshka_recall_curve,
    )

    out = matryoshka_recall_curve(spark, "/root/testdata/sf0.01").collect()
    assert len(out) == len(RECALL_DIMS) * N_QUERIES
    assert {(r.dim, r.query_id) for r in out} == {
        (d, q) for d in RECALL_DIMS for q in range(N_QUERIES)
    }
    means = {}
    for d in RECALL_DIMS:
        rs = [r.recall_at_k for r in out if r.dim == d]
        for r in out:
            if r.dim == d:
                assert 0.0 <= r.recall_at_k <= 1.0
                assert r.recall_at_k == round(r.n_overlap / TOP_K, 6)
        means[d] = sum(rs) / len(rs)
    assert means[8] <= means[16] <= means[32]


def test_silhouette_separates_planted_clusters(spark, tmp_path):
    """Tight planted clusters: every vector's own-centroid cosine must
    beat every foreign centroid -> misassignment 0 and positive
    margins for all labels; a deliberately mislabeled vector flips its
    label's misassignment fraction above 0."""
    import math
    import random as rnd

    from technical_test_data_engineer_spark.plans.similarity_queries import (
        embedding_silhouette,
    )

    r = rnd.Random(7)
    rows = []
    for vid in range(60):
        cluster = vid % 3
        base = [0.0] * 64
        for d in range(cluster * 8, cluster * 8 + 8):
            base[d] = 1.0
        vec = [b + r.uniform(-0.05, 0.05) for b in base]
        norm = math.sqrt(sum(x * x for x in vec))
        label = cluster
        if vid == 59:  # plant one mislabeled vector
            label = (cluster + 1) % 3
        rows.append((vid, [x / norm for x in vec], label))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")

    out = {r_.label: r_ for r_ in
           embedding_silhouette(spark, str(tmp_path)).collect()}
    planted_label = (59 % 3 + 1) % 3
    for label, row in out.items():
        if label == planted_label:
            assert row.frac_misassigned > 0.0
        else:
            assert row.frac_misassigned == 0.0
            assert row.mean_margin > 0.5


def test_mmr_exact3_matches_grouped_map_selection(spark, sf_dir):
    """The unrolled DataFrame MMR (decimal-exact scoring) and the
    grouped-map numpy greedy must pick the same documents in the same
    order on the same shortlist — the twin-consistency link."""
    from pyspark.sql import functions as F

    from technical_test_data_engineer_spark.operators.similarity import (
        brute_force_topk,
        mmr_rerank,
    )
    from technical_test_data_engineer_spark.plans.similarity_queries import (
        N_QUERIES,
        knn_mmr_exact3,
    )
    from technical_test_data_engineer_spark.sources.parquet_source import (
        load_table,
    )

    exact = {
        (r["query_id"], r["pick"]): r["vec_id"]
        for r in knn_mmr_exact3(spark, sf_dir).collect()
    }
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_QUERIES)
    short = brute_force_topk(emb, probes, k=10).select(
        "query_id", "vec_id", "score"
    )
    greedy = {
        (r["query_id"], r["mmr_rank"]): r["vec_id"]
        for r in mmr_rerank(short, emb, k=3, lam=0.7).collect()
    }
    assert exact == greedy, (exact, greedy)
