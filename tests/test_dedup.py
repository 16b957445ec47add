"""Dedup operators: planted-duplicate recall (the testable contract for
hash-based approximations, SURVEY.md §7 hard-part #3) + exact metrics."""

from __future__ import annotations

from pyspark.sql import functions as F

from technical_test_data_engineer_spark.operators.dedup import (
    exact_dedup,
    jaccard,
    minhash_candidates,
    simhash_near_dup_pairs,
    word_shingles,
)

BASE = ("the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep dark forest tonight")
NEAR = ("the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep dark woods tonight")          # 1 word changed
OTHER = ("completely different content about spark query engines and "
         "distributed columnar execution at massive scale today")


def _docs(spark):
    return spark.createDataFrame(
        [(1, BASE), (2, NEAR), (3, OTHER), (4, BASE)],
        "doc_id long, text string",
    )


def test_exact_dedup_keeps_lowest_id(spark):
    out = exact_dedup(_docs(spark), ["text"], [F.asc("doc_id")])
    assert sorted(r.doc_id for r in out.collect()) == [1, 2, 3]


def test_shingles_and_jaccard(spark):
    df = spark.createDataFrame([("a b c d",)], "text string")
    sh = df.select(word_shingles(3).alias("s")).collect()[0].s
    assert sorted(sh) == ["a b c", "b c d"]
    df2 = spark.createDataFrame([(["x", "y"], ["y", "z"])], "a array<string>, b array<string>")
    j = df2.select(jaccard(F.col("a"), F.col("b")).alias("j")).collect()[0].j
    assert abs(j - 1 / 3) < 1e-12


def test_minhash_finds_planted_near_dup(spark):
    pairs = minhash_candidates(_docs(spark), threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 4) in got            # exact dup pair always collides
    assert (1, 2) in got            # planted near-dup (1 word of 18)
    assert (1, 3) not in got        # unrelated text never passes verify


def test_minhash_exact_dup_jaccard_is_one(spark):
    pairs = minhash_candidates(_docs(spark), threshold=0.5)
    j = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert j[(1, 4)] == 1.0


def test_minhash_candidates_persist_for_multi_consumer(spark):
    # the shared-pipeline contract: persist=True caches the verified
    # pair set so several consumers (audit + clustering) reuse one
    # shingle/band/verify run; results identical to the recompute path
    from technical_test_data_engineer_spark.operators.dedup import (
        minhash_candidates,
    )

    pairs = minhash_candidates(_docs(spark), threshold=0.5, persist=True)
    try:
        assert pairs.storageLevel.useMemory or pairs.storageLevel.useDisk
        got = {(r.id_a, r.id_b) for r in pairs.collect()}  # consumer 1
        assert pairs.count() == len(got)                   # consumer 2
        fresh = {(r.id_a, r.id_b)
                 for r in minhash_candidates(_docs(spark), threshold=0.5).collect()}
        assert got == fresh
    finally:
        pairs.unpersist()


def test_simhash_planted_near_dup(spark):
    # planted pair measures Hamming 7; 8 bands guarantee candidates ≤ 7
    pairs = simhash_near_dup_pairs(_docs(spark))
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert got.get((1, 4)) == 0     # identical text → identical simhash
    assert got.get((1, 2)) == 7     # near-dup within hamming budget
    assert (1, 3) not in got


def test_minhash_incremental_only_new_involving_pairs(spark):
    # planted corpus: (1,2) near-dups both OLD; (1,4) exact dups both
    # OLD; (7) NEW near-dup of 1 — incremental must report ONLY pairs
    # touching the new batch, and must agree with the all-pairs
    # pipeline on those pairs
    from technical_test_data_engineer_spark.operators.dedup import (
        minhash_candidates,
        minhash_incremental_pairs,
    )

    docs = _docs(spark)
    base_text = docs.filter("doc_id = 1").collect()[0].text
    new_rows = [(7, base_text + " extra")]
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    corpus = docs.unionByName(new)

    inc = {
        (r.id_a, r.id_b)
        for r in minhash_incremental_pairs(corpus, new, threshold=0.5).collect()
    }
    assert all(7 in p for p in inc), inc          # every pair touches new
    assert (1, 7) in inc                          # new near-dup found
    assert (1, 2) not in inc and (1, 4) not in inc  # old-vs-old excluded

    full = {
        (r.id_a, r.id_b)
        for r in minhash_candidates(corpus, threshold=0.5).collect()
    }
    assert inc == {p for p in full if 7 in p}     # agrees with all-pairs


def _hot_corpus(spark):
    # 100 IDENTICAL docs (the boilerplate/license-block degenerate case:
    # every band bucket holds all 100 → 100² candidate rows per band
    # without a guard) + a planted near-dup pair of UNRELATED text whose
    # buckets stay cold.
    rows = [(i, BASE) for i in range(100)]
    rows += [(2000, OTHER), (2001, OTHER.replace("today", "tomorrow"))]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_hot_bucket_cap_guards_degenerate_buckets(spark):
    from technical_test_data_engineer_spark.operators.dedup import (
        minhash_candidates,
    )

    pairs = minhash_candidates(_hot_corpus(spark), threshold=0.5,
                               hot_bucket_cap=50)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    # capped buckets emit NO pairs — the m² blowup never reaches the join
    assert not any(a < 100 and b < 100 for a, b in got), got
    # cold buckets are untouched: the planted near-dup is still found
    assert (2000, 2001) in got


def test_minhash_hot_bucket_cap_none_keeps_identical_pairs(spark):
    # cap=None restores the uncapped round-3 semantics (proving the cap
    # is what suppressed the hot pairs, not a hashing accident)
    from technical_test_data_engineer_spark.operators.dedup import (
        minhash_candidates,
    )

    pairs = minhash_candidates(_hot_corpus(spark), threshold=0.5,
                               hot_bucket_cap=None)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1) in got and (2000, 2001) in got


def test_simhash_hot_bucket_cap(spark):
    # identical docs → identical simhash → every band bucket holds all
    # 100; the cap suppresses them while the unrelated planted pair
    # (distinct band values) still verifies
    pairs = simhash_near_dup_pairs(_hot_corpus(spark), hot_bucket_cap=50)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert not any(a < 100 and b < 100 for a, b in got), got
    assert (2000, 2001) in got


def test_band_table_incremental_join_skips_corpus_shuffle(spark):
    # the stored-band-table ingest path: corpus bands live in a table
    # bucketed on the band join keys, so the per-ingest candidate join
    # shuffles ONLY the new batch — the corpus side reads in place.
    from technical_test_data_engineer_spark.operators.dedup import (
        incremental_candidates_vs_band_table,
        materialize_band_table,
        minhash_candidates,
    )

    old = _docs(spark)                      # docs 1-4 (1,2 near-dups)
    base_text = old.filter("doc_id = 1").collect()[0].text
    new = spark.createDataFrame(
        [(7, base_text + " extra")], "doc_id long, text string"
    )
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("band_corpus_t", "band_corpus_plain"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    materialize_band_table(old, "band_corpus_t", n_buckets=4)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cands = incremental_candidates_vs_band_table(
            spark, "band_corpus_t", new, hot_bucket_cap=None
        )
        got = {(r.id_a, r.id_b) for r in cands.collect()}
        # the new near-dup of doc 1 must band-collide; old-vs-old pairs
        # can never appear (the join requires a new-batch side)
        assert (1, 7) in got, got
        assert all(7 in p for p in got), got
        # executedPlan prints Final AND Initial sections — count only
        # the final one
        plan = (
            cands._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]
        )
        # exactly two exchanges: the new batch shuffling to the bucket
        # layout, and the pair dropDuplicates — NONE above the corpus
        # band-table scan (bucketing pre-paid it)
        assert plan.count("Exchange hashpartitioning") == 2, plan
        assert "FileScan parquet" in plan and "Bucketed: true" in plan, plan

        # control: same join against an UNBUCKETED copy needs a third
        # exchange to co-locate the corpus bands
        from technical_test_data_engineer_spark.operators.dedup import (
            band_table,
        )

        spark.sql("DROP TABLE IF EXISTS band_corpus_plain")
        band_table(old).write.mode("overwrite").saveAsTable(
            "band_corpus_plain"
        )
        plain = incremental_candidates_vs_band_table(
            spark, "band_corpus_plain", new, hot_bucket_cap=None
        )
        pplan = (
            plain._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]
        )
        assert pplan.count("Exchange hashpartitioning") == 3, pplan
        assert {(r.id_a, r.id_b) for r in plain.collect()} == got

        # the stored-table path generates exactly the candidates the
        # recompute path verifies from (planted pair set agrees)
        verified = {
            (r.id_a, r.id_b)
            for r in minhash_candidates(
                old.unionByName(new), threshold=0.5
            ).collect()
            if 7 in (r.id_a, r.id_b)
        }
        assert verified <= got
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS band_corpus_t")
        spark.sql("DROP TABLE IF EXISTS band_corpus_plain")


def test_semantic_dedup_keeps_lowest_centroid_sim(spark):
    """Planted 2-cluster fixture: near-dup pair inside cluster 0 must
    drop its higher-centroid-sim member; the cross-cluster near-equal
    pair must survive (pairing is cluster-scoped); singletons and
    capped-cell rows always stay in the kept set."""
    from technical_test_data_engineer_spark.operators.dedup import semantic_dedup

    centroids = [[1.0, 0.0], [0.0, 1.0]]
    rows = [
        (1, [1.0, 0.0]),       # cluster 0, sim 1.0   (prototype → dropped)
        (2, [0.9, 0.05]),      # cluster 0, sim 0.9   (near-dup of 1, kept)
        (3, [0.1, 0.99]),      # cluster 1; dot(3,4) < threshold
        (4, [-1.0, 0.0]),      # cluster 1 (sims -1.0 / 0.0); no pair
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = semantic_dedup(df, centroids, threshold=0.8).orderBy("vec_id")
    got = {(r.vec_id, r.cluster) for r in kept.collect()}
    # pair (1,2): dot = 0.9 + 0.0... >= 0.8 → drop vec 1 (csim 1.0 > 0.9)
    assert (1, 0) not in got
    assert (2, 0) in got
    # vecs 3/4 are singletons in their cluster scope → kept
    assert any(v == 3 for v, _ in got)
    assert any(v == 4 for v, _ in got)


def test_semantic_dedup_hot_cluster_cap_keeps_universe(spark):
    """A degenerate cell over the cap is excluded from PAIRING (no m²
    join) but its rows must still be emitted as kept — the cap guards
    the self-join, never the survivor universe."""
    from technical_test_data_engineer_spark.operators.dedup import semantic_dedup

    centroids = [[1.0, 0.0]]
    rows = [(i, [1.0, 0.0]) for i in range(50)]  # 50 identical vectors
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    capped = semantic_dedup(df, centroids, threshold=0.8, hot_cluster_cap=10)
    assert capped.count() == 50  # nothing pruned: cell skipped pairing
    uncapped = semantic_dedup(df, centroids, threshold=0.8, hot_cluster_cap=None)
    assert uncapped.count() == 1  # full pairing collapses the clones


def test_loop_twin_fixture_cap_inactive(spark):
    """The pin ingest_loop_exactly_once's docstring promises: at the
    driver gate fixture (sf0.01 documents, doc_id < _LOOP_TWIN_BOUND)
    the DEFAULT_HOT_BUCKET_CAP is INACTIVE — no (band, bucket)
    population reaches the cap, so the twin's exact-recall oracle can
    never be redded by cap drops. Doubly safe: the fixture has fewer
    docs than the cap, so no bucket CAN saturate; the empirical max is
    asserted anyway so a cap or banding change trips here first, not
    at the driver."""
    from technical_test_data_engineer_spark.operators.dedup import (
        DEFAULT_HOT_BUCKET_CAP,
        band_table,
    )
    from technical_test_data_engineer_spark.plans.dedup_queries import (
        _LOOP_TWIN_BOUND,
    )

    assert _LOOP_TWIN_BOUND <= DEFAULT_HOT_BUCKET_CAP  # counting argument

    docs = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .filter(F.col("doc_id") < _LOOP_TWIN_BOUND)
    )
    max_bucket = (
        band_table(docs)
        .groupBy("_band", "_bh")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert max_bucket < DEFAULT_HOT_BUCKET_CAP, max_bucket


def _keyed(spark):
    # buckets (k1, k2): (1, 1) holds 10, 11, 12; (2, 1) holds 10 and 11
    # again; 13 shares only k1 with them; 14 and 15 have a NULL k1
    return spark.createDataFrame(
        [(10, 1, 1, "p10"), (11, 1, 1, "p11"), (12, 1, 1, "p12"),
         (10, 2, 1, "p10"), (11, 2, 1, "p11"), (13, 1, 2, "p13"),
         (14, None, 1, "p14"), (15, None, 1, "p15")],
        "id long, k1 int, k2 int, p string",
    )


def test_bucket_self_join_pairs_once_per_shared_bucket(spark):
    from technical_test_data_engineer_spark.operators.dedup import (
        _bucket_self_join,
    )

    out = _bucket_self_join(_keyed(spark), "id", ["k1", "k2"], ["p"])
    assert set(out.columns) == {"k1", "k2", "id_a", "p_a", "id_b", "p_b"}
    got = sorted((r.id_a, r.id_b, r.p_a, r.p_b) for r in out.collect())
    # (10, 11) shares two buckets, so it comes twice; no (i, i) pair
    assert got == [
        (10, 11, "p10", "p11"), (10, 11, "p10", "p11"),
        (10, 12, "p10", "p12"), (11, 12, "p11", "p12"),
    ]


def test_bucket_probe_join_pairs_only_probe_rows(spark):
    from technical_test_data_engineer_spark.operators.dedup import (
        _bucket_probe_join,
    )

    corpus = _keyed(spark)
    out = _bucket_probe_join(corpus.filter("id = 12"), corpus, "id", ["k1", "k2"])
    assert out.columns == ["id_a", "id_b"]
    # the probe id lands on either side: least/greatest, never (12, 12)
    assert sorted(tuple(r) for r in out.collect()) == [(10, 12), (11, 12)]
    # two probe ids in one bucket meet from both sides; dedup is the caller's
    two = corpus.filter("id IN (10, 11)")
    both = _bucket_probe_join(two, corpus, "id", ["k1", "k2"])
    assert sorted(tuple(r) for r in both.collect()) == (
        [(10, 11)] * 4 + [(10, 12), (11, 12)]
    )


def test_null_bucket_key_never_pairs(spark):
    from technical_test_data_engineer_spark.operators.dedup import (
        _attach_both,
        _bucket_probe_join,
        _bucket_self_join,
    )

    nulls = _keyed(spark).filter("k1 IS NULL")
    assert _bucket_self_join(nulls, "id", ["k1", "k2"]).count() == 0
    assert _bucket_probe_join(nulls, nulls, "id", ["k1", "k2"]).count() == 0
    # attach: per-id columns arrive suffixed on both sides, an id
    # missing from the per-id frame drops its pair
    pairs = spark.createDataFrame([(14, 15), (14, 99)], "id_a long, id_b long")
    got = _attach_both(pairs, nulls, "id", ["p"]).select("id_a", "id_b", "p_a", "p_b")
    assert [tuple(r) for r in got.collect()] == [(14, 15, "p14", "p15")]


def test_srp_lsh_hot_bucket_cap(spark, monkeypatch):
    # 100 identical unit vectors share their SRP bucket in every table —
    # 100² join rows on one task without a guard. Past the cap (50 here)
    # the bucket never pairs, while the planted pair, exactly opposite
    # the hot vector and so never in its bucket, still verifies.
    from technical_test_data_engineer_spark.operators import dedup
    from technical_test_data_engineer_spark.operators.similarity import (
        seeded_planes,
    )

    monkeypatch.setattr(dedup, "DEFAULT_HOT_BUCKET_CAP", 50)
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(100)]
    rows += [(1000, [-1.0, 0.0, 0.0, 0.0]), (1001, [-1.0, 0.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = dedup.embedding_near_dup_pairs(
        df, threshold=0.9, planes_tables=seeded_planes(4, 3, 4)
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert not any(a < 100 and b < 100 for a, b in got), len(got)
    assert (1000, 1001) in got
