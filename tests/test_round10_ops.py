"""Round-10 operator tests: independent references and invariants for
the integer-scaled score migration (metric="int" across the ANN stack,
the all-integer MMR unroll) and the two rows-only → oracle-paired
conversions (k-core fixpoint vs unrolled-peel oracle depth, the
contamination audit vs a pure-Python Jaccard/md5 ground truth).
"""

from __future__ import annotations

import hashlib


def _py_shingles(text: str, n: int = 3) -> set[str]:
    toks = text.split(" ")
    if len(toks) <= n - 1:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _py_split(text: str) -> str:
    bucket = int(hashlib.md5(text.encode()).hexdigest()[:8], 16) % 100
    return "train" if bucket < 90 else "val"


def test_kcore_fixpoint_within_oracle_rounds(spark):
    """part_copurchase_kcore's oracle unrolls the peel a FIXED number
    of rounds; the pairing is exact only while the true fixpoint is
    reached within that depth. Pin it on BOTH gate fixtures so corpus
    drift surfaces here before it can redden the driver gate."""
    from technical_test_data_engineer_spark.operators.graph import (
        k_core,
        k_core_peel_rounds,
    )
    from technical_test_data_engineer_spark.plans.relational_breadth_queries import (
        _KCORE_ORACLE_ROUNDS,
        _copurchase_edges,
    )

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        edges = _copurchase_edges(spark, sf)
        fix = {tuple(r) for r in k_core(edges, k=2).collect()}
        unrolled = {
            tuple(r)
            for r in k_core_peel_rounds(
                edges, k=2, rounds=_KCORE_ORACLE_ROUNDS
            ).collect()
        }
        assert fix == unrolled, f"fixpoint deeper than oracle at {sf}"


def test_contamination_audit_matches_pure_python(spark, sf_dir):
    """split_contamination_audit re-derived with hashlib + set algebra:
    every leaking pair (exact Jaccard >= 0.5, md5 split sides differ)
    and nothing else — certifies the xxhash MinHash+LSH pipeline's
    recall/precision independently of the DuckDB oracle."""
    from technical_test_data_engineer_spark.plans.dedup_queries import (
        split_contamination_audit,
    )
    from technical_test_data_engineer_spark.sources.parquet_source import (
        load_table,
    )

    docs = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    sh = {d: _py_shingles(t) for d, t in docs.items()}
    split = {d: _py_split(t) for d, t in docs.items()}
    ids = sorted(docs)
    expected = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sh[a] & sh[b])
            if inter == 0:
                continue
            j = inter / (len(sh[a]) + len(sh[b]) - inter)
            if j >= 0.5 and split[a] != split[b]:
                expected[(a, b)] = (split[a], split[b], j)
    got = {
        (r.id_a, r.id_b): (r.split_a, r.split_b, r.jaccard)
        for r in split_contamination_audit(spark, sf_dir).collect()
    }
    assert got == expected
    assert expected, "vacuous fixture: no leaking pairs"


def test_int_metric_ranking_matches_decimal(spark, sf_dir):
    """brute_force_topk metric='int' must produce the same neighbor
    ranking as the decimal-exact metric wherever no two scores are
    within the 1e-10 scaling quantum (true for this fixture)."""
    from pyspark.sql import functions as F

    from technical_test_data_engineer_spark.operators.similarity import (
        brute_force_topk,
    )
    from technical_test_data_engineer_spark.sources.parquet_source import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 3)
    dec = brute_force_topk(emb, probes, k=5, metric="dot").collect()
    intr = brute_force_topk(emb, probes, k=5, metric="int").collect()
    dec_rank = {(r.query_id, r.rank): r.vec_id for r in dec}
    int_rank = {(r.query_id, r.rank): r.vec_id for r in intr}
    assert dec_rank == int_rank
    # and the int score is the rounded-scaled image of the decimal one
    dec_score = {(r.query_id, r.vec_id): r.score for r in dec}
    for r in intr:
        assert abs(r.score - dec_score[(r.query_id, r.vec_id)] * 1e10) <= 64


def test_mmr_e11_matches_pure_python(spark, sf_dir):
    """knn_mmr_exact3 re-derived in pure Python from the collected
    embeddings: integer-scaled dots (round half-away like Spark's
    F.round on doubles), 3 greedy picks, mmr_e11 = 7*rel - 3*maxsim."""
    from technical_test_data_engineer_spark.plans.similarity_queries import (
        N_QUERIES,
        _MMR_SHORT,
        knn_mmr_exact3,
    )
    from technical_test_data_engineer_spark.sources.parquet_source import (
        load_table,
    )

    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }

    def idot(a, b):
        # mirror F.round(x, 0).cast(bigint): HALF_UP on the magnitude
        tot = 0
        for x, y in zip(a, b):
            p = x * y * 1e10
            tot += int(p + 0.5) if p >= 0 else -int(-p + 0.5)
        return tot

    expected = {}
    for q in range(N_QUERIES):
        rels = sorted(
            ((idot(vecs[q], v), -i) for i, v in vecs.items() if i != q),
            reverse=True,
        )[:_MMR_SHORT]
        short = {-ni: rel for rel, ni in rels}
        picked = []
        for pick in (1, 2, 3):
            best = None
            for i, rel in short.items():
                if i in picked:
                    continue
                if picked:
                    msim = max(idot(vecs[i], vecs[s]) for s in picked)
                    mmr = 7 * rel - 3 * msim
                else:
                    mmr = 7 * rel
                key = (mmr, -i)
                if best is None or key > best[0]:
                    best = (key, i, mmr)
            picked.append(best[1])
            expected[(q, pick)] = (best[1], best[2])
    got = {
        (r.query_id, r.pick): (r.vec_id, r.mmr_e11)
        for r in knn_mmr_exact3(spark, sf_dir).collect()
    }
    assert got == expected


def test_curation_pipeline_matches_pure_python(spark, sf_dir):
    """curation_pipeline_e2e re-derived with hashlib + set algebra +
    union-find: the per-source funnel (raw -> kept -> train) and train
    token mass must match EXACTLY (integer counts certify every stage
    boundary — dedup before split, split keyed on cluster, mixture fit
    on post-split docs); the DoReMi floats match to 1e-6 (the oracle
    pairing owns cross-engine bit-exactness)."""
    import math
    from decimal import Decimal

    from technical_test_data_engineer_spark.plans.dedup_queries import (
        curation_pipeline_e2e,
    )
    from technical_test_data_engineer_spark.sources.parquet_source import (
        load_table,
    )

    rows = (
        load_table(spark, sf_dir, "documents")
        .filter("doc_id < 450")
        .collect()
    )
    text = {r.doc_id: r.text for r in rows}
    source = {r.doc_id: r.source for r in rows}
    sh = {d: _py_shingles(t) for d, t in text.items()}
    ids = sorted(text)

    parent = {d: d for d in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sh[a] & sh[b])
            if inter and inter / (len(sh[a]) + len(sh[b]) - inter) >= 0.5:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    comp = {d: find(d) for d in ids}

    ntok = {d: len(t.split(" ")) for d, t in text.items()}
    kept = set()
    by_comp: dict[int, list[int]] = {}
    for d in ids:
        by_comp.setdefault(comp[d], []).append(d)
    for members in by_comp.values():
        kept.add(min(members, key=lambda d: (-ntok[d], d)))
    train = {
        d
        for d in kept
        if int(hashlib.md5(str(comp[d]).encode()).hexdigest()[:8], 16) % 100
        < 90
    }

    counts: dict[str, int] = {}
    n_total = 0
    for d in train:
        for t in text[d].split(" "):
            counts[t] = counts.get(t, 0) + 1
            n_total += 1
    s_dec: dict[str, Decimal] = {}
    tok_src: dict[str, int] = {}
    for d in train:
        s = source[d]
        for t in text[d].split(" "):
            s_dec[s] = s_dec.get(s, Decimal(0)) + round(
                Decimal(repr(-math.log(counts[t] / n_total))), 9
            )
            tok_src[s] = tok_src.get(s, 0) + 1
    ce = {s: float(s_dec[s]) / tok_src[s] for s in s_dec}
    ce_corpus = float(sum(s_dec.values())) / n_total
    wr = {
        s: round(Decimal(repr(math.exp(4.0 * (ce[s] - ce_corpus)))), 9)
        for s in ce
    }
    wr_sum = float(sum(wr.values()))

    got = {r.source: r for r in curation_pipeline_e2e(spark, sf_dir).collect()}
    assert set(got) == set(tok_src)
    for s, r in got.items():
        assert r.n_docs == sum(1 for d in ids if source[d] == s)
        assert r.kept_docs == sum(1 for d in kept if source[d] == s)
        assert r.train_docs == sum(1 for d in train if source[d] == s)
        assert r.train_tokens == tok_src[s]
        assert abs(r.ce_source - ce[s]) < 1e-6
        assert abs(r.excess_loss - (ce[s] - ce_corpus)) < 1e-6
        assert abs(r.doremi_weight - float(wr[s]) / wr_sum) < 1e-6
    assert len(kept) < len(ids), "vacuous fixture: nothing deduped"
    assert len(train) < len(kept), "vacuous fixture: nothing held out"


def test_source_mixture_drift_matches_pure_python(spark, sf_dir):
    """source_mixture_drift re-derived with dict arithmetic: exact
    batch/source token counts, shares and drift to 1e-6."""
    from technical_test_data_engineer_spark.plans.streaming_queries import (
        source_mixture_drift,
    )
    from technical_test_data_engineer_spark.sources.parquet_source import (
        load_table,
    )

    rows = load_table(spark, sf_dir, "documents").collect()
    cell: dict[tuple[int, str], list[int]] = {}
    for r in rows:
        key = (r.doc_id // 200, r.source)
        n = len(r.text.split(" "))
        c = cell.setdefault(key, [0, 0])
        c[0] += 1
        c[1] += n
    batch_tot: dict[int, int] = {}
    src_tot: dict[str, int] = {}
    for (b, s), (_, nt) in cell.items():
        batch_tot[b] = batch_tot.get(b, 0) + nt
        src_tot[s] = src_tot.get(s, 0) + nt
    total = sum(src_tot.values())

    got = list(source_mixture_drift(spark, sf_dir).collect())
    assert len(got) == len(cell)
    for r in got:
        nd, nt = cell[(r.batch_id, r.source)]
        assert (r.n_docs, r.n_tokens) == (nd, nt)
        bs = nt / batch_tot[r.batch_id]
        cs = src_tot[r.source] / total
        assert abs(r.batch_share - bs) < 1e-6
        assert abs(r.corpus_share - cs) < 1e-6
        assert abs(r.drift - (bs - cs)) < 1e-6
    assert len(batch_tot) > 1, "vacuous fixture: single batch"


def _scan_counts(spark, sf_dir, name: str):
    """Per-table parquet scan counts from the formatted plan — the
    audit_scans.py metric (see tests/test_round9_ops.py)."""
    import re
    from collections import Counter

    from technical_test_data_engineer_spark.plans import QUERIES

    df = QUERIES[name](spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    pat = re.compile(
        r"InMemoryFileIndex\s*(?:\(\d+ paths\))?\s*\[[^\]]*?/(\w+)\.parquet"
    )
    return Counter(pat.findall(plan)), plan


def test_curation_pipeline_scan_budget(spark, sf_dir):
    """The composed pipeline's contract: documents scans stay at the
    five documented roles (band build, CC nodes, token/keeper frame,
    funnel re-scan, train text re-attach — audit_scans.py r10 review),
    every one a doc_id<450-pruned read. A sixth scan means a stage
    started re-deriving an upstream frame instead of consuming the
    persisted pair/train relations."""
    counts, plan = _scan_counts(spark, sf_dir, "curation_pipeline_e2e")
    assert counts["documents"] <= 5, (counts, plan)
    assert "CartesianProduct" not in plan, plan


def test_source_mixture_drift_single_scan(spark, sf_dir):
    """The mixture monitor is ONE corpus pass by contract (the rollup
    kernel); shares/drift are windows over the bounded rollup. A second
    documents scan means a share started re-reading the corpus."""
    counts, plan = _scan_counts(spark, sf_dir, "source_mixture_drift")
    assert counts["documents"] == 1, (counts, plan)


def test_repeated_median_single_pair_pass(spark, sf_dir):
    """daily_revenue_repeated_median's pair work runs ONCE. Since r15 the
    calendar-bounded d² slope matrix and both median levels run
    driver-side in numpy off one Arrow fetch of the persisted daily
    aggregate, so the plan Spark executes holds no percentile aggregate
    and no pair join at all: only the daily agg and the OLS moment agg
    (at most 6 Exchange in the formatted plan; the r10 Spark-side form
    carried the 5.7M-pair NLJ and 26 Exchange)."""
    from technical_test_data_engineer_spark.plans import QUERIES

    # cold-cache the plan: a still-materialized persist from an earlier
    # test swaps in InMemoryRelations whose definitions echo extra
    # operators (suite-order dependent otherwise)
    spark.catalog.clearCache()
    df = QUERIES["daily_revenue_repeated_median"](spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "partial_percentile" not in plan, plan
    assert "NestedLoopJoin" not in plan, plan
    assert plan.count("Exchange") <= 6, plan
