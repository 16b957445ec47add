"""Physical-plan assertions — lock in the optimization properties the
engine's docs claim, so a refactor that silently loses pushdown, a
broadcast, or scan-dedup fails CI rather than only showing up at scale.

Every query's exact operator and scan counts live in
``tests/PLAN_SHAPES.json`` (see ``tests/test_queries_smoke.py``); the
count tests here read the same shape fields and state the documented
bound a ledger regeneration must not cross.
"""

from __future__ import annotations

import re

from test_queries_smoke import formatted_plan as _explain
from test_queries_smoke import query_shape

from technical_test_data_engineer_spark.plans import QUERIES


def _plan(spark, sf_dir, name: str) -> str:
    return _explain(QUERIES[name](spark, sf_dir))


def _scans(shape: dict) -> int:
    return sum(v for k, v in shape.items() if k.startswith("scans."))


def test_q5_dimension_joins_broadcast(spark, sf_dir):
    # all five joins resolved without a single sort-merge on a dimension
    shape, plan = query_shape(spark, sf_dir, "q5_region_revenue")
    assert shape.get("nodes.BroadcastHashJoin", 0) >= 3, plan


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q3_shipping_priority")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("LessThan" in p or "GreaterThan" in p for p in pushed), pushed
    assert any("EqualTo(c_mktsegment" in p for p in pushed), pushed


def test_column_pruning_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = m.group(1)
    # 7 needed columns, not all 11
    assert "l_orderkey" not in cols and "l_partkey" not in cols, cols


def test_flagship_scans_fact_once(spark, sf_dir):
    shape, plan = query_shape(spark, sf_dir, "flagship_daily_backlog")
    assert _scans(shape) == 2, plan  # lineitem + orders, each exactly once
    assert shape.get("scans.lineitem") == 1, plan


def test_knn_bruteforce_broadcasts_queries_not_corpus(spark, sf_dir):
    shape, plan = query_shape(spark, sf_dir, "knn_bruteforce")
    assert shape.get("nodes.BroadcastNestedLoopJoin") or shape.get(
        "nodes.BroadcastExchange"
    ), plan


def test_knn_topk_local_prune_before_window(spark, sf_dir):
    # the per-query ranking window must consume a per-partition
    # pre-top-k (MapInPandas), never the raw corpus × queries scored
    # rows — the shuffle into n_queries partitions is otherwise the
    # unsurvivable shape at 100× corpus (round-2 verdict)
    for name in ("knn_bruteforce", "knn_ivf_ann", "knn_pq_ann"):
        plan = _plan(spark, sf_dir, name)
        mp = re.search(r"MapInPandas \((\d+)\)", plan)
        wd = re.search(r"Window \((\d+)\)", plan)
        assert mp, f"{name}: no MapInPandas pre-top-k\n{plan}"
        assert wd, f"{name}: no Window\n{plan}"
        # formatted-plan ids grow downstream: the prune precedes the window
        assert int(mp.group(1)) < int(wd.group(1)), f"{name}\n{plan}"


def test_q8_dimension_chain_broadcasts(spark, sf_dir):
    # 7-table join: both dimension chains (customer-side and supplier-
    # side nation lookups) must resolve as broadcasts; only
    # orders ⋈ lineitem may shuffle
    shape, plan = query_shape(spark, sf_dir, "q8_market_share")
    assert shape.get("nodes.BroadcastHashJoin", 0) >= 2, plan


def test_q9_part_filter_pushdown(spark, sf_dir):
    # the LIKE '%red%' prefix filter must reach the part scan as a
    # pushed StringContains, not a post-scan Filter only
    plan = _plan(spark, sf_dir, "q9_product_profit")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("StringContains(p_name,red)" in p for p in pushed), pushed


def test_q21_reuses_base_relation_shape(spark, sf_dir):
    # the double-correlated EXISTS/NOT EXISTS must stay semi+anti joins
    # (no cartesian fallback)
    plan = _plan(spark, sf_dir, "q21_waiting_suppliers")
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_campaign_range_join_broadcasts_dim(spark, sf_dir):
    # range join: tiny campaign dim broadcast-nested-loop against the
    # events fact — the fact side must never shuffle
    shape, plan = query_shape(spark, sf_dir, "events_campaign_attribution")
    assert shape.get("nodes.BroadcastNestedLoopJoin"), plan


def test_repetition_stats_single_explode(spark, sf_dir):
    # r15: fully scan-side — one corpus scan, ZERO explodes and ZERO
    # grouping aggregates (the stats fold per row over the bound bigram
    # array; the r14 form exploded once and shuffled two gram aggs)
    shape, plan = query_shape(spark, sf_dir, "doc_repetition_stats")
    assert shape.get("scans.documents") == 1, plan
    assert not shape.get("nodes.Generate"), plan
    assert "HashAggregate" not in plan, plan


def test_gapfill_by_type_is_fully_partitioned(spark, sf_dir):
    # the multi-series gap fill must never funnel through a single
    # partition (the documented limitation of the single-series form):
    # windows partition by event_type and the spine derives in-plan,
    # reusing the bounds-agg's hash partitioning — no SinglePartition
    # exchange, no second events scan (the hourly agg is persisted)
    shape, plan = query_shape(spark, sf_dir, "events_gapfilled_by_type")
    assert "SinglePartition" not in plan, plan
    assert _scans(shape) == 1, plan


def test_centroids_partial_aggregation(spark, sf_dir):
    # posexplode fans every vector into 64 rows; the partial (map-side)
    # HashAggregate must reduce them to labels x 64 BEFORE the exchange,
    # and the explode must appear exactly once
    plan = _plan(spark, sf_dir, "embedding_label_centroids")
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 1, plan
    # formatted-plan ids grow downstream: partial HashAggregate must sit
    # BETWEEN the Generate and an Exchange, with the final HashAggregate
    # after that Exchange — i.e. some exchange id strictly between two
    # HashAggregate ids
    ha = sorted(int(i) for i in re.findall(r"\((\d+)\) HashAggregate", plan))
    ex = [int(i) for i in re.findall(r"\((\d+)\) Exchange", plan)]
    gen = int(re.search(r"\((\d+)\) Generate", plan).group(1))
    assert len(ha) >= 2, plan
    assert gen < ha[0], plan
    assert any(ha[i] < e < ha[i + 1] for e in ex for i in range(len(ha) - 1)), plan


def test_semantic_dedup_assignment_is_scan_side(spark, sf_dir):
    """SemDeDup's centroid assignment must be expression work on the
    scan (no Python UDF stage, no shuffle before the cluster-key
    self-join) and the log-ratio/pair machinery must not broadcast
    anything corpus-proportional — the broadcast side is absent here
    entirely; the only exchanges are the cluster-key join and the
    final anti join."""
    plan = _plan(spark, sf_dir, "semantic_dedup_keep")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the kept-universe anti join resolves as broadcast of the small
    # DROPS relation (pairs above threshold), never the corpus
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_dsir_scoring_join_broadcasts_model(spark, sf_dir):
    """DSIR's per-feature scoring join must broadcast the ≤n_buckets
    log-ratio table (never shuffle the exploded corpus against it),
    and feature hashing must be JVM expression work."""
    plan = _plan(spark, sf_dir, "dsir_en_selection")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan, plan


def test_repeated_spans_shuffles_hashes_not_text(spark, sf_dir):
    """The repeated-gram count must group on the md5 hash only — the
    gram STRINGS must not survive into the aggregate's shuffle (32-byte
    rows at scale, not text)."""
    plan = _plan(spark, sf_dir, "doc_repeated_spans")
    m = re.findall(r"hashpartitioning\(([^,)]*)", plan)
    assert m, plan
    assert any(g.strip().startswith("_h#") for g in m), m
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cms_never_underestimates(spark, sf_dir):
    """Count-min structural guarantee: every estimate ≥ the exact
    count (hash collisions only ADD)."""
    from technical_test_data_engineer_spark.plans.relational_breadth_queries import (
        events_heavy_hitters_cms,
    )

    rows = events_heavy_hitters_cms(spark, sf_dir).collect()
    assert rows
    assert all(r.est_count >= r.exact_count for r in rows)


def test_cdc_merge_windows_changelog_only(spark, sf_dir):
    """apply_changelog's top-1-per-key window must sit on the changelog
    branch only, and the base snapshot reaches the output through a join
    (anti) + union, never a Window — the property that keeps the 100 TB
    snapshot un-windowed. The changelog window may appear twice because
    both consumers (anti-join keys, upsert rows) re-derive it — still
    changelog-only (exact Window nodes, not WindowGroupLimit)."""
    shape, plan = query_shape(spark, sf_dir, "orders_cdc_merge")
    assert 1 <= shape.get("nodes.Window", 0) <= 2, plan


def test_corpus_mix_rates_join_is_broadcast(spark, sf_dir):
    """The per-group keep-rates reach the corpus via a broadcast join —
    the corpus itself is never shuffled for the mixing filter."""
    shape, plan = query_shape(spark, sf_dir, "corpus_mix_rebalance")
    assert shape.get("nodes.BroadcastHashJoin"), plan


def test_tfidf_neighbors_df_side_broadcast(spark, sf_dir):
    """The kept-terms (df-capped) relation joins the tf postings as a
    broadcast — vocabulary-sized, never a corpus shuffle. Asserts the
    BUILD plan of the relation doc_tfidf_neighbors materializes (the
    query itself scans the session-scoped temp parquet)."""
    from technical_test_data_engineer_spark.operators import text as TX
    from technical_test_data_engineer_spark.plans.text_queries import _docs

    plan = _explain(
        TX.tfidf_cosine_neighbors(
            _docs(spark, sf_dir), k=3, max_df_frac=0.2
        )
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_bpe_pairs_aggregate_is_partial(spark, sf_dir):
    """Vocabulary-first pair counting: both aggregations (word counts,
    pair counts) run map-side partial then final — the shape that
    bounds the shuffle by vocabulary, not the token stream."""
    plan = _plan(spark, sf_dir, "bpe_merge_candidates")
    assert plan.count("partial_count") + plan.count("partial_sum") >= 2, plan


def test_pagerank_inflow_is_single_keyed_shuffle(spark, sf_dir):
    """Each PageRank iteration's rank flow is hash joins + one keyed
    aggregation — no cartesian, no nested-loop except the documented
    1-row dangling-scalar broadcast."""
    _, plan = query_shape(spark, sf_dir, "part_copurchase_pagerank")
    assert "CartesianProduct" not in plan, plan


def test_pareto_phase1_is_grouped_map(spark, sf_dir):
    """Two-phase skyline: both phases are FlatMapGroupsInPandas (the
    vectorized dominance kernel), never a self-join — the all-pairs
    NOT EXISTS shape lives only in the oracle."""
    shape, plan = query_shape(spark, sf_dir, "pareto_parts")
    assert shape.get("nodes.FlatMapGroupsInPandas") == 2, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
