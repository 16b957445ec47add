"""Smoke plus plan-shape ledger: every registered query is built ONCE at
sf0.001, and that one build serves five checks — it runs (``count()``),
its top-level columns are atomic, its joins are hash/sort-merge unless
allowlisted, each Python-worker stage runs once per action, and its
physical-plan shape matches ``PLAN_SHAPES.json``.

The shape of a query is read off its formatted plan: parquet scans per
table, ``SinglePartition`` exchanges, and the count of each operator in
``NODES``. A plan change shows up as one line per changed field, e.g.
``q2_min_cost_supplier: scans.lineitem 1 → 2``.

Regenerate the ledger after an intended plan change (and review its
diff in the same commit):

    python tests/test_queries_smoke.py
"""

from __future__ import annotations

import json
import re
import sys
from collections import Counter
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import harness  # noqa: E402
from technical_test_data_engineer_spark.plans.star_queries import (  # noqa: E402
    ORACLE,
    QUERIES,
)

LEDGER = Path(__file__).with_name("PLAN_SHAPES.json")

NODES = (
    "Exchange",
    "BroadcastExchange",
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "Window",
    "Generate",
    "HashAggregate",
    "ObjectHashAggregate",
    "InMemoryTableScan",
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
)

_SCAN = re.compile(r"InMemoryFileIndex\s*(?:\(\d+ paths\))?\s*\[[^\]]*?/(\w+)\.parquet")
_NODE = re.compile(r"^\(\d+\) (\w+)", re.M)
_SINGLE = re.compile(r"^Arguments: SinglePartition,", re.M)

# Queries where a BroadcastNestedLoopJoin / CartesianProduct is the
# DOCUMENTED intent: bounded all-pairs ground truths, broadcast scalar
# attach, non-equi broadcast joins against tiny dimensions, and
# substring containment against a broadcast snippet set. Everything
# else must plan hash/sort-merge joins only — a refactor that drops an
# equi-key falls back to a nested loop silently, fine at sf0.001 and
# catastrophic at 100 TB.
_NONEQUI_ALLOWLIST = {
    "ngram_jaccard_pairs",        # bounded all-pairs ground truth
    "embedding_near_dup_exact",   # bounded exact twin
    "neardup_keeper_docs",        # bounded keeper ground truth
    "dedup_clusters_exact",       # bounded pair join for CC proof
    "knn_bruteforce",             # corpus x broadcast-queries scan
    "knn_mmr_rerank",             # shortlist from the same broadcast-
                                  # queries brute-force scan (MMR stage
                                  # itself joins hash-equi on vec_id)
    "knn_ivf_exact_probeall",
    "knn_pq_exact_rerankall",
    "knn_ivfpq_exact",
    "knn_matryoshka_trunc",
    "matryoshka_recall_curve",    # 4 broadcast-queries brute-force
                                  # passes + 3x5 dim/query eval grid
                                  # (overlap join is hash-equi)
    "source_loo_impact",          # 1-row global-moments broadcast
                                  # attach (corpus_drift_psi pattern)
    "source_token_js_divergence", # vocabulary-sized JS grid: tiny
                                  # per-source/global totals broadcast
                                  # onto the corpus term table
    "doc_neyman_sample",          # 1-row allocation-total broadcast
                                  # attach
    "ab_test_cuped",              # 1-row pooled-theta broadcast attach
    "customer_segment_target_encoding",  # 1-row global-mean broadcast
                                  # attach (smoothing prior)
    "customer_acctbal_woe_iv",    # 1-row class-totals broadcast attach
    "order_value_conformal",      # 1-row fitted-scalars (a, b, q90)
                                  # bounded-collect literal attaches
                                  # (r14; was broadcast crossJoins)
    "shard_balance_chisq",        # 1-row grand-total broadcast attach
    "source_distinctive_terms",   # 1-row corpus-total broadcast attach
    "embedding_isotropy_stats",   # 1-row count broadcast attach
    "knn_mmr_exact3",             # corpus x broadcast-queries scan
                                  # (knn family; pick stages hash-equi)
    "knn_anchor_routing_recall",  # corpus x broadcast-queries exact
                                  # reference scan (knn family); cell
                                  # assignment is scan-side literals,
                                  # hits joins hash-equi on vec_id/cell
    "embedding_coreset_facility3",  # bounded all-pairs sim frame
                                  # (CORESET_BOUND proof corpus) + the
                                  # 1-row picked-id broadcast attaches;
                                  # step reductions join hash-equi on j
    "basket_rules_lift",          # 1-row basket-count broadcast attach
                                  # (r12 single-action fusion; rule
                                  # joins stay broadcast hash-equi)
    "daily_revenue_runs_test",    # 1-row median broadcast attach
    "daily_revenue_cusum",        # 1-row moments broadcast attach
    "part_record_linkage_scores", # three 1-row u-scalar broadcast
                                  # attaches (pair join is hash-equi
                                  # on the blocking key)
    "source_temperature_mixing",  # 1-row normalizer broadcast attach
    "elasticity_kfold_cv",        # 1-row total-moments broadcast
                                  # attach onto the 5-row fold frame
    "join_key_health",            # two 1-row orphan-count broadcast
                                  # attaches (the anti joins are
                                  # hash-equi on the key)
    "customer_rfm_kmeans2",       # k-row centroid-table broadcast per
                                  # Lloyd round + 1-row max-date/moment
                                  # attaches
    "monthly_latency_control_chart",  # 1-row control-limits broadcast
                                  # attach
    "supplier_pareto_abc",        # 1-row revenue-total broadcast attach
    "orders_littles_law",         # 1-row orphan/limit scalar attaches
    "yearly_price_index_laspeyres",  # 1-row base-year broadcast attach
    "customer_bg_nbd_stats",      # 1-row horizon-date broadcast attach
    "hourly_traffic_profile",     # 1-row traffic-total broadcast attach
    "user_conversion_survival",   # 1-row cohort-size broadcast attach
    "orders_benford_audit",       # 1-row total-count broadcast attach
    "embedding_silhouette",       # labels-sized centroid table
                                  # broadcast onto one corpus scan
    "hybrid_rrf_retrieval",       # dense side = broadcast-queries scan
    "knn_lsh_exact",
    "embedding_near_dups_lsh_exact",
    "semantic_dedup_keep",
    "hard_negative_mining",       # corpus x broadcast-anchors scan
    "knn_maxsim_late_interaction",  # corpus x broadcast-queries scan
    "lineitem_bloom_prune_revenue",  # 1-row bloom-bitmap broadcast
                                  # attach (the semi join itself is
                                  # hash-equi on l_orderkey)
    "part_name_fuzzy_pairs",      # blocked non-equi length band
    "daily_active_users",         # non-equi broadcast day grid
    "eval_substring_contamination",  # contains() vs broadcast snippets
    "events_campaign_attribution",   # point-in-interval vs tiny dims
    "orders_active_on_day",
    "corpus_drift_psi",           # 1-row totals broadcast attach
    "corpus_stats_card",
    "corpus_mix_rebalance",       # 1-row budget broadcast attach
    "event_value_ks_drift",       # 1-row sample-size broadcast attach
    "time_to_first_purchase",
    "part_copurchase_pagerank",   # 1-row dangling-mass attach
    "q19_disjunctive_predicates", # OR-of-ANDs join condition
    "q11_important_parts",        # TPC-H scalar-subquery threshold
    "q22_idle_rich_customers",    # TPC-H scalar-subquery average
    "orders_concurrency_sweepline",  # 1-row peak-scalar broadcast
                                  # attach onto the day-step frame
    "retrieval_ndcg_mrr",         # corpus x broadcast-queries scan
                                  # (knn family; metric joins hash-equi)
    "daily_revenue_repeated_median",  # calendar-bounded day-frame pair
                                  # join + 1-row slope/intercept attaches
    "user_score_reliability",     # 1-row median + base-rate broadcast
                                  # attaches onto the user frame
    "copurchase_sppmi",           # 1-row co-occurrence-total broadcast
                                  # attach (PMI normalizer)
    "nation_t_closeness",         # bounded quasi-id x sensitive dense
                                  # grid (segments broadcast + 1-row
                                  # corpus total attach)
    "customer_decayed_value",     # 1-row horizon (max order date)
                                  # broadcast attach, the cohort-LTV
                                  # convention
    "ab_test_permutation",        # 1-row observed-diff broadcast attach
    "orders_zonemap_report",      # 1-row max-key broadcast attach
                                  # (relative probe band)
    "daily_revenue_changepoint",  # 1-row series-total broadcast attach
                                  # (split-gain normalizer)
    "user_hll_md5_estimate",      # 1-row estimate + 1-row exact-count
                                  # broadcast attaches onto the 256-max
                                  # register frame
    "event_type_overlap_kmv",     # |event_types|^2 pair enumeration on
                                  # the k-row theta frame (sketch algebra
                                  # moves only k x types rows)
    "customer_theil_index",       # 1-row (n, total) broadcast attach
                                  # (log-term normalizer)
    "vocab_coverage_curve",       # 3-row literal k-ladder broadcast
                                  # cross onto the vocab-sized frame
    "customer_mahalanobis_outliers",  # 1-row covariance broadcast attach
    "doc_length_lognormal_fit",   # 1-row (mu, sigma) broadcast attach
    "daily_revenue_hurst",        # 4-row literal block-size ladder
                                  # broadcast cross onto the day spine
    "term_burstiness",            # 1-row doc-count broadcast attach
    "copurchase_assortativity",   # 1-row node-count broadcast attach
    "embedding_jl_distortion",    # 64x16 literal sign-matrix cross
                                  # build (broadcast, dims-bounded)
    "yearly_price_index_fisher",  # 1-row base-year broadcast attach
                                  # (the Laspeyres convention)
    "daily_revenue_kendall_tau",  # day-spine O(d^2) pair self-join
                                  # (bounded documented proof; never
                                  # fact-width)
    "priority_value_gamma",       # lexicographic cell-pair enumeration
                                  # on the bounded contingency grid
    "daily_revenue_wavelet_energy",  # 4-row literal scale ladder
                                  # broadcast cross onto the day spine
    "order_value_hill_tail",      # 1-row (k+1)-th order statistic
                                  # broadcast attach
    "supplier_acctbal_kruskal",   # 1-row tie-correction broadcast
                                  # attach
    "nation_theil_decomposition", # 1-row (n, total) broadcast attach
    "customer_partition_ari",     # 1-row combinatorics broadcast
                                  # attaches (row/col pair counts)
}


def plan_shape(plan: str) -> dict[str, int]:
    """The ledger fields of one formatted plan; zero counts are left out."""
    nodes = Counter(_NODE.findall(plan))
    shape = {f"scans.{t}": n for t, n in Counter(_SCAN.findall(plan)).items()}
    shape["single_partition"] = len(_SINGLE.findall(plan))
    shape.update((f"nodes.{op}", nodes[op]) for op in NODES)
    return {k: v for k, v in sorted(shape.items()) if v}


# Python-worker operators (Spark 4 class names; AggregateInPandas and
# WindowInPandas plan as ArrowAggregatePython / ArrowWindowPython) and
# the nodes a stage ends at when walking down from an exchange.
_PYTHON_EXECS = {
    "ArrowEvalPythonExec", "BatchEvalPythonExec",
    "MapInPandasExec", "MapInArrowExec",
    "FlatMapGroupsInPandasExec", "FlatMapGroupsInArrowExec",
    "FlatMapCoGroupsInPandasExec", "FlatMapCoGroupsInArrowExec",
    "ArrowAggregatePythonExec", "ArrowWindowPythonExec",
}
_STAGE_EDGES = {
    "ShuffleExchangeExec", "BroadcastExchangeExec", "ReusedExchangeExec",
    "InMemoryTableScanExec",
}
# a PythonUDF prints as ``name(args)#resultId``; the result id survives
# when the optimizer copies the call into a pushed-down filter
_UDF_RESULT = re.compile(r"\)#(\d+)")


def python_reruns(df) -> list[str]:
    """The places where ``df``'s plan runs a Python-worker stage more than
    once per action, read off the AQE initial plan:

    - a ``rangepartitioning`` exchange whose own stage (walking down to
      the next exchange or cached relation) holds a Python node — the
      RangePartitioner's sampling job recomputes that stage;
    - a UDF result id evaluated in two Python nodes — an inferred filter
      pushed through the projection that defines it calls it again, and
      so does a self-join whose two sides each run the UDF.

    An exchange equal to one already walked is skipped, as AQE reuses
    its output instead of running its subtree again.
    """
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.initialPlan()
    problems, owners, exchanges = [], Counter(), []

    def walk(node, sampled: bool) -> None:
        kind = node.getClass().getSimpleName()
        if kind.endswith("ExchangeExec"):
            if any(node.sameResult(seen) for seen in exchanges):
                return
            exchanges.append(node)
        if kind in _PYTHON_EXECS:
            text = node.simpleString(1000)
            if sampled:
                problems.append(f"range sort samples {text[:80]}")
            owners.update(set(_UDF_RESULT.findall(text)))
        ranged = kind == "ShuffleExchangeExec" and (
            node.outputPartitioning().getClass().getSimpleName()
            == "RangePartitioning"
        )
        sampled = ranged or (sampled and kind not in _STAGE_EDGES)
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i), sampled)

    walk(plan, False)
    problems += [
        f"UDF result #{rid} evaluated in {n} Python nodes"
        for rid, n in sorted(owners.items()) if n > 1
    ]
    return problems


def formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def query_shape(spark, sf_dir: str, name: str) -> tuple[dict[str, int], str]:
    """One query's shape and formatted plan, built as the sweep builds it
    (after a release, so no earlier persist swaps in cached relations)."""
    harness.release(spark)
    plan = formatted_plan(QUERIES[name](spark, sf_dir))
    return plan_shape(plan), plan


def sweep(spark, sf_dir: str) -> dict:
    """Build every query once (after releasing the previous one's
    persists) and collect its shape plus every smoke-check problem."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    out = {
        "shapes": {}, "failed": [], "containers": [], "nested_loops": [],
        "reruns": [],
    }
    for name, fn in QUERIES.items():
        harness.release(spark)
        try:
            df = fn(spark, sf_dir)
            assert df.columns, "no columns"
            shape = out["shapes"][name] = plan_shape(formatted_plan(df))
            out["reruns"] += [f"{name}: {p}" for p in python_reruns(df)]
            # the driver's pandas canonicalizer hash-uniques every column
            # and dies on list/dict cells: vector results go long-form
            # (posexplode), maps round-trip through explode
            out["containers"] += [
                f"{name}: {f.name} is {f.dataType.simpleString()}"
                for f in df.schema.fields
                if isinstance(f.dataType, (ArrayType, MapType, StructType))
            ]
            df.count()
        except Exception as exc:
            out["failed"].append(f"{name}: {type(exc).__name__}: {exc}"[:400])
            continue
        nested = any(
            shape.get(f"nodes.{op}")
            for op in ("BroadcastNestedLoopJoin", "CartesianProduct")
        )
        if nested and name not in _NONEQUI_ALLOWLIST:
            out["nested_loops"].append(f"{name}: undocumented nested-loop/cartesian join")
    harness.release(spark)
    return out


def ledger_diff(ledger: dict, shapes: dict) -> list[str]:
    """One line per changed field, per query."""
    lines = []
    for name in sorted(set(ledger) | set(shapes)):
        if name not in shapes:
            lines.append(f"{name}: in the ledger but not built")
            continue
        if name not in ledger:
            lines.append(f"{name}: not in the ledger")
            continue
        old, new = ledger[name], shapes[name]
        lines += [
            f"{name}: {k} {old.get(k, 0)} → {new.get(k, 0)}"
            for k in sorted(set(old) | set(new))
            if old.get(k, 0) != new.get(k, 0)
        ]
    return lines


def write_ledger(shapes: dict) -> None:
    """One query per line, so a plan change is a one-line git diff."""
    rows = [
        f"{json.dumps(n)}: {json.dumps(shapes[n], sort_keys=True)}"
        for n in sorted(shapes)
    ]
    LEDGER.write_text("{\n" + ",\n".join(rows) + "\n}\n")


@pytest.fixture(scope="module")
def swept(spark, sf_dir):
    return sweep(spark, sf_dir)


def test_all_queries_run(swept):
    assert not swept["failed"], "\n".join(swept["failed"])


def test_all_query_schemas_are_atomic(swept):
    assert not swept["containers"], "\n".join(swept["containers"])


def test_no_undocumented_cartesian_or_nested_loop_joins(swept):
    assert not swept["nested_loops"], "\n".join(swept["nested_loops"])


def test_no_python_stage_runs_twice(swept):
    assert not swept["reruns"], "\n".join(swept["reruns"])


def test_plan_shapes_match_ledger(swept):
    diff = ledger_diff(json.loads(LEDGER.read_text()), swept["shapes"])
    assert not diff, (
        "plan shapes differ from tests/PLAN_SHAPES.json (regenerate with "
        "`python tests/test_queries_smoke.py` if intended):\n" + "\n".join(diff)
    )


def test_oracle_keys_subset_of_queries():
    assert set(ORACLE) <= set(QUERIES)


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


@pytest.mark.parametrize(
    "ansi_sf_dir",
    ["/root/testdata/sf0.001", "/root/testdata/sf0.01"],
    ids=["sf0.001", "sf0.01"],
)
def test_all_queries_run_under_ansi(spark, ansi_sf_dir):
    """The driver calls queries() with ITS session — Spark 4 defaults
    ANSI on. Every query must be ANSI-safe (no silent-overflow / bad
    casts that ANSI turns into runtime errors). Parametrized over BOTH
    test scales because ANSI faults can be data-dependent: the round-4
    hourly_traffic_anomalies DIVIDE_BY_ZERO only manifested at sf0.001
    (a zero-variance baseline cell exists there but not at sf0.01)."""
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        for name, fn in QUERIES.items():
            assert fn(spark, ansi_sf_dir).count() >= 0, name
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


if __name__ == "__main__":
    from conftest import SF_DIR, make_session

    session = make_session()
    result = sweep(session, SF_DIR)
    write_ledger(result["shapes"])
    print(f"{len(result['shapes'])} shapes -> {LEDGER}")
    for line in (
        result["failed"] + result["containers"] + result["nested_loops"]
        + result["reruns"]
    ):
        print(line)
    session.stop()
