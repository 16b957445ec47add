"""Frozen query lists of the two batch workloads.

Each name carries the classification measured on the registry this
benchmark was written against (sf0.01, 4 cores): ``build_jobs`` is
whether building the plan, the ``QUERIES[name](spark, sf_dir)`` call,
launches Spark jobs on every build — the first build in a session can
also run one-off jobs, such as the first read of a table, which later
builds skip — and ``python`` whether the executed plan runs Python
workers.

``batch_driver`` holds queries that launch jobs at every build
(driver-side collects); ``batch_distributed`` holds queries that launch
none, drawn once per plan module from the interquartile band of a cold
pass's per-query cost, plus Python-worker queries from two modules.

Both lists are trimmed so that the warm passes — the first also checks
every result against its oracle — and the timed passes fit one run of
about 40 s on 4 cores. That leaves out the dedup-module driver-side
queries (``dedup_clusters``, ``minhash_near_dups`` ...): their DuckDB
oracles alone take 4-9 s each at sf0.01.
"""

from __future__ import annotations

# name: (build_jobs, python)
BATCH_DRIVER: dict[str, tuple[bool, bool]] = {
    "tfidf_top_terms": (True, False),
    "daily_revenue_repeated_median": (True, False),
    "order_value_conformal": (True, False),
    "supplier_bradley_terry": (True, False),
}

BATCH_DISTRIBUTED: dict[str, tuple[bool, bool]] = {
    "doc_language_id": (False, False),
    "q19_disjunctive_predicates": (False, False),
    "distinct_mktsegments": (False, False),
    "customers_per_nation_left": (False, False),
    "dp_noisy_counts": (False, False),
    "user_value_holtwinters": (False, True),
    "embedding_project_literal": (False, True),
}

LISTS = {"batch_driver": BATCH_DRIVER, "batch_distributed": BATCH_DISTRIBUTED}


def resolve(workload: str, queries: dict, oracle: dict) -> list[str]:
    """The workload's query names, after checking that each is still
    registered and still has its oracle — a changed registry must fail
    loudly instead of quietly changing what is measured."""
    names = list(LISTS[workload])
    missing = [n for n in names if n not in queries]
    unpaired = [n for n in names if n in queries and n not in oracle]
    if missing or unpaired:
        raise RuntimeError(
            f"{workload}: frozen query list no longer matches the registry: "
            f"not registered={missing} no oracle={unpaired}"
        )
    return names
