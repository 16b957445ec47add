"""Aggregation operators (SURVEY.md §2.4, A4). Exact and approximate
count-distinct are Spark's own ``F.count_distinct`` and
``F.approx_count_distinct``, called in the plans directly.

All hash aggregations: Spark plans partial (map-side) + final
aggregation automatically, so a groupBy over 100 TB shuffles only the
pre-combined per-partition groups, not raw rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def distinct_pairs_by_freq(df: DataFrame, cols: list[str]) -> DataFrame:
    """A4 — ``value_counts`` then drop the count: distinct combos ordered
    most-frequent-first (legend pairs, visualization.py:50). Tie-break on
    the key columns so ordering is deterministic (pandas value_counts is
    stable; Spark needs the explicit tiebreak)."""
    return (
        df.groupBy(*cols)
        .count()
        .orderBy(F.desc("count"), *[F.asc(c) for c in cols])
        .drop("count")
    )

