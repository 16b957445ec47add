"""Aggregation operators (SURVEY.md §2.4, A4) + the free Spark
extensions (exact and approximate count-distinct).

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


def count_distinct(df: DataFrame, keys: list[str], col: str, alias: str) -> DataFrame:
    """Exact distinct-count per group (expand+dedup+count under the hood
    — two shuffles; prefer approx at extreme scale)."""
    return df.groupBy(*keys).agg(F.countDistinct(col).alias(alias))


def approx_count_distinct(
    df: DataFrame, keys: list[str], col: str, alias: str
) -> DataFrame:
    """HyperLogLog++ distinct count (1% relative standard deviation) —
    one shuffle, fixed memory; the 100 TB-scale answer to
    COUNT(DISTINCT)."""
    return df.groupBy(*keys).agg(F.approx_count_distinct(col, 0.01).alias(alias))
