"""Interval filter, null repair and skyline operators (SURVEY.md §2.2,
P2 and P5, plus the Pareto front).

The interval predicate is declarative: Catalyst pushes it into the
parquet scan (check with ``.explain`` → ``PushedFilters``). Projection,
equality and IN-list filters and post-join null repair (P1, P3, P4, P6)
are one DataFrame call each, written in the plans directly.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def point_in_interval(
    df: DataFrame, point: dt.date | dt.datetime | str
) -> DataFrame:
    """P2 — rows whose ``[debut, fin]`` validity interval contains
    ``point`` (inclusive both ends, visualization.py:97-98).

    At scale: both bounds are independent comparisons against a literal,
    so each pushes down to parquet min/max row-group pruning.
    """
    p = F.lit(point)
    return df.filter((F.col("debut") <= p) & (p <= F.col("fin")))


def fill_interval_nulls(df: DataFrame, start_col: str, end_col: str) -> DataFrame:
    """P5 — close open validity intervals by constant-filling null bounds
    (visualization.py:43, :45). Null start → epoch-ish floor, null end →
    horizon cap, so interval predicates (P2) see closed intervals."""
    return df.na.fill({start_col: "1900-01-01", end_col: "2024-12-31"})


def pareto_front(
    df: DataFrame,
    minimize: tuple[str, ...] = (),
    maximize: tuple[str, ...] = (),
) -> DataFrame:
    """Skyline / Pareto front: rows not dominated by any other row —
    dominance = at-least-as-good on every criterion AND strictly better
    on at least one (Börzsönyi et al., ICDE'01). The multi-objective
    shortlist operator (cheapest-vs-largest, quality-vs-length, ...).

    Two-phase distributed skyline (the MapReduce BNL shape): phase 1
    computes each of 64 hash-buckets' LOCAL skyline with a vectorized numpy
    dominance test inside ``applyInPandas`` (blocked over dominator
    rows, so memory is O(block × bucket), not bucket²); phase 2 runs
    the same kernel once over the union of local skylines. Correct
    because a globally non-dominated row is non-dominated in its bucket
    too, so phase 1 never drops a skyline row — skyline(∪ local
    skylines) = skyline(df) — and phase-2 input is survivor-sized, not
    corpus-sized. Ties (identical criterion vectors) dominate neither
    way; all copies survive, deterministically.
    """
    crit = list(minimize) + list(maximize)
    if not crit:
        raise ValueError("need at least one criterion")
    n_min = len(minimize)

    def _local(pdf):
        import numpy as np

        vals = pdf[crit].to_numpy(dtype="float64").copy()
        vals[:, n_min:] *= -1.0  # canonicalize to all-minimize
        n = len(vals)
        dominated = np.zeros(n, dtype=bool)
        for s in range(0, n, 512):
            blk = vals[s : s + 512]  # dominator candidates
            le = (blk[:, None, :] <= vals[None, :, :]).all(-1)
            lt = (blk[:, None, :] < vals[None, :, :]).any(-1)
            dominated |= (le & lt).any(axis=0)
        return pdf[~dominated]

    bucketed = df.withColumn(
        "_pb",
        F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(64)),
    )
    local = bucketed.groupBy("_pb").applyInPandas(
        lambda _, pdf: _local(pdf), schema=bucketed.schema
    )
    final = (
        local.withColumn("_pb", F.lit(0))
        .groupBy("_pb")
        .applyInPandas(lambda _, pdf: _local(pdf), schema=bucketed.schema)
    )
    return final.drop("_pb")
