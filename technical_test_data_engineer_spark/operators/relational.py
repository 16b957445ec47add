"""Projection, filter, and null-repair operators (SURVEY.md §2.2, P1-P6).

All declarative: Catalyst pushes these predicates into the parquet scan
(check with ``.explain`` → ``PushedFilters``) and prunes unread columns
— the automation of the reference's hand-rolled column lists
(/root/reference/tasks/visualization/src/visualization.py:54-59).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def project(df: DataFrame, cols: Iterable[str]) -> DataFrame:
    """P1 — explicit column projection (visualization.py:54-59)."""
    return df.select(*cols)


def point_in_interval(
    df: DataFrame,
    point: dt.date | dt.datetime | str,
    start_col: str = "debut",
    end_col: str = "fin",
) -> DataFrame:
    """P2 — rows whose ``[start, end]`` validity interval contains
    ``point`` (inclusive both ends, visualization.py:97-98).

    At scale: both bounds are independent comparisons against a literal,
    so each pushes down to parquet min/max row-group pruning.
    """
    p = F.lit(point)
    return df.filter((F.col(start_col) <= p) & (p <= F.col(end_col)))


def equality_filter(df: DataFrame, col: str, value) -> DataFrame:
    """P3 — ``df[df.col == v]`` (visualization.py:170, :185)."""
    return df.filter(F.col(col) == F.lit(value))


def in_list(df: DataFrame, col: str, values: Iterable) -> DataFrame:
    """P4 — IN-list membership (visualization.py:146)."""
    return df.filter(F.col(col).isin(list(values)))


def fill_interval_nulls(
    df: DataFrame,
    start_col: str,
    end_col: str,
    start_default: str = "1900-01-01",
    end_default: str = "2024-12-31",
) -> DataFrame:
    """P5 — close open validity intervals by constant-filling null bounds
    (visualization.py:43, :45). Null start → epoch-ish floor, null end →
    horizon cap, so interval predicates (P2) see closed intervals."""
    return df.na.fill({start_col: start_default, end_col: end_default})


def coalesce_after_outer_join(df: DataFrame, col: str, default) -> DataFrame:
    """P6 — repair nulls introduced by an outer join's unmatched side
    (``fillna(0)`` on alert level, visualization.py:154)."""
    return df.withColumn(col, F.coalesce(F.col(col), F.lit(default)))


def where(df: DataFrame, condition: Column) -> DataFrame:
    """General predicate entry point for composed conditions."""
    return df.filter(condition)


def split_by_cast(
    df: DataFrame, casts: dict[str, str]
) -> tuple[DataFrame, DataFrame]:
    """Typed-ingest quarantine: split a stringly-staged frame into
    (clean, quarantine) by cast success. ``casts`` maps column →
    target type; clean rows carry every column cast, quarantine rows
    keep the ORIGINAL strings plus ``_bad_cols`` naming each failing
    column — the triage key an ingest dashboard groups on.

    The S1 story completed: PERMISSIVE CSV capture catches rows that
    don't PARSE; this catches values that parse but don't TYPE
    (``'12,5'`` in a double column, ``'0023-01-05'`` pre-repair).
    ``try_cast`` (ANSI-safe NULL on failure) keeps the whole split
    scan-side — two pruned passes over the stage, no UDF, no shuffle;
    a NULL input is not a cast failure (nullability is a
    constraint-audit concern, operators/quality.py)."""
    fail_flags = [
        (c, F.col(c).isNotNull() & F.col(c).try_cast(t).isNull())
        for c, t in casts.items()
    ]
    any_bad = F.lit(False)
    for _, flag in fail_flags:
        any_bad = any_bad | flag
    clean = df.filter(~any_bad).select(
        *[
            F.col(c).try_cast(casts[c]).alias(c) if c in casts else F.col(c)
            for c in df.columns
        ]
    )
    bad_cols = F.filter(
        F.array(
            *[
                F.when(flag, F.lit(c)).otherwise(F.lit(None))
                for c, flag in fail_flags
            ]
        ),
        lambda x: x.isNotNull(),
    )
    quarantine = df.filter(any_bad).withColumn("_bad_cols", bad_cols)
    return clean, quarantine


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
