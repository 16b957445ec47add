"""Reshaping / generator operators (SURVEY.md §2.7, R1-R3).

R1 is the reference's slowest op — a row-wise Python lambda building a
date list per row (/root/reference/tasks/visualization/src/visualization.py:186).
Here it is the native ``sequence()`` expression: whole-stage-codegen'd,
no Python in the loop, and Catalyst knows its output cardinality
heuristics for downstream planning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def date_array(
    df: DataFrame, start_col: str, end_col: str, alias: str = "days_list"
) -> DataFrame:
    """R1 — per-row daily date array over ``[start, end]`` inclusive
    (``pd.date_range(debut, fin, freq='D')``, visualization.py:186)."""
    return df.withColumn(
        alias,
        F.sequence(
            F.to_date(start_col), F.to_date(end_col), F.expr("interval 1 day")
        ),
    )


def explode_to_rows(df: DataFrame, array_col: str, alias: str) -> DataFrame:
    """R2 — array → one output row per element
    (``df.explode('days_list')``, visualization.py:189), dropping the
    source array (the rename the reference does by hand, R3)."""
    return df.withColumn(alias, F.explode(array_col)).drop(array_col)


def date_spine(df: DataFrame, start_col: str, end_col: str) -> DataFrame:
    """R1+R2 fused: one row per (source row, ``day`` in validity interval).

    Output cardinality = Σ interval lengths; at 100 TB bound the interval
    (filter degenerate/huge spans) BEFORE exploding — explode multiplies
    whatever garbage reaches it.
    """
    return explode_to_rows(date_array(df, start_col, end_col, "_days"), "_days", "day")


def rename(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """R3 — bulk column rename (``rename(columns=…)``)."""
    return df.withColumnsRenamed(mapping)
