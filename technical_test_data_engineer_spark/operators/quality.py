"""Declarative data-quality constraint audit (the Deequ/expectations
pattern): N constraints verified in ONE aggregation pass over the
table, surfaced as long-form (check_name, observed, passed) rows.

Why one pass matters at 100 TB: each constraint is an aggregate
expression, so adding a check adds a column to the existing partial
aggregation — not a scan. Cross-table checks (referential integrity)
are separate small plans unioned onto the same report shape.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Check = tuple[str, Column, Callable[[Column], Column]]


def constraint_audit(df: DataFrame, checks: list[Check]) -> DataFrame:
    """Evaluate ``checks`` — (name, observed aggregate expression,
    observed -> passed predicate) — in a single aggregation over
    ``df``. Returns (check_name, observed double, passed boolean), one
    row per check, in the given order."""
    row = df.agg(
        *[obs.cast("double").alias(f"_o_{i}") for i, (_, obs, _p) in enumerate(checks)]
    )
    structs = [
        F.struct(
            F.lit(name).alias("check_name"),
            F.col(f"_o_{i}").alias("observed"),
            passed(F.col(f"_o_{i}")).alias("passed"),
        )
        for i, (name, _o, passed) in enumerate(checks)
    ]
    return row.select(F.explode(F.array(*structs)).alias("c")).select("c.*")


def referential_check(
    name: str, facts: DataFrame, dim: DataFrame, fact_key: str, dim_key: str
) -> DataFrame:
    """Orphan-count referential-integrity check as the same report
    shape: observed = fact rows whose key has no dimension match
    (left_anti join — one keyed shuffle, or a broadcast when the dim
    is small), passed = zero orphans. NULL fact keys are not orphans
    (SQL join semantics already exclude them — flag nullability with
    its own in-pass check)."""
    orphans = facts.join(
        dim.select(F.col(dim_key).alias(fact_key)), fact_key, "left_anti"
    )
    return orphans.agg(F.count("*").cast("double").alias("observed")).select(
        F.lit(name).alias("check_name"),
        "observed",
        (F.col("observed") == 0).alias("passed"),
    )
