"""Window operators (SURVEY.md §2.5): W1, the reference's signature
pattern made deterministic, and the per-key recurrences (EWMA, Holt)
that no window frame expresses. Top-k and running sums are plain
``row_number``/``rowsBetween`` windows, written in the plans directly.

Reference: ``sort_values('numero_niveau', ascending=False)
.drop_duplicates(key, keep='first')`` — top-1-per-group by pandas stable
sort (/root/reference/tasks/visualization/src/visualization.py:103, :130).
Pandas keeps the first-encountered row on ties; a distributed engine has
no "encounter order", so the engine REQUIRES an explicit tiebreak column
list — the semantic rule SURVEY.md §4 calls out.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def top1_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
) -> DataFrame:
    """W1 — argmax row per group with deterministic total order.

    ``order_cols`` must define a total order within each group (e.g.
    ``[F.desc('numero_niveau'), F.asc('id_zone')]``). One shuffle on the
    group key; ``row_number`` is evaluated streaming within each sorted
    partition — no per-group materialization.
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def grouped_ewma(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    alpha: float,
) -> DataFrame:
    """Exponentially-weighted moving average per key, as column ``ewma``:
    ``y₀ = x₀;  yᵢ = α·xᵢ + (1−α)·yᵢ₋₁`` over ``order_cols`` order.

    A TRUE sequential recurrence — no window frame expresses it
    (each output depends on the full prefix through a product chain),
    so this is the honest case for Spark's grouped-map surface:
    ``applyInPandas`` ships each key's rows to one Arrow batch and the
    recurrence runs there. One shuffle on the key, state bounded by
    the longest single series (the same bound any per-key stateful
    operator has).

    The loop applies literally ``α·x + (1−α)·y`` per step — NOT
    pandas ``ewm`` (whose running-normalization divides differently),
    so the float64 op sequence is reproducible by any engine stepping
    the same recurrence (the DuckDB recursive-CTE oracle matches
    bit-for-bit). To sort the result, pass this call as the stage of
    ``partitioning.ordered_python_stage`` (range first on the key): the
    range exchange also groups the map, and the Python stage runs once
    per query. A plain ``orderBy`` on the result re-runs it to sample."""
    import pandas as _pd

    from pyspark.sql.types import DoubleType, StructField, StructType

    schema = StructType(list(df.schema.fields) + [StructField("ewma", DoubleType())])
    a = float(alpha)

    def _fn(pdf: _pd.DataFrame) -> _pd.DataFrame:
        pdf = pdf.sort_values(order_cols, kind="mergesort").reset_index(drop=True)
        x = pdf[value_col].to_numpy(dtype="float64")
        y = x.copy()
        for i in range(1, len(y)):
            y[i] = a * x[i] + (1.0 - a) * y[i - 1]
        pdf["ewma"] = y
        return pdf

    return df.groupBy(*key_cols).applyInPandas(_fn, schema)


def grouped_holt(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    alpha: float,
    beta: float,
) -> DataFrame:
    """Holt's linear exponential smoothing per key, as columns ``lvl``
    (level) and ``trend`` — the level+trend extension of
    ``grouped_ewma``'s recurrence discipline:

    ``l₀ = x₀;  b₀ = 0``
    ``lᵢ = α·xᵢ + (1−α)·(lᵢ₋₁ + bᵢ₋₁)``
    ``bᵢ = β·(lᵢ − lᵢ₋₁) + (1−β)·bᵢ₋₁``

    Like the EWMA this is a true sequential recurrence (each step
    depends on the full prefix through coupled products), so it runs
    as an Arrow-batched grouped map: one shuffle on the key, per-key
    state bounded by the longest single series. The loop applies the
    textbook float64 ops LITERALLY and in this exact order — NOT a
    fitted statsmodels variant — so a DuckDB recursive CTE stepping
    the identical expressions reproduces every bit (the
    ``user_value_ewma`` precedent, extended to a 2-state recurrence).
    Forecast-at-horizon-1 is ``l + b`` and is left to the caller. Sort
    the result as ``grouped_ewma``'s is sorted, through
    ``partitioning.ordered_python_stage``, so the Python stage runs once
    per query."""
    import numpy as np
    import pandas as _pd

    from pyspark.sql.types import DoubleType, StructField, StructType

    schema = StructType(
        list(df.schema.fields)
        + [StructField("lvl", DoubleType()), StructField("trend", DoubleType())]
    )
    a, bt = float(alpha), float(beta)

    def _fn(pdf: _pd.DataFrame) -> _pd.DataFrame:
        pdf = pdf.sort_values(order_cols, kind="mergesort").reset_index(drop=True)
        x = pdf[value_col].to_numpy(dtype="float64")
        lvl = x.copy()
        trd = np.zeros_like(x) if len(x) else x
        for i in range(1, len(x)):
            new_l = a * x[i] + (1.0 - a) * (lvl[i - 1] + trd[i - 1])
            trd[i] = bt * (new_l - lvl[i - 1]) + (1.0 - bt) * trd[i - 1]
            lvl[i] = new_l
        pdf["lvl"] = lvl
        pdf["trend"] = trd
        return pdf

    return df.groupBy(*key_cols).applyInPandas(_fn, schema)
