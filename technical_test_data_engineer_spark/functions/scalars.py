"""Scalar function surface (SURVEY.md §2.8, F1-F6) and the Spark-side
exact-sum convention.

Everything here is a thin composition of built-in ``pyspark.sql.functions``
— JVM-side, whole-stage-codegen'd. No Python UDFs: the reference's two
Python lambdas (colormap, date-range apply) are both replaced by native
expressions (SURVEY.md §2.9).

Plans sum doubles in one of two exact forms, both defined only here:

- the DECIMAL form: cast each term to DECIMAL (:func:`dec`), sum, cast
  back to double (:func:`exact_sum`, :func:`exact_avg`);
- the integer-scaled form: round each term to 10 decimals as a BIGINT
  (:func:`scaled_long`), sum the longs, divide back (:func:`unscale`).

Their driver-side counterparts, for plans that finish a bounded
computation in Python, are in ``functions/mirrors.py``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def repair_year_typo(col: Column | str, bad: str = "0023", good: str = "2023") -> Column:
    """F1 — literal substring replace repairing typo'd years, matching the
    reference's literal (non-regex) ``str.replace('0023','2023')``
    (/root/reference/tasks/visualization/src/visualization.py:44)."""
    return F.replace(F.col(col) if isinstance(col, str) else col, F.lit(bad), F.lit(good))


def parse_iso_date(col: Column | str) -> Column:
    """F2 — ISO ``YYYY-MM-DD`` string → DateType
    (``pd.to_datetime(col).dt.date``, visualization.py:46-47)."""
    return F.to_date(col)


def inclusive_duration_days(debut: Column | str, fin: Column | str) -> Column:
    """F3 — inclusive interval length in days: ``fin − debut + 1 day``
    (visualization.py:60). Both endpoints count."""
    return (F.datediff(fin, debut) + F.lit(1)).alias("duration_days")


def display_date(col: Column | str) -> Column:
    """F4 — presentation date format (``strftime('%d/%m/%Y')``,
    visualization.py:107/:133), column-capable in the engine."""
    return F.date_format(col, "dd/MM/yyyy")


# ---------------------------------------------------------------------------
# Exact aggregates over double columns.
#
# Binary-double summation is order-dependent, and a distributed engine
# does not control reduction order — so a double SUM is not reproducible
# run-to-run, let alone engine-to-engine. The engine's convention:
# money/measure doubles are summed as DECIMAL (exact, associative,
# order-independent), then surfaced as double. This makes every
# aggregate bit-reproducible across partitionings AND comparable
# against the DuckDB oracle.
# ---------------------------------------------------------------------------


def dec(col: Column | str, precision: int = 30, scale: int = 10) -> Column:
    """The accumulator cast: ``col`` as DECIMAL(precision, scale).
    DECIMAL(30,10) is the money/measure default; statistics pick a
    scale that keeps value·10^scale under 2^53 before the double cast."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},{scale})")


def exact_sum(
    col: Column | str,
    alias: str | None = None,
    precision: int = 30,
    scale: int = 10,
) -> Column:
    """Order-independent SUM for double measures: cast→decimal, sum
    exactly, surface as double."""
    out = F.sum(dec(col, precision, scale)).cast("double")
    return out.alias(alias) if alias else out


def exact_avg(col: Column | str, alias: str | None = None) -> Column:
    """Order-independent AVG: exact decimal sum ÷ count, divided in
    double so both engines perform the identical final operation."""
    c = F.col(col) if isinstance(col, str) else col
    out = exact_sum(c) / F.count(c)
    return out.alias(alias) if alias else out


def exact_sum_expr(sql_expr: str, alias: str) -> Column:
    """``exact_sum`` over an arbitrary SQL expression (e.g. extended
    price × (1 − discount))."""
    return exact_sum(F.expr(sql_expr), alias)


def scaled_long(col: Column) -> Column:
    """``col`` rounded to 10 decimals as a BIGINT, ``round(x·1e10)``:
    a long sum of these is exact and order-free. DuckDB twin:
    ``CAST(ROUND(x * 1e10, 0) AS BIGINT)``."""
    return F.round(col * F.lit(1e10), 0).cast("bigint")


def unscale(col: Column | str) -> Column:
    """A :func:`scaled_long` sum back to double: ``CAST(s AS DOUBLE) /
    1e10`` — the cast first, then one division, on both engines."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("double") / F.lit(1e10)
