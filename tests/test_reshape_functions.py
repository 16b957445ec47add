"""R1/R2 date-spine and F1-F4 scalar semantics (inclusive arithmetic,
literal typo repair) — the edge cases SURVEY.md §7 ranks hardest — and
the one home of the exact-sum convention in ``functions/scalars.py`` and
of driver-side fetches in ``operators/bounded.py``."""

from __future__ import annotations

import ast
import datetime as dt
from pathlib import Path

from pyspark.sql import functions as F

import technical_test_data_engineer_spark
from technical_test_data_engineer_spark.functions.scalars import (
    display_date,
    inclusive_duration_days,
    parse_iso_date,
    repair_year_typo,
)
from technical_test_data_engineer_spark.operators.reshape import (
    date_array,
    date_spine,
)


def test_date_array_single_day(spark):
    df = spark.createDataFrame([("2023-08-15", "2023-08-15")], "d string, f string")
    out = date_array(df, "d", "f").collect()[0]
    assert out.days_list == [dt.date(2023, 8, 15)]


def test_date_spine_inclusive(spark):
    df = spark.createDataFrame([(1, "2023-01-01", "2023-01-03")],
                               "id int, d string, f string")
    days = [r.day for r in date_spine(df, "d", "f").orderBy("day").collect()]
    assert days == [dt.date(2023, 1, 1), dt.date(2023, 1, 2), dt.date(2023, 1, 3)]


def test_repair_year_typo_literal_not_regex(spark):
    df = spark.createDataFrame([("0023-08-15",), ("2023-10-02",)], "fin string")
    out = [r[0] for r in df.select(repair_year_typo("fin")).collect()]
    assert out == ["2023-08-15", "2023-10-02"]


def test_inclusive_duration(spark):
    df = spark.createDataFrame([("2023-01-01", "2023-01-01"),
                                ("2023-01-01", "2023-01-31")], "d string, f string")
    df = df.select(parse_iso_date("d").alias("d"), parse_iso_date("f").alias("f"))
    out = [r[0] for r in df.select(inclusive_duration_days("d", "f")).collect()]
    assert out == [1, 31]  # same-day decree lasts 1 day, not 0


def test_display_date(spark):
    df = spark.createDataFrame([("2023-08-15",)], "d string")
    out = df.select(display_date(F.to_date("d")).alias("x")).collect()[0].x
    assert out == "15/08/2023"


_PKG = Path(technical_test_data_engineer_spark.__file__).parent


def _decimal_casts(node: ast.AST) -> list[ast.Call]:
    """Every ``<expr>.cast("decimal(...)")`` call under ``node``."""
    return [
        n
        for n in ast.walk(node)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "cast"
        and n.args
        and isinstance(n.args[0], ast.Constant)
        and str(n.args[0].value).lower().startswith("decimal")
    ]


def test_exact_sum_convention_has_one_home():
    """Plans reach the DECIMAL accumulator and the 1e10 long fold only
    through ``functions/scalars`` (dec, exact_sum, scaled_long, unscale):
    no lambda casts to decimal or scales by 1e10, and no ``F.sum`` argument
    holds an inline decimal cast, anywhere else in the package."""
    home = _PKG / "functions" / "scalars.py"
    found = []
    for path in sorted(_PKG.rglob("*.py")):
        if path == home:
            continue
        where = path.relative_to(_PKG)
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Lambda) and (
                _decimal_casts(node.body)
                or any(
                    isinstance(n, ast.Constant) and n.value == 1e10
                    for n in ast.walk(node.body)
                )
            ):
                found.append(f"{where}:{node.lineno} lambda")
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "sum"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "F"
                and node.args
                and _decimal_casts(node.args[0])
            ):
                found.append(f"{where}:{node.lineno} F.sum")
    assert not found, "\n".join(found)


_FETCHES = {"collect", "toPandas", "toArrow", "first"}


def test_driver_fetches_go_through_collect_bounded():
    """The query, operator, source and service layers fetch Spark rows
    to the driver only through ``operators/bounded.collect_bounded``: no
    bare ``.collect()``, ``.toPandas()``, ``.toArrow()`` or ``.first()``
    call outside ``operators/bounded.py``, and no ``collect_dict``
    anywhere in the package."""
    home = _PKG / "operators" / "bounded.py"
    layers = [
        path
        for layer in ("plans", "operators", "sources")
        for path in (_PKG / layer).rglob("*.py")
    ]
    found = []
    for path in sorted([*layers, _PKG / "service.py"]):
        if path == home:
            continue
        where = path.relative_to(_PKG)
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in _FETCHES
                and not node.args
                and not node.keywords
            ):
                found.append(f"{where}:{node.lineno} .{node.func.attr}()")
    for path in sorted(_PKG.rglob("*.py")):
        if "collect_dict" in path.read_text():
            found.append(f"{path.relative_to(_PKG)}: collect_dict")
    assert not found, "\n".join(found)
