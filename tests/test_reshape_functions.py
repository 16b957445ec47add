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


def _foreign_names(tree: ast.Module) -> set[str]:
    """Names a file binds by importing from outside the package (``pq``
    in ``import pyarrow.parquet as pq``)."""
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out |= {
                a.asname or a.name.split(".")[0]
                for a in node.names
                if not a.name.startswith(_PKG.name)
            }
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            if not node.module.startswith(_PKG.name):
                out |= {a.asname or a.name for a in node.names}
    return out


def _call_name(call: ast.Call, foreign: set[str]) -> str | None:
    """The called function's bare name, or None for a call through a
    name from ``foreign``, which is never a package function."""
    f = call.func
    if isinstance(f, ast.Name):
        return None if f.id in foreign else f.id
    if isinstance(f, ast.Attribute):
        if isinstance(f.value, ast.Name) and f.value.id in foreign:
            return None
        return f.attr
    return None


def _sets(call: ast.Call, name: str, position: int | None) -> bool:
    """Whether ``call`` may pass parameter ``name`` (at ``position`` when
    positional): by keyword, by position, or through a ``*``/``**``
    splat, which the scan cannot see into."""
    if any(k.arg in (name, None) for k in call.keywords):
        return True
    if position is None:
        return False
    return len(call.args) > position or any(
        isinstance(a, ast.Starred) for a in call.args
    )


def test_every_defaulted_parameter_has_a_caller():
    """Operators keep only the parameters a caller sets: every defaulted
    parameter of a public function in ``operators/``, ``functions/``,
    ``sources/`` and ``streaming/`` is passed, by keyword or position,
    by some call in the package, the root scripts, ``perfbench/`` or
    ``tests/``. Calls match by bare function name, except calls through
    a name imported from outside the package (``pq.write_table``), so a
    same-named method call still counts as a caller. A value no caller
    changes is a constant, not an option."""
    root = _PKG.parent
    sources = [
        *_PKG.rglob("*.py"),
        *root.glob("*.py"),
        *(root / "perfbench").glob("*.py"),
        *(root / "tests").rglob("*.py"),
    ]
    calls: dict[str, list[ast.Call]] = {}
    for path in sources:
        tree = ast.parse(path.read_text())
        foreign = _foreign_names(tree)
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and _call_name(node, foreign):
                calls.setdefault(_call_name(node, foreign), []).append(node)
    found = []
    for layer in ("operators", "functions", "sources", "streaming"):
        for path in sorted((_PKG / layer).glob("*.py")):
            for fn in ast.parse(path.read_text()).body:
                if not isinstance(fn, ast.FunctionDef) or fn.name.startswith("_"):
                    continue
                a = fn.args
                positional = a.posonlyargs + a.args
                first = len(positional) - len(a.defaults)
                params = [
                    (p, i) for i, p in enumerate(positional) if i >= first
                ] + [
                    (p, None)
                    for p, d in zip(a.kwonlyargs, a.kw_defaults)
                    if d is not None
                ]
                for p, i in params:
                    if not any(
                        _sets(c, p.arg, i) for c in calls.get(fn.name, [])
                    ):
                        found.append(
                            f"{path.relative_to(_PKG)}:{p.lineno} "
                            f"{fn.name}({p.arg})"
                        )
    assert not found, f"{len(found)} unset defaulted parameters:\n" + "\n".join(
        found
    )
