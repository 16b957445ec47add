"""F1-F3 scalar semantics (inclusive arithmetic, literal typo repair) —
edge cases SURVEY.md §7 ranks hardest — the one home of the exact-sum
convention in ``functions/scalars.py`` and of driver-side fetches in
``operators/bounded.py``, and the guards that operators keep only the
functions and parameters the engine calls."""

from __future__ import annotations

import ast
from pathlib import Path

import technical_test_data_engineer_spark
from technical_test_data_engineer_spark.functions.scalars import (
    inclusive_duration_days,
    parse_iso_date,
    repair_year_typo,
)


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


def _package_bindings(tree: ast.Module) -> tuple[set[str], set[str]]:
    """The names a file binds from the package: ``(functions, modules)``.

    ``functions`` holds the names it imports from a package module
    (``from ...operators.dedup import minhash_signature``) or defines at
    top level; ``modules`` holds the names bound to a package import
    (``TX`` in ``from ...operators import text as TX``). A relative
    import is a package import. Which of the two an imported name is,
    the scan cannot tell, so an imported name is in both."""
    functions = {
        n.name
        for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    }
    modules: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            modules |= {
                a.asname or a.name.split(".")[0]
                for a in node.names
                if a.name.startswith(_PKG.name)
            }
        elif isinstance(node, ast.ImportFrom) and (
            node.level or node.module.startswith(_PKG.name)
        ):
            names = {a.asname or a.name for a in node.names}
            functions |= names
            modules |= names
    return functions, modules


def _root_name(node: ast.expr) -> str | None:
    """The name an attribute chain starts from (``TX`` in ``TX.a.b``)."""
    while isinstance(node, ast.Attribute):
        node = node.value
    return node.id if isinstance(node, ast.Name) else None


def _package_name(node: ast.expr, bindings: tuple[set[str], set[str]]) -> str | None:
    """The package function ``node`` may name, or None: a bare name
    counts only if the file imports it from the package or defines it at
    top level, an attribute only through a name bound to a package
    import. So ``F.count_distinct``, ``df.where(...)`` and a local
    variable never name a package function."""
    functions, modules = bindings
    if isinstance(node, ast.Name):
        return node.id if node.id in functions else None
    if isinstance(node, ast.Attribute) and _root_name(node.value) in modules:
        return node.attr
    return None


def _sets(call: ast.Call, name: str, position: int | None, default: ast.expr) -> bool:
    """Whether ``call`` may pass parameter ``name`` (at ``position`` when
    positional) a value other than its ``default`` expression: by keyword,
    by position, or through a ``*``/``**`` splat, which the scan cannot
    see into. Passing the default's own expression (``k0=60``,
    ``num_hashes=NUM_HASHES``) does not set the parameter."""
    same = ast.dump(default)
    for k in call.keywords:
        if k.arg is None or (k.arg == name and ast.dump(k.value) != same):
            return True
    if position is None:
        return False
    if any(isinstance(a, ast.Starred) for a in call.args[: position + 1]):
        return True
    return len(call.args) > position and ast.dump(call.args[position]) != same


_ROOT = _PKG.parent
_ENGINE = [
    *_PKG.rglob("*.py"),
    *_ROOT.glob("*.py"),
    *(_ROOT / "perfbench").glob("*.py"),
]


def _public_functions(layers: tuple[str, ...]):
    """``(path, FunctionDef)`` for every public top-level function in the
    package ``layers``."""
    for layer in layers:
        for path in sorted((_PKG / layer).glob("*.py")):
            for fn in ast.parse(path.read_text()).body:
                if isinstance(fn, ast.FunctionDef) and not fn.name.startswith("_"):
                    yield path, fn


def test_every_defaulted_parameter_has_a_caller():
    """Operators keep only the parameters a caller sets: every defaulted
    parameter of a public function in ``operators/``, ``functions/``,
    ``sources/`` and ``streaming/`` is passed a value other than its
    default, by keyword or position, by some call in the package, the
    root scripts, ``perfbench/`` or ``tests/``. A call counts when it
    names a package function (``_package_name``), so neither
    ``pq.write_table`` nor a same-named method call (``df.join``) is a
    caller. A value no caller changes is a constant, not an option."""
    calls: dict[str, list[ast.Call]] = {}
    for path in [*_ENGINE, *(_ROOT / "tests").rglob("*.py")]:
        tree = ast.parse(path.read_text())
        bindings = _package_bindings(tree)
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and (
                name := _package_name(node.func, bindings)
            ):
                calls.setdefault(name, []).append(node)
    found = []
    for path, fn in _public_functions(
        ("operators", "functions", "sources", "streaming")
    ):
        a = fn.args
        positional = a.posonlyargs + a.args
        first = len(positional) - len(a.defaults)
        params = [
            (p, i, d) for i, (p, d) in enumerate(zip(positional[first:], a.defaults), first)
        ] + [
            (p, None, d)
            for p, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None
        ]
        for p, i, d in params:
            if not any(_sets(c, p.arg, i, d) for c in calls.get(fn.name, [])):
                found.append(
                    f"{path.relative_to(_PKG)}:{p.lineno} {fn.name}({p.arg})"
                )
    assert not found, f"{len(found)} unset defaulted parameters:\n" + "\n".join(
        found
    )


def test_every_public_operator_has_a_reference():
    """The engine keeps only the operators it calls: every public
    function in ``operators/`` and ``functions/`` is loaded by name,
    outside its own body, somewhere in the package, the root scripts or
    ``perfbench/``. A name counts by ``_package_name``; ``tests/`` and an
    ``__init__`` re-export do not count. A function only tests reach is
    deleted with its tests."""
    loaded: set[str] = set()
    for path in _ENGINE:
        tree = ast.parse(path.read_text())
        bindings = _package_bindings(tree)
        own = {
            id(n): fn.name
            for fn in tree.body
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
            for n in ast.walk(fn)
        }
        for node in ast.walk(tree):
            if isinstance(getattr(node, "ctx", None), ast.Load):
                name = _package_name(node, bindings)
                if name and own.get(id(node)) != name:
                    loaded.add(name)
    found = [
        f"{path.relative_to(_PKG)}:{fn.lineno} {fn.name}"
        for path, fn in _public_functions(("operators", "functions"))
        if fn.name not in loaded
    ]
    assert not found, f"{len(found)} operators only tests reach:\n" + "\n".join(
        found
    )
