"""AST lint: every top-level function and class in the package is used.

A definition counts as used when its name appears outside its own body
anywhere in the package, ``tests/``, ``tools/``, ``bench.py`` or
``perfbench/``: as a loaded name, an attribute, or a string constant
(``getattr`` tables and ``__all__`` name functions by string). A
definition with a registering decorator (``@query``, ``@registry.model``,
``@udtf``) is used by that decorator. A plain import does not count, so
a function that is imported but never called is still reported; an
``import f as _f`` counts, because ``_f`` is what the code then uses.

Names are matched without regard to module, so two modules that each
define ``_c`` keep each other alive: the lint can miss dead code. It
reports live code only when the name is built at run time (a computed
``getattr``), which no code here does for a package definition.

The second check repeats the scan without ``tests/``: a package
definition must be reached from the package itself, ``tools/``,
``bench.py``, ``perfbench/`` or ``__spark_entry__.py``, so the package
carries no layer that only its tests run. ``TEST_ONLY_ALLOWED`` names
the exceptions: the paper's ingest surfaces, which no catalog query
calls.
"""

from __future__ import annotations

import ast
import pathlib
from collections import Counter

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "finance_reporting_etl_spark"
RUNNERS = [ROOT / "tools", ROOT / "bench.py", ROOT / "perfbench", ROOT / "__spark_entry__.py"]
SCANNED = [PKG, ROOT / "tests", *RUNNERS]

# package definitions only tests call, each a paper ingest surface
# (PAPER §1) with its COVERAGE.md row
TEST_ONLY_ALLOWED = {
    "finance_reporting_etl_spark.sources.csv_source.bulk_load_csv": "S7 CSV->table bulk load",
    "finance_reporting_etl_spark.sources.csv_source.write_csv_staged": "S5 headered CSV sink",
    "finance_reporting_etl_spark.sources.json_source.read_json": "S4 raw JSON payload read",
    "finance_reporting_etl_spark.sources.json_source.write_json": "S4 JSON file sink",
    "finance_reporting_etl_spark.sources.rest.fetch_series": "S1 FRED REST fetch",
    "finance_reporting_etl_spark.sources.schemas.create_table": "S8 table DDL (typed view)",
    "finance_reporting_etl_spark.sources.schemas.create_table_sql": "S8 table DDL (SQL string)",
}

# decorators that only shape a class, and register nothing
PLAIN_DECORATORS = {"dataclass"}


def _files(scanned: list[pathlib.Path]) -> list[pathlib.Path]:
    out: list[pathlib.Path] = []
    for p in scanned:
        if p.is_file():
            out.append(p)
        elif p.is_dir():
            out.extend(f for f in sorted(p.rglob("*.py")) if "_work" not in f.parts)
    return out


def _decorator_name(node: ast.expr) -> str:
    if isinstance(node, ast.Call):
        node = node.func
    if isinstance(node, ast.Attribute):
        return node.attr
    return node.id if isinstance(node, ast.Name) else ""


def _uses(tree: ast.AST) -> Counter[str]:
    """How often each name is used in ``tree``."""
    found: Counter[str] = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            found[node.id] += 1
        elif isinstance(node, ast.Attribute):
            found[node.attr] += 1
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.isidentifier():
                found[node.value] += 1
        elif isinstance(node, ast.alias) and node.asname:
            # ``import f as _f`` is used through ``_f``
            found[node.name] += 1
    return found


def unreferenced(scanned: list[pathlib.Path] = SCANNED) -> list[str]:
    defs: list[tuple[str, str]] = []
    used: Counter[str] = Counter()
    for path in _files(scanned):
        tree = ast.parse(path.read_text(), filename=str(path))
        used.update(_uses(tree))
        if PKG not in path.parents:
            continue
        for node in tree.body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            # a recursive call is not a use
            used[node.name] -= _uses(node)[node.name]
            if {_decorator_name(d) for d in node.decorator_list} - PLAIN_DECORATORS:
                continue
            rel = path.relative_to(ROOT).with_suffix("")
            defs.append((node.name, ".".join(rel.parts)))
    return sorted(f"{mod}.{name}" for name, mod in defs if used[name] <= 0)


def test_every_package_definition_is_referenced():
    dead = unreferenced()
    assert not dead, (
        "top-level definitions with no reference outside their own body "
        "(delete them, or add the test or caller that needs them):\n  "
        + "\n  ".join(dead)
    )


def test_no_package_definition_is_reached_only_from_tests():
    test_only = set(unreferenced([PKG, *RUNNERS]))
    assert not test_only - set(TEST_ONLY_ALLOWED), (
        "package definitions that only tests reach (delete them with "
        "their tests, or move a test-only reference into its test):\n  "
        + "\n  ".join(sorted(test_only - set(TEST_ONLY_ALLOWED)))
    )
    # an allowed name that is gone or now has a caller leaves the list
    assert set(TEST_ONLY_ALLOWED) <= test_only, sorted(
        set(TEST_ONLY_ALLOWED) - test_only
    )
