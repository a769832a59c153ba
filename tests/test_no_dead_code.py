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
"""

from __future__ import annotations

import ast
import pathlib
from collections import Counter

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "finance_reporting_etl_spark"
SCANNED = [PKG, ROOT / "tests", ROOT / "tools", ROOT / "bench.py", ROOT / "perfbench"]

# decorators that only shape a class, and register nothing
PLAIN_DECORATORS = {"dataclass"}


def _files() -> list[pathlib.Path]:
    out: list[pathlib.Path] = []
    for p in SCANNED:
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


def unreferenced() -> list[str]:
    defs: list[tuple[str, str]] = []
    used: Counter[str] = Counter()
    for path in _files():
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
