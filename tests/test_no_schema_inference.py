"""Lint: every batch parquet read goes through ``tables._read_parquet``.

Without a schema, ``spark.read.parquet(path)`` runs a one-task Spark job
to infer the schema from a file footer; ``_read_parquet`` reads that
footer on the driver instead. This scan flags any batch reader chain
(``<x>.read[.option(...)...].parquet(...)``) in the package that sets no
``.schema(...)``, outside ``_read_parquet`` itself. A ``mergeSchema``
read is exempt: merging needs every footer, which is Spark's job.
Streaming reads (``readStream``) always carry a schema and are not
matched. The scan follows one expression, so a reader first bound to a
variable is not seen.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "finance_reporting_etl_spark"
READER = ("tables.py", "_read_parquet")


def _reader_chain(node: ast.expr) -> list[ast.expr]:
    """The receiver chain of a call, innermost last."""
    chain = []
    while isinstance(node, (ast.Call, ast.Attribute)):
        chain.append(node)
        node = node.func if isinstance(node, ast.Call) else node.value
    return chain


def _is_merge_schema(call: ast.Call) -> bool:
    return (
        isinstance(call.func, ast.Attribute)
        and call.func.attr == "option"
        and bool(call.args)
        and isinstance(call.args[0], ast.Constant)
        and call.args[0].value == "mergeSchema"
    )


def _inference_reads(path: Path) -> list[int]:
    tree = ast.parse(path.read_text(), filename=str(path))
    skip: set[int] = set()
    for fn in ast.walk(tree):
        if isinstance(fn, ast.FunctionDef) and (path.name, fn.name) == READER:
            skip.update(id(n) for n in ast.walk(fn))
    lines = []
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
            and id(node) not in skip
        ):
            continue
        chain = _reader_chain(node.func.value)
        attrs = [n.attr for n in chain if isinstance(n, ast.Attribute)]
        if "read" not in attrs or "schema" in attrs:
            continue
        if any(isinstance(n, ast.Call) and _is_merge_schema(n) for n in chain):
            continue
        lines.append(node.lineno)
    return lines


def test_no_schema_inference_reads():
    found = [
        f"{path.relative_to(PACKAGE.parent)}:{line}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for line in _inference_reads(path)
    ]
    assert not found, (
        f"{len(found)} batch parquet reads without a schema; use "
        "tables._read_parquet(spark, path):\n" + "\n".join(found)
    )
