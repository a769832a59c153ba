"""Lint: ``staging.fold_stream`` is the package's one foreachBatch start.

Every micro-batch fold starts through ``fold_stream``, so the file
stream, its one-file-per-trigger option, the checkpoint and the
AvailableNow trigger are spelled once. This scan flags any
``.foreachBatch(`` call in the package outside that function.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "finance_reporting_etl_spark"
STARTER = ("staging.py", "fold_stream")


def _foreach_batch_calls(path: Path) -> list[int]:
    tree = ast.parse(path.read_text(), filename=str(path))
    skip: set[int] = set()
    for fn in ast.walk(tree):
        if isinstance(fn, ast.FunctionDef) and (path.name, fn.name) == STARTER:
            skip.update(id(n) for n in ast.walk(fn))
    # the attribute's end is the line ``.foreachBatch`` is on; the call
    # itself starts where its receiver chain does
    return [
        node.func.end_lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "foreachBatch"
        and id(node) not in skip
    ]


def test_foreach_batch_starts_only_in_fold_stream():
    found = [
        f"{path.relative_to(PACKAGE.parent)}:{line}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for line in sorted(_foreach_batch_calls(path))
    ]
    assert not found, (
        f"{len(found)} foreachBatch starts outside staging.fold_stream; "
        "start the stream with fold_stream(spark, src, schema, "
        "checkpoint_dir, fold):\n" + "\n".join(found)
    )
