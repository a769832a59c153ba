"""Triage engine-evaluated float rounding across the catalog.

The r7/r8 driver gates proved that ``round(DOUBLE, n)`` evaluated
inside each engine is itself per-engine-divergent: Spark rounds the
shortest decimal repr via BigDecimal HALF_UP while a libm-side round
operates on the binary value, so half-boundary doubles split (4 of 4
driver-hash failures across r7/r8 were this class). VERDICT r8 task 3:
inventory every query that (a) has a ``round`` call anywhere in its
optimized plan AND (b) emits a float output column — the only
combination that can ship an engine-rounded non-exact double to the
driver's exact value hash.

Safe classes this deliberately does NOT flag:
- round feeding an integer/decimal conversion (``round(x*100) ->
  BIGINT`` cents): the output column is integral, ties at exact n+0.5
  doubles round away-from-zero on both engines, and prices/quantities
  with <=2 fractional digits never sit near a tie;
- decimal-typed round (exact arithmetic, identical everywhere);
- float outputs with NO round in the plan: raw IEEE results of
  identical textual expressions are correctly rounded per op and
  therefore bit-equal across engines.

Usage: python tools/round_triage.py [--all]   (default: window+NEXT)
Writes a markdown table to stdout; exit 1 if any FLAGGED query is
inside the incoming gate window union _GATE_NEXT.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from finance_reporting_etl_spark.runs import start_run  # noqa: E402

start_run("triage")

from pyspark.sql.types import DoubleType, FloatType  # noqa: E402

from finance_reporting_etl_spark.queries import CATALOG, _GATE_NEXT  # noqa: E402
from finance_reporting_etl_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"


def float_cols(df) -> list[str]:
    return [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (DoubleType, FloatType))
    ]


def strip_int_casts(plan: str) -> str:
    """Remove every scale-0 round site (round-to-integer is
    cross-engine safe; see tests/test_catalog_oracle.py
    _strip_int_cast_rounds, which is the canonical copy)."""
    from tests.test_catalog_oracle import _strip_int_cast_rounds

    return _strip_int_cast_rounds(plan)


def main() -> int:
    names = (
        list(CATALOG)
        if "--all" in sys.argv
        else [n for n in list(CATALOG)[:50] + list(_GATE_NEXT)]
    )
    spark = get_spark(app_name="round_triage", shuffle_partitions=8)
    flagged: list[tuple[str, list[str], int]] = []
    clean_round = 0
    no_round = 0
    for name in names:
        e = CATALOG[name]
        try:
            df = e.fn(spark, SF)
        except Exception as ex:  # noqa: BLE001
            print(f"| {name} | ERROR | {str(ex)[:80]} |")
            continue
        plan = strip_int_casts(
            df._jdf.queryExecution().optimizedPlan().toString()
        )
        n_round = len(re.findall(r"\bround\(", plan))
        fc = float_cols(df)
        if n_round and fc:
            flagged.append((name, fc, n_round))
        elif n_round:
            clean_round += 1
        else:
            no_round += 1
    print(f"\nscanned={len(names)} no_round={no_round} "
          f"round_but_integral_output={clean_round} flagged={len(flagged)}")
    print("\n| query | float output cols | round() sites in plan |")
    print("|---|---|---|")
    for name, fc, n in flagged:
        print(f"| {name} | {', '.join(fc)} | {n} |")
    gate = set(list(CATALOG)[:50]) | set(_GATE_NEXT)
    hot = [n for n, _, _ in flagged if n in gate]
    if hot:
        print(f"\nFLAGGED inside gate window ∪ NEXT: {hot}")
    return 1 if hot else 0


if __name__ == "__main__":
    raise SystemExit(main())
