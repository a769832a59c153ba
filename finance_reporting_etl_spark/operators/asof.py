"""As-of (point-in-time) join — the finance lookup Spark lacks natively.

"For each left row at time t, attach the latest right row with
ts <= t (same key)": price-at-trade-time, statement-at-valuation-date,
rate-at-booking. The reference delegates all SQL to Postgres and never
declares one, but any consumer of its marts doing point-in-time
analysis needs it, and the driver mandate lists it as a canonical
custom operator.

Implementation: the UNION + carry-forward formulation, not a range
join —

    tag right rows 0 / left rows 1, union, then over a window
    partitioned by key and ordered by (ts, tag, tiebreak) take
    ``last(right_payload, ignorenulls=True)``; keep left rows.

Cost is ONE shuffle on the join key + a per-key sort — the same price
as a regular sort-merge join — versus the O(|left| x |right-per-key|)
blowup of the naive ``l.ts >= r.ts`` theta-join that a range condition
plans as. Backward direction, inclusive (ties: right row at exactly
ts is visible), matching DuckDB's ``ASOF JOIN`` used as the oracle;
the forward direction (strict) is the same window run in reverse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    suffix: str = "_r",
    tiebreak: str | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join, left-outer (left rows keep NULLs when no right row
    qualifies).

    - ``direction="backward"``: for each left row at t, the LATEST
      right row with ts <= t (inclusive); among equal-ts rights the
      highest ``tiebreak`` wins.
    - ``direction="forward"``: the EARLIEST right row with ts > t
      (strict) — the label-generation direction (time-to-next-event
      targets: next purchase after a view); among equal-ts rights the
      lowest ``tiebreak`` wins.

    Both are one window over the union, carrying the last right row
    seen: ordered by ts ASC (lefts after same-ts rights, so the match
    is inclusive) or by ts DESC (lefts before same-ts rights, so it is
    strict; scanning backward in time, the last right seen is the
    nearest following one).

    ``right_cols`` limits the attached payload (column pruning through
    the union); ``tiebreak`` orders right rows that share a timestamp
    for deterministic results.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be 'backward' or 'forward', got {direction!r}")
    # `is None` check: an explicit empty list means 'attach only the
    # right timestamp' — a falsy-`or` would silently expand it to the
    # full right payload (r5 review)
    right_cols = (
        [c for c in right.columns if c not in (*on, right_ts)]
        if right_cols is None
        else list(right_cols)
    )
    payload = F.struct(
        F.col(right_ts).alias(f"{right_ts}{suffix}"),
        *[F.col(c).alias(f"{c}{suffix}") for c in right_cols],
    )
    tb = F.col(tiebreak) if tiebreak else F.lit(0)
    r = right.select(
        *[F.col(c) for c in on],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        tb.alias("__tb"),
        payload.alias("__r"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left.columns if c not in on],
    )
    l = left.select(
        *[F.col(c) for c in on],
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        F.lit(0).alias("__tb"),
        F.lit(None).cast(r.schema["__r"].dataType).alias("__r"),
        *[F.col(c) for c in left.columns if c not in on],
    )
    u = r.unionByName(l)
    order = [F.col("__ts"), F.col("__is_left"), F.col("__tb")]
    w = (
        Window.partitionBy(*on)
        .orderBy(*[c.asc() if direction == "backward" else c.desc() for c in order])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.withColumn("__last_r", F.last("__r", ignorenulls=True).over(w))
    out_left = [c for c in left.columns if c not in on]
    return carried.filter(F.col("__is_left") == 1).select(
        *on,
        *out_left,
        *[F.col(f"__last_r.{f}") for f in carried.schema["__last_r"].dataType.fieldNames()],
    )


def asof_join_cogroup(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    suffix: str = "_r",
    tiebreak: str | None = None,
) -> DataFrame:
    """:func:`asof_join` executed as a COGROUPED-MAP instead of a
    window — ``groupBy(keys).cogroup(right.groupBy(keys))
    .applyInPandas(...)`` hands each key's left and right rows to one
    Arrow-batched pandas function, which does a vectorized
    searchsorted lookup (backward inclusive; equal timestamps resolve
    to the highest ``tiebreak``, bit-matching the window form).

    This exists for the §2.9 cogroup surface and as the escape hatch
    when per-key matching logic outgrows SQL (irregular calendars,
    conditional matching, model-based imputation). For the plain as-of
    contract PREFER :func:`asof_join`: it pays one shuffle on the
    unioned input and stays JVM-side, while cogroup shuffles both
    sides AND crosses the Arrow boundary. Cost parity otherwise — both
    are one hash-partition of each input by key; per-key rows must fit
    a pandas frame (fine for per-entity series; a million-row hot key
    wants the window form, which spills).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    # `is None` check: an explicit empty list means 'attach only the
    # right timestamp' — a falsy-`or` would silently expand it to the
    # full right payload (r5 review)
    right_cols = (
        [c for c in right.columns if c not in (*on, right_ts)]
        if right_cols is None
        else list(right_cols)
    )
    new_names = [f"{right_ts}{suffix}"] + [f"{c}{suffix}" for c in right_cols]
    out_schema = T.StructType(
        list(left.schema.fields)
        + [T.StructField(f"{right_ts}{suffix}", right.schema[right_ts].dataType, True)]
        + [T.StructField(f"{c}{suffix}", right.schema[c].dataType, True) for c in right_cols]
    )
    out_names = [f.name for f in out_schema.fields]
    r_sort = [right_ts] + ([tiebreak] if tiebreak else [])
    r_keep = [right_ts, *right_cols]

    def merge(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        if len(l) == 0:
            return pd.DataFrame({n: [] for n in out_names})
        out = l.copy()
        if len(r) == 0:
            for n in new_names:
                out[n] = None
            return out[out_names]
        r2 = r.sort_values(r_sort, kind="mergesort")
        # last right row with ts <= left ts: searchsorted 'right' puts
        # equal timestamps before the insertion point (inclusive match)
        idx = np.searchsorted(r2[right_ts].values, l[left_ts].values, side="right") - 1
        safe = np.clip(idx, 0, None)
        miss = idx < 0
        # NULL left timestamps match NOTHING (the window form sorts
        # them before every right row); searchsorted would treat NaT
        # as +inf and attach the LAST right payload (r5 review)
        miss = miss | pd.isna(l[left_ts].values)
        for src, dst in zip(r_keep, new_names):
            vals = pd.Series(r2[src].values[safe], index=out.index)
            out[dst] = vals.mask(miss)
        return out[out_names]

    return (
        left.groupBy(*on)
        .cogroup(right.groupBy(*on))
        .applyInPandas(merge, schema=out_schema)
    )
