"""Incremental loading: merge-on-key, history and the publish swap
(SURVEY §2.10 O5).

The reference gestures at incremental loading for scale-up
(README.md:558) without implementing it. Design here: consumers read
through ``merge_latest``, which collapses to the newest version per
business key — the MERGE-less pattern that works on plain Parquet at
any scale (partition-pruned reads + one window per key).
``checked_swap`` is the one rename-aside swap that replaces a
maintained parquet dir (write-audit-publish, streaming state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F



def checked_swap(fs, live, staged, old) -> None:
    """Rename-aside swap with every Hadoop ``rename()`` boolean checked.

    ``FileSystem.rename`` signals failure by returning ``False``, not
    by throwing — ignoring it and then deleting the ``old`` backup can
    destroy the only surviving copy of a live table. Ordering:

    1. drop any stale ``old`` backup from a previous failed run,
    2. ``live -> old`` (skipped when no live table exists yet),
    3. ``staged -> live``; on failure roll ``old`` back to ``live``
       and raise — the backup is NEVER deleted on a failed swap,
    4. only after verifying ``live`` exists, delete ``old``.

    The unrecoverable window is the single rename in step 3 after
    step 2 moved live aside. Single-writer only.

    A backup WITHOUT a live table means a previous swap crashed after
    moving live aside — ``old`` is then the only surviving copy, so
    step 1 refuses instead of deleting it (manual recovery: rename
    ``old`` back to the live path).
    """
    had_live = fs.exists(live)
    if fs.exists(old):
        if not had_live:
            raise IOError(
                f"backup {old} exists but {live} does not — a previous "
                f"swap crashed mid-rename and {old} is the only copy; "
                f"restore it manually before retrying"
            )
        if not fs.delete(old, True):
            raise IOError(f"could not clear stale backup {old}")
    if had_live and not fs.rename(live, old):
        raise IOError(f"rename {live} -> {old} failed; live table intact")
    if not fs.rename(staged, live):
        if had_live and fs.rename(old, live):
            raise IOError(
                f"rename {staged} -> {live} failed; previous table restored"
            )
        raise IOError(
            f"rename {staged} -> {live} failed"
            + (f"; previous table preserved at {old}" if had_live else "")
        )
    if not fs.exists(live):
        raise IOError(
            f"{live} missing after swap; backup preserved at {old}"
        )
    if had_live:
        fs.delete(old, True)


def merge_latest(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Keep the latest row per key: row_number over (keys) ordered by
    order_col DESC (tiebreak ASC keeps the result deterministic)."""
    order = [F.col(order_col).desc()]
    if tiebreak_col:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def retain(df: DataFrame, ts_col: str, horizon) -> DataFrame:
    """S12 retention window: rows at or after ``horizon``.

    The reference manages retention with an S3 lifecycle policy
    (readme.md:398-427: raw data kept 90 days, then tiered out); the
    engine-side analog is this filter for reads. The predicate pushes
    to the parquet scan, and on a time-partitioned table it prunes
    whole partitions before any file is opened.
    """
    return df.filter(F.col(ts_col) >= F.lit(horizon))


def table_diff(a: DataFrame, b: DataFrame) -> DataFrame:
    """Reconciliation diff of two same-schema tables:
    (side 'a_only'|'b_only', row payload..., n_copies) — the validation
    step of any engine migration (exactly what a reference user needs to
    trust a Spark port: run old and new, diff must be empty).

    Multiset semantics via per-row counts (groupBy all columns), then a
    full outer join on the row payload — count mismatches surface as
    both sides with their copy counts. One shuffle per input on the
    full-row key (uniform unless the data is one repeated row).
    """
    cols = a.columns
    ca = a.groupBy(*cols).agg(F.count(F.lit(1)).alias("__na"))
    # NULL-safe equality on every payload column: a plain column-name
    # join never matches NULL == NULL, so identical rows containing a
    # NULL would report as a_only AND b_only — a migration diff that
    # could never come back empty (review). The b side is RENAMED
    # before the join (not aliased) so the condition stays unambiguous
    # even when a and b derive from the same source DataFrame.
    cb = b.groupBy(*cols).agg(F.count(F.lit(1)).alias("__nb"))
    for c in cols:
        cb = cb.withColumnRenamed(c, f"__b_{c}")
    cond = None
    for c in cols:
        eq = F.col(c).eqNullSafe(F.col(f"__b_{c}"))
        cond = eq if cond is None else cond & eq
    j = (
        ca.join(cb, cond, "full_outer")
        .select(
            *[F.coalesce(F.col(c), F.col(f"__b_{c}")).alias(c) for c in cols],
            "__na",
            "__nb",
        )
        .filter(~(F.col("__na").eqNullSafe(F.col("__nb"))))
    )
    a_only = j.filter(F.coalesce("__na", F.lit(0)) > F.coalesce("__nb", F.lit(0))).select(
        F.lit("a_only").alias("side"),
        *cols,
        (F.coalesce("__na", F.lit(0)) - F.coalesce("__nb", F.lit(0))).alias("n_copies"),
    )
    b_only = j.filter(F.coalesce("__nb", F.lit(0)) > F.coalesce("__na", F.lit(0))).select(
        F.lit("b_only").alias("side"),
        *cols,
        (F.coalesce("__nb", F.lit(0)) - F.coalesce("__na", F.lit(0))).alias("n_copies"),
    )
    return a_only.unionByName(b_only)


def scd2_intervals(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    attr_cols: list[str],
) -> DataFrame:
    """Slowly-changing-dimension (type 2) history builder: per key,
    order observations by ``order_col`` and emit validity intervals
    (keys..., attrs..., valid_from, valid_to) with valid_to = next
    observation's timestamp (NULL = current row).

    Collapses consecutive observations with unchanged attributes first
    (lag-compare inside the same window partition), so re-stating an
    unchanged dimension row never fragments history. One window shuffle
    on the dimension key.
    """
    w = Window.partitionBy(*keys).orderBy(order_col)
    changed = F.lit(False)
    for c in attr_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.lag(c).over(w))
    changed = changed | F.lag(order_col).over(w).isNull()
    starts = (
        df.withColumn("__chg", changed)
        .filter(F.col("__chg"))
        .drop("__chg")
    )
    w2 = Window.partitionBy(*keys).orderBy(order_col)
    return starts.select(
        *keys,
        *attr_cols,
        F.col(order_col).alias("valid_from"),
        F.lead(order_col).over(w2).alias("valid_to"),
    )

