"""Incremental loading: append + merge-on-key (SURVEY §2.10 O5).

The reference gestures at incremental loading for scale-up
(README.md:558) without implementing it. Design here: daily batches
append to a date-partitioned table; consumers read through
``merge_latest`` which collapses to the newest version per business key
— the MERGE-less pattern that works on plain Parquet at any scale
(partition-pruned reads + one window per key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from finance_reporting_etl_spark.tables import _read_parquet


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
    step 2 moved live aside — identical to compact_partition's
    documented crash policy. Single-writer only.

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


def append_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "append",
) -> None:
    """Partition-wise append — the hypertable-style write
    (README.md:268 create_hypertable ≙ partitionBy on the time column)."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def overwrite_partitions_dynamic(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
) -> None:
    """Idempotent daily re-load: overwrite ONLY the partitions present
    in ``df``, leaving all others untouched
    (``spark.sql.sources.partitionOverwriteMode=dynamic``).

    This is the correct replay semantics for a backfill/late-restate
    job at 100 TB: re-running a day rewrites that day's directory
    atomically per partition instead of truncating the table (static
    overwrite) or duplicating rows (append). Restores the session's
    prior mode on exit.
    """
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    finally:
        spark.conf.set(key, prev)


def read_evolved(spark, path: str) -> DataFrame:
    """Schema-on-read union over snapshots with evolved schemas:
    ``mergeSchema`` reconciles parquet files that gained columns over
    time (added columns read as NULL for old files). The per-file
    footer drives the merge — no rewrite of historical data, the
    standard additive-evolution path for an append-only table."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def retain(df: DataFrame, ts_col: str, horizon) -> DataFrame:
    """S12 retention window: rows at or after ``horizon``.

    The reference manages retention with an S3 lifecycle policy
    (readme.md:398-427: raw data kept 90 days, then tiered out); the
    engine-side analog is this filter for reads plus
    ``drop_expired_partitions`` for storage. The predicate pushes to the
    parquet scan, and on a time-partitioned table it prunes whole
    partitions before any file is opened.
    """
    return df.filter(F.col(ts_col) >= F.lit(horizon))


def drop_expired_partitions(
    spark, path: str, partition_col: str, horizon_value: str
) -> list[str]:
    """Partition-drop compaction for a ``partitionBy(partition_col)``
    parquet table: delete every ``col=value`` directory with
    ``value < horizon_value`` (lexicographic — correct for ISO dates and
    zero-padded keys). No data rewrite: expiry is O(#partitions) metadata
    ops, the same shape as TimescaleDB's drop_chunks / the S3 lifecycle
    rule. Uses Spark's Hadoop FileSystem so it works on HDFS/S3A paths
    as well as local ones. Returns the dropped partition values.
    """
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    prefix = f"{partition_col}="
    dropped: list[str] = []
    if not fs.exists(p):
        return dropped
    for status in fs.listStatus(p):
        if not status.isDirectory():
            continue
        name = status.getPath().getName()
        if not name.startswith(prefix):
            continue
        value = name[len(prefix):]
        if value < horizon_value:
            # Hadoop delete() returns False on failure instead of
            # throwing — reporting an undropped partition as dropped
            # would let expired data silently persist (review)
            if not fs.delete(status.getPath(), True):
                raise IOError(
                    f"failed to delete expired partition {status.getPath()}"
                )
            dropped.append(value)
    return dropped


def upsert_parquet(
    spark,
    existing_path: str,
    incoming: DataFrame,
    keys: list[str],
    order_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Read-merge view over existing + incoming (no rewrite): union by
    name then latest-per-key. For true compaction, write the result back
    partition-by-partition during low-traffic windows."""
    existing = _read_parquet(spark, existing_path)
    merged = existing.unionByName(incoming, allowMissingColumns=True)
    return merge_latest(merged, keys, order_col, tiebreak_col)


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


def compact_partition(
    spark,
    path: str,
    partition_col: str,
    partition_value: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction for one partition of a
    ``partitionBy(partition_col)`` parquet table: rewrite the
    ``col=value`` directory into ``ceil(bytes / target_bytes)`` files.

    Streaming/incremental appends leave each partition with one file
    per micro-batch/task — at 100 TB that is millions of kilobyte
    files, and scan planning (file listing + footer reads) dominates
    query time. Nightly compaction to scan-sized files (default 128 MiB,
    matching ``spark.sql.files.maxPartitionBytes``) is the standard
    maintenance pass. The rewrite is atomic-enough for a single-writer
    table (write to ``_compact_tmp``, then swap); concurrent-writer
    tables need a table format with transactions (Delta/Iceberg).

    Returns the resulting file count.
    """
    import math

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    part_dir = f"{path}/{partition_col}={partition_value}"
    p = jvm.org.apache.hadoop.fs.Path(part_dir)
    fs = p.getFileSystem(conf)
    if not fs.exists(p):
        return 0
    total = fs.getContentSummary(p).getLength()
    n_files = max(1, math.ceil(total / target_bytes))
    df = _read_parquet(spark, part_dir)
    tmp = f"{path}/_compact_tmp_{partition_col}={partition_value}"
    df.repartition(n_files).write.mode("overwrite").parquet(tmp)
    # swap via rename-aside (checked_swap): old data survives as
    # _compact_old until the new files are in place; every rename
    # boolean is checked so a silent failure can't orphan the backup
    # delete. The unrecoverable window is a single rename.
    old = jvm.org.apache.hadoop.fs.Path(
        f"{path}/_compact_old_{partition_col}={partition_value}"
    )
    HPath = jvm.org.apache.hadoop.fs.Path
    checked_swap(fs, p, HPath(tmp), old)
    return sum(
        1
        for s in fs.listStatus(p)
        if s.getPath().getName().endswith(".parquet")
    )


def forget_keys(
    spark,
    path: str,
    partition_col: str,
    key_col: str,
    keys: list,
) -> int:
    """Right-to-be-forgotten delete on a ``partitionBy(partition_col)``
    parquet table WITHOUT a full-table rewrite: a pruned scan finds the
    partitions that actually contain the keys, and only those are
    rewritten (anti-filtered, staged, rename-aside swapped — the
    compact_partition crash policy). Untouched partitions keep their
    files byte-for-byte, which at 100 TB is the difference between a
    bounded nightly job and rewriting the lake.

    The affected-partition list is a driver collect bounded by the
    number of partitions a subject can appear in (days x user), not by
    data size. Single-writer; transactional formats (Delta/Iceberg)
    subsume this with deletion vectors.

    Returns the number of partitions rewritten.
    """
    df = _read_parquet(spark, path)
    affected = [
        r[0]
        for r in df.filter(F.col(key_col).isin(keys))
        .select(partition_col)
        .distinct()
        .collect()
    ]
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    HPath = jvm.org.apache.hadoop.fs.Path
    for pv in affected:
        part_dir = f"{path}/{partition_col}={pv}"
        # NULL-keyed rows (e.g. anonymous events) must SURVIVE the
        # rewrite: ~isin(keys) evaluates to NULL for NULL keys and
        # filter drops NULL predicates — without the isNull() arm a
        # GDPR delete would silently destroy unrelated rows (review)
        keep = _read_parquet(spark, part_dir).filter(
            (~F.col(key_col).isin(keys)) | F.col(key_col).isNull()
        )
        tmp = f"{path}/_forget_tmp_{partition_col}={pv}"
        keep.write.mode("overwrite").parquet(tmp)
        p = HPath(part_dir)
        fs = p.getFileSystem(conf)
        old = HPath(f"{path}/_forget_old_{partition_col}={pv}")
        checked_swap(fs, p, HPath(tmp), old)
    return len(affected)
