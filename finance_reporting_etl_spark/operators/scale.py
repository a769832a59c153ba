"""Scale patterns: skew-salted joins and bucketed (shuffle-free) joins.

The two shuffle pathologies a 100 TB join hits, and their standard
remedies as reusable operators:

- **Skew** — one hot key funnels into one reducer task. AQE's skew-join
  splitting (on in ``session.get_spark``) handles sort-merge joins
  automatically; ``salted_join`` is the explicit fallback for the cases
  AQE can't re-plan (e.g. aggregation-feeding joins, or when a
  deterministic layout is needed). Salting fans each hot key out over N
  sub-keys: the big side gets a deterministic pseudo-random salt, the
  small(er) side is replicated N ways, and the join key becomes
  (key, salt) — N reducers share what one did before, at the cost of
  replicating the right side N times (use per-key salting of only the
  hot keys when replication is too dear).

- **Repeated co-located joins** — two fact tables joined on the same
  key every day pay the same two shuffles every day. Bucketing
  (``write_bucketed``) pre-shuffles ONCE at write time:
  ``bucketBy(n, key)`` stores hash-partitioned buckets so Spark's
  planner proves both sides share the partitioning and plans a
  sort-merge join with NO Exchange on either side.

Layout: ``zorder_key`` is the Morton interleave behind two-column
zone-map pruning, with ``zorder_sql`` as its SQL twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from finance_reporting_etl_spark.functions.scalars import det_round


def salted_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    n_salts: int = 8,
    how: str = "inner",
    row_id_col: str | None = None,
) -> DataFrame:
    """Skew-resistant equi-join: salt the (big, skewed) left side,
    replicate the right side ``n_salts`` ways, join on keys + salt.

    Semantically identical to ``left.join(right, keys, how)`` for
    ``inner`` and ``left`` joins (each left row carries exactly one
    salt, and its key's right-side rows exist at every salt).

    The salt must be DETERMINISTIC: it feeds a shuffle/join key, and a
    nondeterministic expression (``monotonically_increasing_id``,
    ``rand``) recomputed on task retry can route an already-fetched row
    to a different salt — duplicating or dropping joined rows exactly in
    the large-fault-domain runs this operator exists for (ADVICE r5).
    Two deterministic derivations:

    - ``row_id_col`` given: salt = hash(keys..., row_id). Spreads even
      fully-duplicate payload rows of a hot key (ids differ), the ideal
      layout. Use when the left side carries a unique id (most fact
      tables do).
    - default: salt = hash(all left columns). Fully-duplicate rows of a
      hot key co-locate on one salt — the skew relief then degrades
      toward the duplicate multiplicity, but correctness and retry
      determinism hold unconditionally.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    if row_id_col is not None:
        salt_input = F.struct(
            *[F.col(c) for c in keys], F.col(row_id_col)
        )
    else:
        salt_input = F.struct(*[F.col(c) for c in left.columns])
    salt = F.pmod(F.xxhash64(salt_input), F.lit(n_salts))
    l_salted = left.withColumn("__salt", salt.cast("int"))
    r_replicated = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return l_salted.join(r_replicated, [*keys, "__salt"], how).drop("__salt")


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` hash-bucketed (and optionally sorted) on the join
    key — the pay-once shuffle that makes every later equi-join on
    ``bucket_cols`` exchange-free."""
    if mode == "overwrite":
        # a managed table's LOCATION can outlive its catalog entry
        # (another process created it; this session's in-memory catalog
        # never heard of it) and saveAsTable then refuses the dir with
        # LOCATION_ALREADY_EXISTS — drop both the entry and any
        # orphaned location before writing. The location is derived the
        # way the session catalog lays out managed tables (warehouse
        # root for `default`, a `<db>.db` subdir otherwise — r5
        # review). NOT safe against two drivers overwriting the SAME
        # table name concurrently (one deletes while the other scans);
        # callers namespace table names per run (see
        # q_bucketed_join_rollup's run-id suffix).
        spark = df.sparkSession
        spark.sql(f"DROP TABLE IF EXISTS `{table_name}`")
        db = spark.catalog.currentDatabase()
        wh = spark.conf.get("spark.sql.warehouse.dir")
        loc = (
            f"{wh}/{table_name.lower()}"
            if db == "default"
            else f"{wh}/{db.lower()}.db/{table_name.lower()}"
        )
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(loc)
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(p):
            fs.delete(p, True)
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    keys: list[str],
    how: str = "inner",
) -> DataFrame:
    """Join two tables previously written with ``write_bucketed`` on the
    same keys/bucket count. Disables broadcast so the planner proves
    the bucket-partitioning match and emits a zero-Exchange sort-merge
    join (broadcast would hide the property being exercised)."""
    left = spark.table(left_table).hint("merge")
    right = spark.table(right_table).hint("merge")
    return left.join(right, keys, how)


def zorder_key(x: "Column | str", y: "Column | str", bits: int = 16) -> Column:
    """Morton (Z-order) key: interleave the low ``bits`` bits of two
    non-negative int columns — bit i of x lands at position 2i, bit i
    of y at 2i+1.

    Sorting by a single column gives perfect zone maps on THAT column
    and none on any other; sorting by the Morton code gives both
    columns locality at once (each row group covers a small square of
    the (x, y) domain), so selective filters on EITHER column prune row
    groups. This is the layout trick Delta/Iceberg OPTIMIZE ZORDER
    applies, expressed as a pure Catalyst bit expression — codegen'd,
    no UDF. Inputs must fit ``bits`` bits (pre-bucket wider domains).
    """
    xc = F.col(x) if isinstance(x, str) else x
    yc = F.col(y) if isinstance(y, str) else y
    xc, yc = xc.cast("long"), yc.cast("long")
    key = F.lit(0).cast("long")
    for i in range(bits):
        key = (
            key
            .bitwiseOR(F.shiftleft(F.shiftright(xc, i).bitwiseAND(F.lit(1)), 2 * i))
            .bitwiseOR(F.shiftleft(F.shiftright(yc, i).bitwiseAND(F.lit(1)), 2 * i + 1))
        )
    return key


def zorder_sql(x_sql: str, y_sql: str, bits: int = 8) -> str:
    """ANSI-SQL twin of :func:`zorder_key` over arbitrary non-negative
    integer expressions — emitted beside the Spark bit expression so a
    DuckDB oracle interleaves with the identical term table."""
    # every term fully parenthesized: Postgres-family grammars give
    # |, &, << the SAME precedence (left-assoc), so an unparenthesized
    # `a | b << 2` parses as `(a | b) << 2` and overflows
    terms = []
    for i in range(bits):
        terms.append(f"(((({x_sql}) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((({y_sql}) >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"


def join_key_skew_profile(df, key_col: str, k: int = 20):
    """The audit you run BEFORE a big join: per-key row counts, share
    of the table, and skew factor (count / mean count). Keys with
    skew_factor in the hundreds want salting (salted_aggregate above)
    or AQE skew-split. One map-side-combined aggregate plus a 1-row
    scalar broadcast; TakeOrderedAndProject does the top-k. Returns
    (key, n, share, skew_factor, rank)."""
    from pyspark.sql import Window

    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    t = counts.agg(
        F.sum("n").cast("double").alias("__tot"),
        F.count(F.lit(1)).alias("__n_keys"),
    )
    top = (
        counts.crossJoin(F.broadcast(t))
        .select(
            "key",
            "n",
            det_round(F.col("n").cast("double") / F.col("__tot"), 6).alias("share"),
            det_round(
                F.col("n").cast("double") * F.col("__n_keys") / F.col("__tot"), 6
            ).alias("skew_factor"),
        )
        .orderBy(F.desc("n"), "key")
        .limit(k)
    )
    wr = Window.orderBy(F.desc("n"), "key")
    return top.select(
        "key", "n", "share", "skew_factor",
        F.row_number().over(wr).cast("long").alias("rank"),
    )


def compaction_plan(
    files: DataFrame,
    partition_cols: list[str],
    file_id_col: str,
    size_col: str,
    target_bytes: int,
) -> DataFrame:
    """Small-file compaction planner — the lakehouse maintenance job a
    100 TB table needs continuously (streaming ingest leaves thousands
    of KB-scale files per partition; scans then pay one task + one
    open per file).

    Groups each partition's files into rewrite bins of ~``target_bytes``
    with the SQL-expressible next-fit-decreasing rule: order files by
    size DESC (then file id, so the plan is deterministic), take the
    EXCLUSIVE running sum, and bin = excl_cumsum div target. One
    window per partition — the window is per-PARTITION, never global,
    so the plan itself scales with the table. Oversized files (size >=
    target) land alone in their leading bins, exactly what a compactor
    wants (rewrite them only if splitting). Emits the per-file plan:
    partition, file, size, bin_id.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(F.col(size_col).desc(), F.col(file_id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    excl = F.coalesce(F.sum(size_col).over(w), F.lit(0)).cast("bigint")
    # exact integer division (`div`), not float `/` + cast: cumulative
    # sizes past 2^53 bytes would round in the double and could
    # misassign boundary files
    return files.select(
        *partition_cols,
        file_id_col,
        F.col(size_col).cast("bigint").alias(size_col),
        excl.alias("__excl"),
    ).withColumn(
        "bin_id", F.expr(f"__excl div {int(target_bytes)}").cast("bigint")
    ).drop("__excl")
