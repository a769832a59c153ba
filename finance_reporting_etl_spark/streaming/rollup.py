"""Hypertable-style time rollups (SURVEY §2.1 S9, §2.8).

The reference's TimescaleDB hypertable (README.md:268) is time
partitioning, and its cadence is daily batch — so the core rollup is a
**batch** ``F.window`` aggregation. ``streaming_rollup`` offers the
Structured Streaming ``Trigger.AvailableNow`` upgrade: the same logical
aggregation over a file stream with a watermark, emulating the daily
append without a long-running job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from finance_reporting_etl_spark.functions.scalars import det_round


def time_bucket_rollup(
    events: DataFrame,
    bucket: str = "1 hour",
    ts_col: str = "ts",
    group_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
) -> DataFrame:
    """Tumbling-window aggregate (batch mode): count + sum + avg per
    bucket x group. ``F.window`` works identically in batch and
    streaming, so this is the shared logical plan.

    Exactness (r8 hardening): the value rolls up as INTEGER cents —
    a float SUM is accumulation-order-sensitive and diverged from the
    oracle at sf0.1 (10x the gate scale) — and the mean is a floor
    division to 1e-6 units, so both emitted floats are exact decimal
    conversions at any SF. NULL values carry no mass and no count
    (matching AVG semantics); an all-NULL bucket emits NULLs."""
    cents = F.round(F.col(value_col) * 100).cast("long")
    return (
        events.groupBy(F.window(F.col(ts_col), bucket).alias("w"), *group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents).alias("__sc"),
            F.count(value_col).alias("__nv"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            *group_cols,
            "n_events",
            det_round(F.col("__sc") / 100.0, 2).alias("total_value"),
            det_round(
                F.expr("__sc * 10000 div nullif(__nv, 0)") / 1000000.0, 6
            ).alias("avg_value"),
        )
    )


def _stream_agg(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    bucket: str,
    ts_col: str,
    watermark: str,
    group_cols: tuple[str, ...],
    value_col: str,
    max_files_per_trigger: int | None = None,
    slide: str | None = None,
) -> DataFrame:
    """Shared streaming logical plan: file stream -> watermark -> windowed
    count/sum — identical to ``time_bucket_rollup``'s batch plan.

    ``slide`` < ``bucket`` makes the windows SLIDING: each event lands
    in bucket/slide overlapping windows (Spark expands them map-side —
    no self-join), and streaming state holds that many concurrent open
    windows per group; the watermark still closes and evicts each
    window exactly once, so state stays bounded by
    (horizon/slide) x groups."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(source_dir)
    win = (
        F.window(F.col(ts_col), bucket, slide)
        if slide
        else F.window(F.col(ts_col), bucket)
    )
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), *group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            det_round(F.sum(value_col), 6).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), *group_cols, "n_events", "total_value")
    )


def streaming_rollup(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    checkpoint_dir: str,
    output_table: str = "rollup_stream",
    bucket: str = "1 hour",
    ts_col: str = "ts",
    watermark: str = "2 hours",
    group_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    slide: str | None = None,
):
    """AvailableNow streaming version: processes everything currently in
    ``source_dir`` then stops — the daily-append cadence as a restartable
    incremental job. Watermark bounds state for late data.

    BOUNDED-REPLAY DEMO ONLY: 'complete' mode + memory sink materializes
    the whole result on the driver every trigger — right for the oracle
    comparison and small rollups, a driver-killer for a 100 TB rollup
    table. The scale-safe form is ``streaming_rollup_to_files`` (append
    mode, executor-side parquet writes, bounded state).

    Returns the StreamingQuery; caller awaits termination then reads
    ``spark.table(output_table)``.
    """
    agg = _stream_agg(
        spark, source_dir, schema, bucket, ts_col, watermark, group_cols, value_col,
        slide=slide,
    )
    return (
        agg.writeStream.format("memory")
        .queryName(output_table)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_rollup_to_files(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    checkpoint_dir: str,
    output_dir: str,
    bucket: str = "1 hour",
    ts_col: str = "ts",
    watermark: str = "2 hours",
    group_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    max_files_per_trigger: int | None = None,
):
    """Scale-safe sink: append-mode parquet. Windows are written by
    executors when the watermark closes them, exactly once per window —
    nothing ever accumulates on the driver, and state holds only open
    windows (bounded by watermark horizon x group cardinality).

    Append-mode semantics to test against: a window lands in the output
    only after the watermark passes its end, so windows still open when
    input is exhausted (those within ``watermark`` of the max event time)
    stay in state for the next incremental run — the correct behavior
    for a forever-append pipeline, and the difference a bounded-replay
    comparison must account for.

    ``max_files_per_trigger=1`` turns each source file into its own
    micro-batch, which is how the late-data tests stage controlled
    arrival orders (watermark advances between files, not within one).
    """
    agg = _stream_agg(
        spark,
        source_dir,
        schema,
        bucket,
        ts_col,
        watermark,
        group_cols,
        value_col,
        max_files_per_trigger=max_files_per_trigger,
    )
    return (
        agg.writeStream.format("parquet")
        .option("path", output_dir)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Session windows (gap-based) in batch mode via session_window —
    the stateful-operator shape Structured Streaming would use
    (applyInPandasWithState is the custom-logic escape hatch)."""
    return (
        events.groupBy(F.session_window(F.col(ts_col), gap).alias("w"), user_col)
        .agg(F.count(F.lit(1)).alias("n_events"), det_round(F.sum(value_col), 6).alias("total_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            user_col,
            "n_events",
            "total_value",
        )
    )


def streaming_sessionize(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    checkpoint_dir: str,
    output_table: str = "session_stream",
    gap: str = "30 minutes",
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
    watermark: str = "90 days",
    max_files_per_trigger: int = 1,
):
    """TRUE streaming session windows: ``session_window`` over a file
    stream, one file per micro-batch (``maxFilesPerTrigger=1``), so
    partial sessions open in one micro-batch and MERGE with events
    arriving in later ones — the cross-batch session-state machinery a
    long-running clickstream job exercises, not a single-batch replay.

    BOUNDED-REPLAY DEMO ONLY (same caveat as ``streaming_rollup``):
    'complete' + memory sink materializes results on the driver for the
    oracle comparison; a production deployment uses append mode with a
    watermark sized to the lateness SLA, where a session is emitted
    exactly once, when the watermark passes its close.
    """
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("w"), user_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            det_round(F.sum(value_col), 6).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            user_col,
            "n_events",
            "total_value",
        )
    )
    return (
        agg.writeStream.format("memory")
        .queryName(output_table)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def ohlc_partials(batch: DataFrame) -> DataFrame:
    """One micro-batch's PARTIAL daily OHLC bars: (first event key,
    open, last event key, close, high, low, n) per (event_type, day).
    OHLC is a MERGEABLE aggregate once open/close carry their
    (ts, event_id) keys, so partials reduce with min_by/max_by +
    min/max + sum — see ``merge_ohlc_partials``."""
    e = batch.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    k = F.struct(F.col("ts"), F.col("event_id"))
    return e.groupBy("event_type", "day").agg(
        F.min(k).alias("first_k"),
        F.min_by("cents", k).alias("open_cents"),
        F.max(k).alias("last_k"),
        F.max_by("cents", k).alias("close_cents"),
        F.max("cents").alias("high_cents"),
        F.min("cents").alias("low_cents"),
        F.count(F.lit(1)).alias("n_ticks"),
    )


def merge_ohlc_partials(partials: DataFrame) -> DataFrame:
    """Reduce per-batch OHLC partials to final bars: open follows the
    globally-first (ts, event_id) key, close the globally-last;
    high/low/n fold associatively. Exact for any batch split because
    the event key is unique."""
    return partials.groupBy("event_type", "day").agg(
        F.min_by("open_cents", "first_k").alias("open_cents"),
        F.max("high_cents").alias("high_cents"),
        F.min("low_cents").alias("low_cents"),
        F.max_by("close_cents", "last_k").alias("close_cents"),
        F.sum("n_ticks").alias("n_ticks"),
    )
