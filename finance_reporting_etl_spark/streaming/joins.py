"""Watermarked stream-stream joins (SURVEY §2.8 extension).

The batch twin is ``operators/rangejoin.py``'s bucketed interval join;
this is the *continuous* form: two unbounded streams joined on an
equality key plus an event-time range, with watermarks on BOTH sides so
Spark can bound the join state (each side buffers only rows younger than
its watermark minus the time-range slack — see the Structured Streaming
guide's stream-stream join state-cleanup rules).

At 100 TB/day this is the only join shape that works on live data: the
equality key partitions both streams' state, the time bound caps how
long a row is retained, and no micro-batch ever re-reads history.

Join-type semantics under the same machinery:
- ``inner`` — matches emit as soon as both rows have arrived; the
  watermark governs state EVICTION only, so a bounded chronological
  replay equals the batch join exactly.
- ``leftOuter`` — inner matches emit on arrival, but a NULL-padded row
  for an unmatched left row can only emit once the watermark proves no
  future right row can match (global watermark > left_ts + max_delay);
  unmatched rows whose window is still open when the stream drains stay
  in state and emit NOTHING. That asymmetry is the semantic difference
  vs a batch left join, and exactly what the left-outer oracle encodes.

Reference parity: the reference's Airflow DAG joins each day's fetched
batch against the warehouse (etl_dag.py load step); this is the same
correlation expressed as a continuous operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from finance_reporting_etl_spark.functions.scalars import det_round
from finance_reporting_etl_spark.tables import _read_parquet
from pyspark.sql import types as T


def interval_join_plan(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    max_delay: str,
    how: str = "inner",
) -> DataFrame:
    """Shared logical plan: equality on ``key`` + ``right_ts`` in
    (``left_ts``, ``left_ts`` + ``max_delay``]. Works identically in
    batch and streaming — the streaming caller adds watermarks first."""
    return left.join(
        right,
        [
            left[key] == right[key],
            right[right_ts] > left[left_ts],
            right[right_ts] <= left[left_ts] + F.expr(f"INTERVAL {max_delay}"),
        ],
        how,
    ).select(
        left[key].alias(key),
        left[left_ts].alias(left_ts),
        right[right_ts].alias(right_ts),
    )


def streaming_interval_join_to_files(
    spark: SparkSession,
    left_dir: str,
    right_dir: str,
    schema: T.StructType,
    checkpoint_dir: str,
    output_dir: str,
    key: str = "user_id",
    left_ts: str = "view_ts",
    right_ts: str = "purchase_ts",
    max_delay: str = "1 DAY",
    watermark: str = "2 days",
    max_files_per_trigger: int | None = 1,
    how: str = "inner",
):
    """AvailableNow stream-stream join (``how``: inner / leftOuter),
    append to parquet (the scale-safe sink). Both sides carry the same
    watermark; see the module docstring for per-join-type emission
    semantics."""

    def rd(d: str):
        r = spark.readStream.schema(schema)
        if max_files_per_trigger is not None:
            r = r.option("maxFilesPerTrigger", str(max_files_per_trigger))
        return r.parquet(d)

    lt = rd(left_dir).withColumnRenamed("ts", left_ts).withWatermark(left_ts, watermark)
    rt = rd(right_dir).withColumnRenamed("ts", right_ts).withWatermark(right_ts, watermark)
    joined = interval_join_plan(lt, rt, key, left_ts, right_ts, max_delay, how)
    return (
        joined.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def replay_interval_join(spark, events, how: str):
    """Stage the events frame as chronological view/purchase streams
    (see ``staging.stage_chronological_streams``) and run the
    stream-stream interval join replay through the shared
    ``staging.run_file_stream`` lifecycle (one copy of the
    tempdir/await/snapshot plumbing — r5 review)."""
    from finance_reporting_etl_spark.streaming.staging import (
        run_file_stream,
        stage_chronological_streams,
    )

    return run_file_stream(
        spark,
        lambda src: stage_chronological_streams(events, base_dir=src),
        lambda src, schema, tmp: streaming_interval_join_to_files(
            spark,
            f"{src}/views",
            f"{src}/purchases",
            _read_parquet(spark, f"{src}/views").schema,
            checkpoint_dir=f"{tmp}/ckpt",
            output_dir=f"{tmp}/out",
            how=how,
        ),
        lambda tmp: _read_parquet(spark, f"{tmp}/out"),
        label=f"streaming_{how}_interval_join",
        infer_schema=False,  # src holds views/ + purchases/ subdirs
    )


def streaming_static_dim_rollup(
    spark,
    source_dir: str,
    schema,
    dim,
    checkpoint_dir: str,
    output_table: str,
    stream_key: str = "user_id",
    dim_key: str = "c_custkey",
    dim_attr: str = "c_mktsegment",
    attr_alias: str = "segment",
    group_col: str = "event_type",
    value_col: str = "value",
    max_files_per_trigger: int = 1,
):
    """Stream-static enrich-then-aggregate: each micro-batch broadcast-
    joins the static dimension (re-planned per batch, no stream-stream
    state) before a running (dim attr x group) aggregate to a
    complete-mode memory sink. The standard layout for slowly-changing
    dims at scale — keep the dim a table, reserve stateful joins for
    two genuinely unbounded sides."""
    from pyspark.sql import functions as F

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(source_dir)
    )
    agg = (
        stream.join(F.broadcast(dim), stream[stream_key] == dim[dim_key])
        .groupBy(F.col(dim_attr).alias(attr_alias), group_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            det_round(F.sum(value_col), 6).alias("total_value"),
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
