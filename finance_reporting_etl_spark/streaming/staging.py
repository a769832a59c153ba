"""Deterministic file-stream replay staging (catalog test harness).

Structured Streaming's file source orders micro-batches by file
modification time. Every streaming catalog query replays a bounded
fixture through a real stream (`Trigger.AvailableNow` +
`maxFilesPerTrigger`), so correctness of watermark eviction, state
timeout and append emission depends on a reproducible arrival order.
These helpers hold that plumbing:

- :func:`stage_microbatches` writes each batch DataFrame as ONE
  parquet file with a fixed, strictly increasing mtime — the replay
  arrival order is then deterministic on any filesystem.
- :func:`run_file_stream` owns the tempdir lifecycle: write source,
  start the stream, await bounded termination (a timed-out stream
  would leave a partially-populated sink — fail loudly instead of
  returning a wrong answer), snapshot the result off the sink with
  ``localCheckpoint`` so it survives the tempdir cleanup.
- :func:`fold_stream` is the one ``foreachBatch`` start: an
  AvailableNow stream, one source file per micro-batch, each batch
  handed to a fold function.
- :func:`replay_partials` is :func:`run_file_stream` plus
  :func:`fold_stream` for folds that write one partial per batch and
  merge the partials at read-back (the other fold shape, state
  rewritten per batch, is ``merge.state_fold``).
- :func:`stage_chronological_streams` stages the events fixture as
  per-event-type 2-file chronological sources with an EMPTY epilogue
  file, the shape stream-stream outer joins need (the epilogue forces
  a final micro-batch that runs with the watermark derived from the
  last data batch, so null-pad emission does not depend on whether a
  trailing no-data batch gets scheduled — timing-sensitive under
  load).

Production pipelines point the same streaming operators at real
object-store prefixes; only this staging layer is test-specific.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from finance_reporting_etl_spark.tables import _read_parquet


def stage_microbatches(
    batches: Sequence[DataFrame],
    src_dir: str,
    base_mtime: int = 1_700_000_000,
    step: int = 100,
) -> str:
    """Write each DataFrame as one parquet file under ``src_dir`` with
    strictly increasing mtimes, so a file stream with
    ``maxFilesPerTrigger=1`` replays them as ordered micro-batches.
    Empty DataFrames are staged too (epilogue batches).

    All non-empty batches land in ONE tagged, batch-partitioned write
    job (``repartition(tag)`` puts every row of a batch in a single
    task, so each partition directory holds exactly one file) instead
    of one coalesce(1) job per batch — the per-query staging cost of
    the 16 streaming replays was dominated by those serial one-task
    jobs. Batch content is unchanged; within-batch row order is not
    part of any replay's contract (micro-batch folds are order-free by
    design, which is what each streaming==batch oracle proves).

    All batches must share ONE schema (they are unioned into the
    single tagged write — a requirement the old per-batch coalesce(1)
    writes did not have); ``batches`` must be non-empty (ADVICE r14)."""
    if not batches:
        raise ValueError("stage_microbatches: batches must be non-empty")
    os.makedirs(src_dir, exist_ok=True)
    tagged = None
    for i, b in enumerate(batches):
        t = b.withColumn("__mb", F.lit(i))
        tagged = t if tagged is None else tagged.unionByName(t)
    stage = f"{src_dir}_stage"
    tagged.repartition("__mb").write.mode("overwrite").partitionBy(
        "__mb"
    ).parquet(stage)
    for i, b in enumerate(batches):
        part_dir = f"{stage}/__mb={i}"
        dst = f"{src_dir}/batch{i}.parquet"
        if os.path.isdir(part_dir):
            parts = [
                x for x in os.listdir(part_dir) if x.endswith(".parquet")
            ]
            assert len(parts) == 1, (
                f"batch {i}: expected one file after repartition, got "
                f"{parts}"
            )
            shutil.copy(f"{part_dir}/{parts[0]}", dst)
        else:
            # empty batch (epilogue): no partition dir was written —
            # stage it the old way so the schema-carrying empty file
            # still forces its no-data micro-batch
            empty_stage = f"{src_dir}_stage_empty{i}"
            b.coalesce(1).write.mode("overwrite").parquet(empty_stage)
            part = next(
                x for x in os.listdir(empty_stage) if x.endswith(".parquet")
            )
            shutil.copy(f"{empty_stage}/{part}", dst)
        os.utime(dst, (base_mtime + i * step,) * 2)
    return src_dir


def run_file_stream(
    spark: SparkSession,
    write_source: Callable[[str], None],
    start_stream: Callable[[str, object, str], object],
    read_result: Callable[[str], DataFrame],
    timeout: int = 300,
    label: str = "stream",
    infer_schema: bool = True,
) -> DataFrame:
    """Full replay lifecycle around a tempdir named after ``label``:
    ``write_source(src)`` stages the input files,
    ``start_stream(src, schema, tmp)`` returns
    the StreamingQuery (checkpoint/output paths live under ``tmp``),
    ``read_result(tmp)`` reads the sink. The result is snapshotted
    with ``localCheckpoint(eager=True)`` before the tempdir is
    removed. Pass ``infer_schema=False`` when ``src`` holds per-stream
    SUBdirectories (multi-source replays) — the parent has no single
    schema; ``start_stream`` then receives None and derives
    schemas from its own subdirs."""
    tmp = tempfile.mkdtemp(prefix=f"{label}_")
    try:
        src = f"{tmp}/src"
        write_source(src)
        schema = _read_parquet(spark, src).schema if infer_schema else None
        q = start_stream(src, schema, tmp)
        if not q.awaitTermination(timeout):
            q.stop()
            raise TimeoutError(f"{label} did not finish within {timeout}s")
        out = read_result(tmp).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# one source file per micro-batch: the staged files are the batches
FILES_PER_TRIGGER = 1


def fold_stream(
    spark: SparkSession,
    src: str,
    schema,
    checkpoint_dir: str,
    fold: Callable[[DataFrame, int], None],
):
    """Start an AvailableNow file stream over ``src`` that calls
    ``fold(batch, batch_id)`` on each micro-batch through
    ``foreachBatch``; returns the StreamingQuery."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", FILES_PER_TRIGGER)
        .parquet(src)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def replay_partials(
    spark: SparkSession,
    write_source: Callable[[str], None],
    batch_agg: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame], DataFrame],
    label: str,
) -> DataFrame:
    """Replay the source ``write_source(src)`` stages as micro-batches:
    each batch writes ``batch_agg(batch)`` to its own
    ``sink/batch_id=<id>`` partition, and the result is
    ``merge(partials)`` over the whole sink.

    foreachBatch is at-least-once: a retried micro-batch runs again
    under the same batch_id, so it overwrites its own partition instead
    of adding a second partial. The merge sees each batch once, and a
    mergeable aggregate (integer sums, min/max by a unique key, bottom-k
    sets) lands on the one-shot answer wherever the batch boundaries
    fall."""

    def start(src: str, schema, tmp: str):
        def fold(batch: DataFrame, batch_id: int) -> None:
            batch_agg(batch).write.mode("overwrite").parquet(
                f"{tmp}/sink/batch_id={batch_id}"
            )

        return fold_stream(spark, src, schema, f"{tmp}/ckpt", fold)

    return run_file_stream(
        spark,
        write_source,
        start,
        lambda tmp: merge(_read_parquet(spark, f"{tmp}/sink")),
        label=label,
    )


def stage_chronological_streams(
    events: DataFrame,
    types: Sequence[str] = ("view", "purchase"),
    base_dir: str | None = None,
):
    """Stage each event type of the (user_id, ts, event_type) events
    frame as a 2-file chronological stream source plus an empty
    epilogue file (see module docstring). With ``base_dir`` given the
    sources land under it (the :func:`run_file_stream` write_source
    shape) and only ``{type: source_dir}`` is returned; otherwise a
    fresh tempdir is created and ``(tmpdir, dirs)`` is returned with
    the caller owning cleanup."""
    ev = events.select("user_id", "ts", "event_type")
    mid = ev.agg(
        F.timestamp_micros(
            ((F.unix_micros(F.min("ts")) + F.unix_micros(F.max("ts"))) / 2).cast("long")
        ).alias("m")
    ).collect()[0]["m"]
    own_tmp = base_dir is None
    tmp = tempfile.mkdtemp(prefix="stream_join_") if own_tmp else base_dir
    dirs = {}
    for typ in types:
        d = f"{tmp}/{typ}s"
        halves = (
            (F.col("ts") <= mid),
            (F.col("ts") > mid),
            F.lit(False),  # empty epilogue batch
        )
        stage_microbatches(
            [
                ev.filter((F.col("event_type") == typ) & half).select("user_id", "ts")
                for half in halves
            ],
            d,
        )
        dirs[typ] = d
    return dirs if not own_tmp else (tmp, dirs)
