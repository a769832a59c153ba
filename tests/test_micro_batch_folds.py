"""The two micro-batch fold shapes under retry and under empty input.

``staging.replay_partials`` claims a retried micro-batch does not
double-count: it re-runs under the same batch_id and overwrites its own
``batch_id=`` partition. ``merge.state_fold`` and ``replay_partials``
must also hand back an empty result with the right schema when every
staged batch is empty.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from finance_reporting_etl_spark.streaming.merge import streaming_merge_upsert
from finance_reporting_etl_spark.streaming.staging import (
    fold_stream,
    replay_partials,
    run_file_stream,
    stage_microbatches,
)
from finance_reporting_etl_spark.tables import _read_parquet


def _sums(df) -> dict[int, int]:
    return {r.k: r.s for r in df.groupBy("k").agg(F.sum("s").alias("s")).collect()}


def test_retried_micro_batch_does_not_double_count(spark, tmp_path):
    rows = spark.range(90).select(
        (F.col("id") % 4).alias("k"), F.col("id").alias("v")
    )
    src = str(tmp_path / "src")
    stage_microbatches([rows.filter(F.col("v") % 3 == i) for i in range(3)], src)
    schema = _read_parquet(spark, src).schema
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    seen: list[int] = []

    def fold(batch, batch_id):
        seen.append(batch_id)
        batch.groupBy("k").agg(F.sum("v").alias("s")).write.mode(
            "overwrite"
        ).parquet(f"{sink}/batch_id={batch_id}")

    def run():
        q = fold_stream(spark, src, schema, ckpt, fold)
        assert q.awaitTermination(120), "fold stream did not finish in time"

    run()
    assert seen == [0, 1, 2]
    single_run = _sums(_read_parquet(spark, sink))
    assert single_run == _sums(rows.withColumnRenamed("v", "s"))

    # batch 2 planned (offsets/2) but never committed: a restart on the
    # same checkpoint runs it again under the same batch_id
    os.remove(f"{ckpt}/commits/2")
    os.remove(f"{ckpt}/commits/.2.crc")
    run()
    assert seen == [0, 1, 2, 2]
    assert _sums(_read_parquet(spark, sink)) == single_run


def _stage_empty(spark, src: str) -> None:
    empty = spark.createDataFrame([], "k bigint, v bigint")
    stage_microbatches([empty, empty, empty], src)


def test_empty_only_replay_through_partials(spark):
    out = replay_partials(
        spark,
        lambda src: _stage_empty(spark, src),
        lambda b: b.groupBy("k").agg(F.sum("v").cast("bigint").alias("s")),
        lambda p: p.groupBy("k").agg(F.sum("s").cast("bigint").alias("s")),
        "empty_partials",
    )
    assert out.count() == 0
    assert out.schema.simpleString() == "struct<k:bigint,s:bigint>"


def test_empty_only_replay_through_merge_upsert(spark):
    out = run_file_stream(
        spark,
        lambda src: _stage_empty(spark, src),
        lambda src, schema, tmp: streaming_merge_upsert(
            spark, src, schema,
            checkpoint_dir=f"{tmp}/ckpt", target_dir=f"{tmp}/target",
            keys=["k"], order_col="v",
        ),
        lambda tmp: _read_parquet(spark, f"{tmp}/target"),
        label="empty_upsert",
    )
    assert out.count() == 0
    assert out.schema.simpleString() == "struct<k:bigint,v:bigint>"
