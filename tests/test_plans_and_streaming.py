"""Model registry semantics (ref/materialization/cycles) and the
Structured Streaming AvailableNow rollup vs its batch twin."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from finance_reporting_etl_spark.plans.registry import ModelRegistry
from finance_reporting_etl_spark.streaming.rollup import streaming_rollup, time_bucket_rollup
from finance_reporting_etl_spark.tables import _read_parquet


def test_registry_ref_order_and_materialization(spark, tmp_path):
    reg = ModelRegistry()

    @reg.model("stg_a", materialized="view")
    def stg_a(ctx):
        return ctx.ref("src").withColumn("v2", F.col("v") * 2)

    @reg.model("mart_b", materialized="table")
    def mart_b(ctx):
        return ctx.ref("stg_a").groupBy().agg(F.sum("v2").alias("total"))

    src = spark.createDataFrame([(1,), (2,), (3,)], "v long")
    out = reg.run(spark, {"src": src}, warehouse_dir=str(tmp_path))
    assert out["mart_b"].first().total == 12
    # mart persisted and re-registered: spark.sql reads the parquet-backed table
    assert spark.sql("SELECT total FROM mart_b").first().total == 12
    assert (tmp_path / "mart_b").exists()
    # view stays queryable too (Metabase read-path parity, SURVEY §3 EP3)
    assert spark.sql("SELECT sum(v2) s FROM stg_a").first().s == 12


def test_registry_cycle_detection(spark):
    reg = ModelRegistry()

    @reg.model("a")
    def a(ctx):
        return ctx.ref("b")

    @reg.model("b")
    def b(ctx):
        return ctx.ref("a")

    with pytest.raises(ValueError, match="cycle"):
        reg.run(spark, {})


def test_registry_unknown_ref(spark):
    reg = ModelRegistry()

    @reg.model("a")
    def a(ctx):
        return ctx.ref("nope")

    with pytest.raises(KeyError):
        reg.run(spark, {})


def test_streaming_rollup_matches_batch(spark, sf_dir, tmp_path):
    events = _read_parquet(spark, f"{sf_dir}/events.parquet")
    # stage as micro-batch-friendly parquet (ns ts already converted)
    src = str(tmp_path / "stream_src")
    events.write.parquet(src)
    schema = spark.read.parquet(src).schema

    q = streaming_rollup(
        spark,
        src,
        schema,
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_table="rollup_stream_test",
        bucket="1 hour",
    )
    assert q.awaitTermination(120), "stream did not finish in time"
    stream_out = spark.table("rollup_stream_test")
    batch_out = time_bucket_rollup(events, "1 hour").select(
        "window_start", "event_type", "n_events", "total_value"
    )
    a = {tuple(r) for r in stream_out.collect()}
    b = {tuple(r) for r in batch_out.collect()}
    assert a == b


def test_streaming_file_sink_matches_batch_finalized_windows(spark, sf_dir, tmp_path):
    """Append-mode parquet sink: every window the watermark closed must
    equal its batch twin; open windows (within watermark of max ts)
    legitimately stay in state for the next incremental run."""
    from finance_reporting_etl_spark.streaming.rollup import streaming_rollup_to_files

    events = _read_parquet(spark, f"{sf_dir}/events.parquet")
    src = str(tmp_path / "fsink_src")
    events.write.parquet(src)
    schema = spark.read.parquet(src).schema

    out_dir = str(tmp_path / "fsink_out")
    q = streaming_rollup_to_files(
        spark,
        src,
        schema,
        checkpoint_dir=str(tmp_path / "fsink_ckpt"),
        output_dir=out_dir,
        bucket="1 hour",
        watermark="2 hours",
    )
    assert q.awaitTermination(120), "file-sink stream did not finish in time"

    got = spark.read.parquet(out_dir)
    max_ts = events.agg(F.max("ts").alias("m")).first().m
    batch = time_bucket_rollup(events, "1 hour").select(
        "window_start", "event_type", "n_events", "total_value"
    )
    finalized = batch.filter(
        F.col("window_start") + F.expr("INTERVAL 1 HOUR")
        <= F.lit(max_ts) - F.expr("INTERVAL 2 HOURS")
    )
    a = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in finalized.collect()}
    assert len(a) > 0, "file sink emitted nothing — watermark never flushed"
    assert a == b


def test_mart_partitioned_persistence_prunes(spark, sf_dir, tmp_path, capsys):
    """partition_cols on a table model must write hive-partitioned parquet
    whose filtered reads show partition pruning in the plan."""
    from finance_reporting_etl_spark.plans.models import registry
    from finance_reporting_etl_spark.tables import load_tables

    sources = load_tables(spark, sf_dir, ("events",))
    built = registry.run(
        spark, sources, warehouse_dir=str(tmp_path), select=["economic_indicators"]
    )
    # layout: one directory per series
    part_dirs = sorted(
        p.name for p in (tmp_path / "economic_indicators").iterdir() if p.is_dir()
    )
    assert any(d.startswith("series_id=") for d in part_dirs), part_dirs

    mart = spark.read.parquet(str(tmp_path / "economic_indicators"))
    filtered = mart.filter(F.col("series_id") == "GDP")
    filtered.explain(mode="formatted")
    plan = capsys.readouterr().out
    assert "PartitionFilters" in plan and "series_id" in plan.split("PartitionFilters", 1)[1][:200]
    # pruned read returns exactly the GDP slice with original column order
    assert built["economic_indicators"].columns == ["date", "series_id", "value", "indicator_name"]
    n_gdp = filtered.count()
    n_clicks = sources["events"].filter(F.col("event_type") == "click").count()
    assert n_gdp == n_clicks


def test_stateful_running_totals_across_batches(spark, sf_dir, tmp_path):
    from finance_reporting_etl_spark.streaming.stateful import stateful_running_totals

    events = _read_parquet(spark, f"{sf_dir}/events.parquet").select("user_id", "value")
    src = str(tmp_path / "stateful_src")
    events.repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema

    q = stateful_running_totals(
        spark, src, schema,
        checkpoint_dir=str(tmp_path / "stateful_ckpt"),
        output_table="stateful_stream_test",
    )
    assert q.awaitTermination(120), "stateful stream did not finish in time"
    emitted = spark.table("stateful_stream_test")
    # maxFilesPerTrigger=1 over 4 files => at least one key updated in >1 batch
    assert emitted.agg(F.max("upd_seq")).first()[0] > 1
    final = emitted.groupBy("user_id").agg(
        F.max_by("n_events", "upd_seq").alias("n_events"),
        F.round(F.max_by("total_value", "upd_seq"), 4).alias("total_value"),
    )
    batch = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    assert final.exceptAll(batch).count() == 0
    assert batch.exceptAll(final).count() == 0


def test_streaming_dedup_drops_replayed_duplicates(spark, sf_dir, tmp_path):
    from finance_reporting_etl_spark.streaming.dedup import streaming_dedup

    events = _read_parquet(spark, f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    src = str(tmp_path / "dedup_src")
    # 3x replay: every event delivered three times
    events.unionAll(events).unionAll(events).write.parquet(src)
    schema = spark.read.parquet(src).schema

    q = streaming_dedup(
        spark,
        src,
        schema,
        checkpoint_dir=str(tmp_path / "dedup_ckpt"),
        output_table="dedup_stream_test",
    )
    assert q.awaitTermination(120), "dedup stream did not finish in time"
    got = spark.table("dedup_stream_test")
    assert got.count() == events.count()
    assert got.select("event_id").distinct().count() == events.count()
    a = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in events.collect()}
    assert a == b


def test_streaming_merge_upsert_equals_batch_merge(spark, sf_dir, tmp_path):
    from finance_reporting_etl_spark.operators.incremental import merge_latest
    from finance_reporting_etl_spark.streaming.merge import streaming_merge_upsert

    events = _read_parquet(spark, f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src = str(tmp_path / "merge_src")
    events.repartition(3).write.parquet(src)
    q = streaming_merge_upsert(
        spark, src, spark.read.parquet(src).schema,
        checkpoint_dir=str(tmp_path / "merge_ckpt"),
        target_dir=str(tmp_path / "merge_target"),
        keys=["user_id"], order_col="ts", tiebreak_col="event_id",
    )
    assert q.awaitTermination(120), "merge stream did not finish in time"
    got = spark.read.parquet(str(tmp_path / "merge_target"))
    want = merge_latest(events, ["user_id"], "ts", "event_id")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_streaming_merge_upsert_restores_state_left_aside(spark, sf_dir, tmp_path):
    """A crash between overwrite_state_dir's two renames leaves the
    state only as ``<target>__old``. The next replay must merge into
    that state, not into an empty one."""
    import os

    from finance_reporting_etl_spark.operators.incremental import merge_latest
    from finance_reporting_etl_spark.streaming.merge import streaming_merge_upsert

    events = _read_parquet(spark, f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    target = str(tmp_path / "merge_target")
    old = merge_latest(
        events.filter(F.col("event_id") % 2 == 0), ["user_id"], "ts", "event_id"
    )
    old.write.parquet(target + "__old")
    batch = events.filter(F.col("event_id") % 2 == 1)
    src = str(tmp_path / "merge_src")
    batch.coalesce(1).write.parquet(src)
    q = streaming_merge_upsert(
        spark, src, spark.read.parquet(src).schema,
        checkpoint_dir=str(tmp_path / "merge_ckpt"), target_dir=target,
        keys=["user_id"], order_col="ts", tiebreak_col="event_id",
    )
    assert q.awaitTermination(120), "merge stream did not finish in time"
    got = spark.read.parquet(target)
    want = merge_latest(old.unionByName(batch), ["user_id"], "ts", "event_id")
    assert not os.path.exists(target + "__old")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_overwrite_state_dir_refuses_orphan_backup(spark, tmp_path):
    """With only ``<state>__old`` on disk (a crash between the swap's
    two renames), a write must refuse: ``__old`` is the last committed
    state, and swapping new state in beside it would strand it."""
    import os

    from finance_reporting_etl_spark.streaming.merge import overwrite_state_dir

    state = str(tmp_path / "state")
    spark.createDataFrame([(1, 10)], "k long, v long").write.parquet(state + "__old")
    with pytest.raises(IOError, match="only copy"):
        overwrite_state_dir(spark.createDataFrame([(2, 20)], "k long, v long"), state)
    assert not os.path.exists(state)
    kept = spark.read.parquet(state + "__old").collect()
    assert sorted(map(tuple, kept)) == [(1, 10)]


def test_streaming_restart_resumes_exactly_once(spark, sf_dir, tmp_path):
    """Checkpoint recovery is the exactly-once contract: a restarted
    query must pick up ONLY unprocessed files (no re-emission of prior
    windows in append mode, no gaps), and an idle restart emits
    nothing. Run 1 sees two source files; run 2 (same checkpoint, same
    sink) starts after a third lands; run 3 has nothing new. The final
    sink must equal the batch aggregate over closed windows of all
    three files, counted once each."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from finance_reporting_etl_spark.streaming.rollup import streaming_rollup_to_files
    from finance_reporting_etl_spark.tables import _read_parquet

    ev = _read_parquet(spark, f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "event_type", "value"
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    # chronological thirds — the production arrival order; a restart
    # resumes at the time frontier, it does not replay history
    t0, t1 = (
        ev.select(
            F.expr("percentile(unix_micros(ts), 0.3333)").cast("long"),
            F.expr("percentile(unix_micros(ts), 0.6667)").cast("long"),
        ).collect()[0]
    )
    us = F.unix_micros(F.col("ts"))
    thirds = [
        ev.filter(us <= t0),
        ev.filter((us > t0) & (us <= t1)),
        ev.filter(us > t1),
    ]
    for i, part in enumerate(thirds):
        stage = str(tmp_path / f"stage{i}")
        part.coalesce(1).write.mode("overwrite").parquet(stage)
        name = next(x for x in os.listdir(stage) if x.endswith(".parquet"))
        shutil.copy(f"{stage}/{name}", f"{src}/batch{i}.parquet")
        os.utime(f"{src}/batch{i}.parquet", (1_700_000_000 + i * 100,) * 2)

    # run 2's file is staged but hidden during run 1
    hidden = str(tmp_path / "hidden.parquet")
    shutil.move(f"{src}/batch2.parquet", hidden)

    def run():
        q = streaming_rollup_to_files(
            spark,
            src,
            spark.read.parquet(src).schema,
            checkpoint_dir=str(tmp_path / "ckpt"),
            output_dir=str(tmp_path / "out"),
            bucket="1 hour",
            watermark="2 hours",
            max_files_per_trigger=1,
        )
        assert q.awaitTermination(120)

    run()  # files 0+1
    n_after_run1 = spark.read.parquet(str(tmp_path / "out")).count()
    shutil.move(hidden, f"{src}/batch2.parquet")
    run()  # resumes from checkpoint, processes only file 2
    run()  # idle restart: nothing new to process
    got = spark.read.parquet(str(tmp_path / "out"))

    # append sink holds each emitted window exactly once: equality with
    # the batch rollup over CLOSED windows (watermark horizon) proves
    # no re-emission across restarts and no loss
    wm = ev.agg(F.max("ts")).collect()[0][0]
    from finance_reporting_etl_spark.streaming.rollup import time_bucket_rollup

    batch = (
        time_bucket_rollup(ev, "1 hour")
        .drop("avg_value")
        .filter(
            F.col("window_start") + F.expr("INTERVAL 1 HOUR")
            <= F.lit(wm) - F.expr("INTERVAL 2 HOURS")
        )
    )
    a = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert a == b
    assert len(a) > n_after_run1  # run 2 really added windows


def test_foreachbatch_fans_out_to_two_sinks(spark, tmp_path):
    """foreachBatch multi-sink fan-out: each micro-batch lands in BOTH
    the raw archive and the aggregated rollup from one read of the
    batch (persist inside the hook), so the two sinks can never drift —
    the pattern for 'archive + serve' topologies where running two
    separate streams would double the source read and the failure
    modes."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "src")
    raw_sink = str(tmp_path / "raw")
    agg_sink = str(tmp_path / "agg")
    events = spark.range(100).select(
        F.col("id"), (F.col("id") % 4).alias("k"), (F.col("id") * 1.0).alias("v")
    )
    events.repartition(3).write.parquet(src)

    def fan_out(batch, batch_id):
        batch.persist()
        batch.write.mode("append").parquet(raw_sink)
        (
            batch.groupBy("k")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(agg_sink)
        )
        batch.unpersist()

    q = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(fan_out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    raw = spark.read.parquet(raw_sink)
    agg = spark.read.parquet(agg_sink)
    assert raw.count() == 100
    assert agg.select("batch_id").distinct().count() >= 2  # really micro-batched
    # the two sinks agree: re-aggregating the archive == folding the rollup
    a = {r.k: (r.s, r.n) for r in raw.groupBy("k").agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")).collect()}
    b = {r.k: (r.s, r.n) for r in agg.groupBy("k").agg(F.sum("s").alias("s"), F.sum("n").alias("n")).collect()}
    assert a == b
