"""``tables._read_parquet`` builds its schema from one data file's footer
instead of running Spark's schema-inference job. The schema it hands to
Spark must be the one Spark would have inferred."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from finance_reporting_etl_spark.tables import TABLES, _read_parquet


def _same_schema(spark, path: str) -> None:
    assert _read_parquet(spark, path).schema == spark.read.parquet(path).schema


@pytest.mark.parametrize("name", TABLES)
def test_fixture_schema_matches_inference(spark, sf_dir, name):
    _same_schema(spark, f"{sf_dir}/{name}.parquet")


def _frame(spark):
    # id and s are non-null in the plan; k is nullable
    return spark.range(12).select(
        "id",
        F.when(F.col("id") % 4 > 0, F.col("id") % 3).alias("k"),
        F.lit("x").alias("s"),
    )


def test_spark_batch_write_schema_matches_inference(spark, tmp_path):
    path = str(tmp_path / "batch")
    _frame(spark).write.parquet(path)
    _same_schema(spark, path)
    # batch reads come back nullable, as with inference
    assert all(f.nullable for f in _read_parquet(spark, path).schema)


def test_partitioned_write_schema_matches_inference(spark, tmp_path):
    path = str(tmp_path / "part")
    _frame(spark).write.partitionBy("k").parquet(path)
    _same_schema(spark, path)
    df = _read_parquet(spark, path)
    assert df.columns == ["id", "s", "k"]
    assert df.count() == 12


def test_streaming_sink_output_keeps_non_null_column(spark, tmp_path):
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    _frame(spark).write.parquet(src)
    q = (
        spark.readStream.schema(_read_parquet(spark, src).schema)
        .parquet(src)
        .withColumn("n_events", F.lit(1))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    _same_schema(spark, out)
    assert not _read_parquet(spark, out).schema["n_events"].nullable


def test_pyarrow_nanos_arrive_as_micros_timestamps(spark, tmp_path):
    ns = [1_700_000_000_123_456_789, None, 86_400_000_000_000]
    t = pa.table({
        "ts": pa.array(ns, pa.timestamp("ns")),
        "ts_utc": pa.array(ns, pa.timestamp("ns", tz="UTC")),
        "v": [1, 2, 3],
    })
    path = str(tmp_path / "ns.parquet")
    pq.write_table(t, path)
    df = _read_parquet(spark, path)
    inferred = spark.read.parquet(path).schema
    assert inferred["ts"].dataType == T.LongType()  # nanosAsLong
    assert df.schema == T.StructType([
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("ts_utc", T.TimestampType(), True),
        inferred["v"],
    ])
    want = [1_700_000_000_123_456, None, 86_400_000_000]
    for c in ("ts", "ts_utc"):
        assert [r[0] for r in df.select(F.unix_micros(c)).collect()] == want


def test_pyarrow_int96_reads_as_timestamp_without_conversion(spark, tmp_path):
    # arrow reports INT96 as timestamp[ns] too; Spark reads it as a
    # timestamp, so it must not be divided down again
    t = pa.table({"ts": pa.array([1_700_000_000_123_456_000], pa.timestamp("ns"))})
    path = str(tmp_path / "int96.parquet")
    pq.write_table(t, path, use_deprecated_int96_timestamps=True)
    _same_schema(spark, path)
    row = _read_parquet(spark, path).select(F.unix_micros("ts")).first()
    assert row[0] == 1_700_000_000_123_456


def test_missing_path_raises_sparks_error(spark, tmp_path):
    with pytest.raises(AnalysisException):
        _read_parquet(spark, str(tmp_path / "missing"))
