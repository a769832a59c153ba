"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster: AQE on
(runtime re-planning, skew-join splitting, partition coalescing), UTC
session time zone (oracle parity + sane event-time semantics), Arrow
enabled for the few Pandas-UDF paths, and shuffle partitions sized to
the machine rather than Spark's legacy 200.

At 100 TB the same config holds conceptually: AQE + adaptive coalescing
replace hand-tuned shuffle partition counts, and
``spark.sql.files.maxPartitionBytes`` keeps scan tasks bounded.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# 24 GiB, or half the host's RAM when that is less: G1 grows a heap whose
# limit exceeds physical memory until the kernel kills the driver JVM
DEFAULT_DRIVER_MEMORY = (
    f"{min(24 << 10, os.sysconf('SC_PAGE_SIZE') * os.sysconf('SC_PHYS_PAGES') >> 21)}m"
)


def get_spark(
    app_name: str = "finance_reporting_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Parameters mirror the knobs that matter at scale; everything else is
    left to Spark defaults so cluster-side settings win on a real deploy.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Driver fixtures carry TIMESTAMP(NANOS) parquet columns, which
        # Spark has no type for; session-wide legacy conf surfaces them
        # as long nanos and tables._read_parquet converts to native
        # microsecond timestamps. Set HERE (documented, once) rather than
        # as a read-time side effect.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Fixture TIMESTAMP(MICROS) columns carry isAdjustedToUTC=false;
        # inferred as TIMESTAMP_NTZ they would poison event-time ops
        # (withWatermark rejects NTZ). Read them as session-tz (UTC)
        # timestamps instead — identical values, streaming-capable type.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # effective only when this call creates the JVM (spark-submit or
        # first getOrCreate); a pre-existing session keeps its own value
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", DEFAULT_DRIVER_MEMORY))
        .config("spark.ui.enabled", "false")
        # Parquet scan tasks bounded to 128 MiB — at 100 TB this yields
        # ~800k scan tasks, the right granularity for 1000 executors.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    import json as _json

    raw_extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "{}")
    try:
        env_conf = _json.loads(raw_extra)
    except ValueError as e:
        raise ValueError(
            f"SPARK_GRAFT_EXTRA_CONF is not valid JSON: {raw_extra!r}"
        ) from e
    if env_conf:
        # loud trace: injected configs can flip semantics (ANSI, legacy
        # modes) in ANY session, including correctness runs (ADVICE r14)
        print(
            "SPARK_GRAFT_EXTRA_CONF injecting: "
            + ", ".join(sorted(env_conf)),
            flush=True,
        )
    for k, v in env_conf.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
