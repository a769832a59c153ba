"""Streaming incremental upsert via ``foreachBatch`` (§2.8 x O5).

``foreachBatch`` is the Structured Streaming escape hatch for sinks
Spark has no native connector for — each micro-batch arrives as a plain
DataFrame and arbitrary batch logic runs against it. ``state_fold``
is that logic for state kept in one parquet dir (read it, fold the
batch in, swap the result in); ``streaming_merge_upsert`` folds with
the engine's own ``merge_latest`` upsert, turning an event stream into
a continuously-maintained latest-row-per-key table.

Latest-per-key is an argmin over the total order (order_col DESC,
tiebreak ASC), which is associative — merging batch-by-batch reaches
the same fixpoint as one merge over the union, for ANY batch split.
That associativity is what the oracle checks.

Scale boundary (documented, deliberate): the demo target is a plain
parquet directory, so each batch rewrites the full table (written to a
sibling dir then swapped in — you cannot lazily read and overwrite the
same path). Production swaps the body for a transactional
MERGE INTO (Delta/Iceberg) or dynamic partition overwrite touching only
the partitions present in the batch; the streaming plumbing
(checkpointing, batch boundaries, exactly-once-per-batch) is identical.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from finance_reporting_etl_spark.operators.incremental import checked_swap, merge_latest
from finance_reporting_etl_spark.streaming.staging import fold_stream
from finance_reporting_etl_spark.tables import _read_parquet


def overwrite_state_dir(df: DataFrame, path: str) -> None:
    """Replace a maintained parquet state dir with ``df`` when the
    plan READS the same dir: write to the sibling ``<path>__next``,
    then swap it in with :func:`checked_swap` (live renamed aside to
    ``<path>__old``, every Hadoop ``rename`` boolean checked, the
    backup never deleted after a failed rename). One materialization
    (the direct write) instead of a localCheckpoint-then-write.

    The two-rename window is still not transactional — the module
    docstring scopes plain parquet state to the demo harness;
    production uses MERGE INTO. A crash between the two renames leaves
    the state only as ``<path>__old``: ``_read_parquet_if_exists``
    renames it back before the next batch reads the state, and a
    write that finds it first refuses rather than delete it."""
    sess = df.sparkSession
    Path = sess._jvm.org.apache.hadoop.fs.Path
    df.write.mode("overwrite").parquet(path + "__next")
    live = Path(path)
    checked_swap(
        live.getFileSystem(sess._jsc.hadoopConfiguration()),
        live,
        Path(path + "__next"),
        Path(path + "__old"),
    )


def _read_parquet_if_exists(sess, path: str):
    """Read a maintained parquet state dir, or None when it does not
    exist yet. Probes existence through the Hadoop FileSystem first: a
    bare except around read.parquet would treat ANY transient failure
    (S3 throttle, corrupt footer, permission blip) as 'first batch'
    and let the subsequent overwrite destroy all accumulated state
    (r5 review). Real read errors propagate.

    When only ``<path>__old`` exists, ``overwrite_state_dir`` crashed
    between its renames: it is renamed back, so the batch merges into
    the last committed state instead of into nothing. One glob finds
    both names, so a healthy read costs the same single FileSystem
    call as a bare existence probe."""
    Path = sess._jvm.org.apache.hadoop.fs.Path
    hp = Path(path)
    fs = hp.getFileSystem(sess._jsc.hadoopConfiguration())
    # escape glob metacharacters of the path itself
    pattern = re.sub(r"([\\{}\[\]*?])", r"\\\1", hp.toString()) + "{,__old}"
    found = {st.getPath().getName() for st in fs.globStatus(Path(pattern)) or []}
    if hp.getName() not in found:
        if hp.getName() + "__old" not in found:
            return None
        if not fs.rename(Path(path + "__old"), hp):
            raise IOError(f"restoring {path}__old -> {path} failed")
    return _read_parquet(sess, path)


def state_fold(state_dir: str, step):
    """The foreachBatch body for state kept in one parquet dir: read
    the state (None before the first batch; a state a crash left
    aside is restored first), fold the batch into it with
    ``step(state, batch)`` and swap the result in."""

    def fold(batch: DataFrame, batch_id: int) -> None:
        state = _read_parquet_if_exists(batch.sparkSession, state_dir)
        overwrite_state_dir(step(state, batch), state_dir)

    return fold


def streaming_merge_upsert(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    checkpoint_dir: str,
    target_dir: str,
    keys: list[str],
    order_col: str,
    tiebreak_col: str | None = None,
):
    """AvailableNow file stream -> foreachBatch merge_latest upsert into
    ``target_dir``. Returns the StreamingQuery; caller awaits
    termination then reads the target parquet."""

    def upsert(state: DataFrame | None, batch: DataFrame) -> DataFrame:
        combined = batch if state is None else state.unionByName(batch)
        return merge_latest(combined, keys, order_col, tiebreak_col)

    return fold_stream(
        spark, source_dir, schema, checkpoint_dir, state_fold(target_dir, upsert)
    )
