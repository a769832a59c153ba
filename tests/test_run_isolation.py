"""Process-level state that must not leak between runs or break them: the
shared aux-artifact memo across aux-dir moves, a malformed extra-conf
variable, and the default driver heap on a small host."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import SparkSession


def _rows(built):
    frames = built if isinstance(built, tuple) else (built,)
    return [sorted(df.collect()) for df in frames]


@pytest.mark.parametrize(
    "fn_name, artifact",
    [("_copurchase_pairs", "copurchase_pairs"), ("_pq_tables", "pq_index")],
    ids=["copurchase_pairs", "pq_tables"],
)
def test_shared_aux_rebuilt_after_aux_dir_moves(
    spark, sf_dir, tmp_path, monkeypatch, fn_name, artifact
):
    from finance_reporting_etl_spark import queries

    build = getattr(queries, fn_name)
    monkeypatch.setattr(queries, "_AUX_BUILT", {})
    monkeypatch.setattr(queries, "_AUX_DIR", str(tmp_path / "a"))
    want = _rows(build(spark, sf_dir))
    assert all(want)

    # benchmark workers and run isolation move the aux dir between calls
    moved = tmp_path / "b"
    monkeypatch.setattr(queries, "_AUX_DIR", str(moved))
    assert _rows(build(spark, sf_dir)) == want
    assert (moved / artifact).is_dir()

    # a removed parquet dir is rebuilt, not read as missing
    shutil.rmtree(moved / artifact)
    assert _rows(build(spark, sf_dir)) == want


def test_malformed_extra_conf_fails_before_session_is_built(monkeypatch):
    from finance_reporting_etl_spark.session import get_spark

    def built(self):
        raise AssertionError("a session was built despite malformed extra conf")

    raw = '{"spark.sql.ansi.enabled": true'
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", raw)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", built)
    with pytest.raises(ValueError, match="SPARK_GRAFT_EXTRA_CONF") as err:
        get_spark(app_name="malformed-extra-conf")
    assert repr(raw) in str(err.value)


def test_default_driver_heap_fits_in_host_memory():
    from finance_reporting_etl_spark.session import DEFAULT_DRIVER_MEMORY

    ram_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    heap_mib = int(DEFAULT_DRIVER_MEMORY.removesuffix("m"))
    assert 0 < heap_mib <= min(24 << 10, ram_mib // 2)
