"""The env-gated lineage-cut barrier (functions/barrier.py): default
localCheckpoint, SPARK_GRAFT_BARRIER=reliable -> reliable checkpoint.
Both modes must return identical rows with truncated lineage; the
toggle only changes fault tolerance (round-16 verdict task 7)."""

import os
import warnings

import pytest
from pyspark.sql import functions as F

from traits_data_spark.functions.barrier import (
    BARRIER_MODE_ENV,
    CHECKPOINT_DIR_ENV,
    barrier,
)


def _frame(spark):
    return spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )


def test_default_local_barrier_truncates_lineage(spark, monkeypatch):
    monkeypatch.delenv(BARRIER_MODE_ENV, raising=False)
    out = barrier(_frame(spark))
    # lineage is a leaf: the logical plan scans the checkpointed RDD
    assert "LogicalRDD" in out._jdf.queryExecution().logical().toString()
    assert out.count() == 100
    out.unpersist(True)


def test_reliable_barrier_checkpoints_to_dir(spark, monkeypatch, tmp_path):
    ckdir = str(tmp_path / "ck")
    monkeypatch.setenv(BARRIER_MODE_ENV, "reliable")
    monkeypatch.setenv(CHECKPOINT_DIR_ENV, ckdir)
    df = _frame(spark)
    expected = sorted(tuple(r) for r in df.collect())
    out = barrier(df)
    assert sorted(tuple(r) for r in out.collect()) == expected
    # blocks landed in the reliable checkpoint dir, not executor memory
    found = [
        f
        for root, _dirs, files in os.walk(ckdir)
        for f in files
        if f.startswith("part-")
    ]
    assert found, "no checkpoint part files written"
    assert "LogicalRDD" in out._jdf.queryExecution().logical().toString()


def test_reliable_barrier_warns_when_context_pins_another_dir(
    spark, monkeypatch, tmp_path
):
    """A context keeps the checkpoint dir it pinned first; an env dir
    that disagrees is ignored loudly, one that agrees silently."""
    pinned = tmp_path / "pinned"
    spark.sparkContext.setCheckpointDir(str(pinned))
    monkeypatch.setenv(BARRIER_MODE_ENV, "reliable")
    monkeypatch.setenv(CHECKPOINT_DIR_ENV, str(pinned) + "/")
    df = _frame(spark)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        barrier(df)
    other = tmp_path / "other"
    monkeypatch.setenv(CHECKPOINT_DIR_ENV, str(other))
    with pytest.warns(UserWarning, match=CHECKPOINT_DIR_ENV):
        out = barrier(df)
    assert out.count() == 100
    assert not other.exists()
    assert any(
        f.startswith("part-") for _r, _d, files in os.walk(pinned) for f in files
    )


def test_unknown_mode_raises(spark, monkeypatch):
    monkeypatch.setenv(BARRIER_MODE_ENV, "bogus")
    with pytest.raises(RuntimeError, match="SPARK_GRAFT_BARRIER"):
        barrier(_frame(spark))
