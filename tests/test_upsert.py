"""S10/S11/J13: keyed MERGE semantics, partition-scoped parquet
upsert, incremental anti-join."""

import os

import pytest
from pyspark.sql import functions as F

from traits_data_spark.sinks.upsert import (
    incremental_new_keys,
    merge_upsert,
    upsert_parquet_partition,
)


def _data_files(d):
    return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))


def test_merge_updates_win_and_new_rows_append(spark):
    existing = spark.createDataFrame(
        [(1, "old1"), (2, "old2")], ["k", "v"]
    )
    updates = spark.createDataFrame(
        [(2, "new2"), (3, "new3")], ["k", "v"]
    )
    out = {r["k"]: r["v"] for r in merge_upsert(existing, updates, ["k"]).collect()}
    assert out == {1: "old1", 2: "new2", 3: "new3"}


def test_merge_reconciles_schema_by_name(spark):
    existing = spark.createDataFrame([(1, "a")], ["k", "v"])
    updates = spark.createDataFrame([(2, "b", 9.0)], ["k", "v", "extra"])
    out = merge_upsert(existing, updates, ["k"])
    rows = {r["k"]: (r["v"], r["extra"]) for r in out.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.0)}


def test_merge_none_existing_first_write(spark):
    updates = spark.createDataFrame([(1, "a")], ["k", "v"])
    assert merge_upsert(None, updates, ["k"]).count() == 1


def test_upsert_parquet_partition_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t")
    first = spark.createDataFrame(
        [(1, "p1", "a"), (2, "p1", "b"), (3, "p2", "c")], ["k", "part", "v"]
    )
    upsert_parquet_partition(first, path, keys=["k"], partition_by=["part"])
    # update k=2, add k=4, touch only partition p1
    delta = spark.createDataFrame(
        [(2, "p1", "B"), (4, "p1", "d")], ["k", "part", "v"]
    )
    upsert_parquet_partition(delta, path, keys=["k"], partition_by=["part"])
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "B", 3: "c", 4: "d"}
    # every rewritten partition lands as one file, not one per task
    for part in ("p1", "p2"):
        assert len(_data_files(os.path.join(path, f"part={part}"))) == 1


def test_upsert_into_null_partition_keeps_its_rows(spark, tmp_path):
    """The NULL partition (``__HIVE_DEFAULT_PARTITION__``) is read back,
    merged and kept like any other: an update there keeps the existing
    rows, and the emptied-partition step never drops it while it still
    holds rows."""
    path = str(tmp_path / "t")
    null_dir = os.path.join(path, "part=__HIVE_DEFAULT_PARTITION__")
    schema = "k INT, part STRING, v STRING"
    first = spark.createDataFrame(
        [(1, None, "a"), (2, None, "b"), (3, "p1", "c")], schema
    )
    upsert_parquet_partition(first, path, keys=["k"], partition_by=["part"])

    def table():
        return {
            r["k"]: (r["part"], r["v"])
            for r in spark.read.parquet(path).collect()
        }

    upsert_parquet_partition(
        spark.createDataFrame([(4, None, "d")], schema),
        path, keys=["k"], partition_by=["part"],
    )
    assert table() == {
        1: (None, "a"), 2: (None, "b"), 3: ("p1", "c"), 4: (None, "d")
    }
    # update and retract inside the NULL partition in one batch
    upsert_parquet_partition(
        spark.createDataFrame([(2, None, "B")], schema),
        path, keys=["k"], partition_by=["part"],
        deletes=spark.createDataFrame([(1,)], ["k"]),
    )
    assert table() == {2: (None, "B"), 3: ("p1", "c"), 4: (None, "d")}
    assert os.path.isdir(null_dir)
    # a retraction alone that leaves NULL rows behind keeps the partition
    upsert_parquet_partition(
        spark.createDataFrame([], schema),
        path, keys=["k"], partition_by=["part"],
        deletes=spark.createDataFrame([(4,)], ["k"]),
    )
    assert table() == {2: (None, "B"), 3: ("p1", "c")}
    assert os.path.isdir(null_dir)
    # retracting its last row removes the partition directory
    upsert_parquet_partition(
        spark.createDataFrame([], schema),
        path, keys=["k"], partition_by=["part"],
        deletes=spark.createDataFrame([(2,)], ["k"]),
    )
    assert table() == {3: ("p1", "c")}
    assert not os.path.exists(null_dir)


def test_merge_delete_retracts_and_wins_over_update(spark):
    existing = spark.createDataFrame(
        [(1, "old1"), (2, "old2"), (3, "old3")], ["k", "v"]
    )
    updates = spark.createDataFrame([(2, "new2"), (4, "new4")], ["k", "v"])
    # k=2 is both updated and retracted: delete wins (fail-safe).
    deletes = spark.createDataFrame([(2,), (3,), (99,)], ["k"])
    out = {
        r["k"]: r["v"]
        for r in merge_upsert(existing, updates, ["k"], deletes=deletes).collect()
    }
    assert out == {1: "old1", 4: "new4"}


def test_upsert_parquet_delete_roundtrip(spark, tmp_path):
    """A retracted key is gone after re-merge — including from a
    partition the update batch never touches, and a partition the
    retraction fully empties leaves no stale files behind."""
    path = str(tmp_path / "t")
    first = spark.createDataFrame(
        [(1, "p1", "a"), (2, "p1", "b"), (3, "p2", "c"), (5, "p3", "e")],
        ["k", "part", "v"],
    )
    upsert_parquet_partition(first, path, keys=["k"], partition_by=["part"])
    delta = spark.createDataFrame([(4, "p1", "d")], ["k", "part", "v"])
    # k=2 lives in touched p1; k=3 lives in untouched p2 (and is p2's
    # only row, so the p2 directory itself must disappear).
    deletes = spark.createDataFrame([(2,), (3,)], ["k"])
    upsert_parquet_partition(
        delta, path, keys=["k"], partition_by=["part"], deletes=deletes
    )
    got = {r["k"]: (r["part"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("p1", "a"), 4: ("p1", "d"), 5: ("p3", "e")}
    assert not os.path.exists(os.path.join(path, "part=p2"))
    assert os.path.exists(os.path.join(path, "part=p3"))
    # idempotent: re-applying the same retraction is a no-op
    upsert_parquet_partition(
        spark.createDataFrame([], "k INT, part STRING, v STRING"),
        path,
        keys=["k"],
        partition_by=["part"],
        deletes=deletes,
    )
    assert spark.read.parquet(path).count() == 3


def test_incremental_new_keys_anti_join(spark):
    incoming = spark.createDataFrame([(1,), (2,), (3,)], ["k"])
    existing = spark.createDataFrame([(2,)], ["k"])
    out = sorted(r["k"] for r in incremental_new_keys(incoming, existing, ["k"]).collect())
    assert out == [1, 3]
