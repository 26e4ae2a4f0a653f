"""Keyed upsert sinks (SURVEY.md §2.1 S10/S11).

The reference upserts Parquet in place with pandas (update matching
keys, append new, reconcile schema — DEPRECATED/statsbomb-silver.py:50-111)
and upserts MySQL row-chunks (INSERT .. ON DUPLICATE KEY UPDATE —
LOADERS/GOLD-data-loader.py:278-303,654-676).

Plain-Spark MERGE semantics: read the target partition(s), reconcile
schemas with ``unionByName(allowMissingColumns=True)``, keep the newest
row per key with a deterministic window, dynamic-overwrite the touched
partitions. (On a Delta/Iceberg table this whole function is
``MERGE INTO``; we keep the dependency-free formulation.)

At small batch sizes an upsert's cost is Spark's fixed per-job cost,
so the partition upsert runs each step once: one driver collect of
the touched partition tuples, one merge (persisted, read by both the
emptied-partition check and the write), one write. Touched partitions
are matched null-safely, so the NULL partition upserts like any other.
"""

from __future__ import annotations

import operator
from functools import reduce
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from traits_data_spark.operators.windows import dedup_keep_best
from traits_data_spark.sinks.parquet import write_partitioned_parquet

_SRC_FLAG = "__is_update"


def merge_upsert(
    existing: DataFrame | None,
    updates: DataFrame,
    keys: Sequence[str],
    deletes: DataFrame | None = None,
) -> DataFrame:
    """MERGE: updates win over existing on key collision; schemas are
    reconciled by name (missing columns → null).

    ``deletes`` is a keyed retraction set (any frame carrying the key
    columns): every matching key is dropped from the result, and a
    delete WINS over an update for the same key — the reference's
    upstream re-fetch returns either fresh rows or a "no data"
    tombstone per key (UPDATERS/wyscout-bronze-batch.py:60-76), so a
    batch never legitimately carries both, and dropping is the
    fail-safe reading when it does. The anti-join shuffles on the
    same keys the MERGE window already partitions by."""
    flagged_new = updates.withColumn(_SRC_FLAG, F.lit(1))
    if existing is None:
        merged = flagged_new
    else:
        merged = existing.withColumn(_SRC_FLAG, F.lit(0)).unionByName(
            flagged_new, allowMissingColumns=True
        )
    out = dedup_keep_best(merged, list(keys), [F.col(_SRC_FLAG).desc()])
    if deletes is not None:
        out = out.join(
            deletes.select(*keys).distinct(), list(keys), "left_anti"
        )
    return out.drop(_SRC_FLAG)


# Hive's escapePathName special set: these bytes are %XX-encoded in
# partition directory names (what Spark itself writes for e.g. ':').
_HIVE_ESCAPE = set('"#%\'*/:=?\\\x7f{[]^') | {chr(c) for c in range(0x20)}


def _partition_dir_value(v: object) -> str:
    """Render one partition value the way Spark names the directory
    (``col=<this>``): Hive path escaping, with NULL as the default
    ``__HIVE_DEFAULT_PARTITION__``."""
    if v is None:
        return "__HIVE_DEFAULT_PARTITION__"
    return "".join(
        f"%{ord(c):02X}" if c in _HIVE_ESCAPE else c for c in str(v)
    )


def _partition_subdir(partition_by: Sequence[str], values: tuple) -> str:
    """The ``col=value/...`` directory Spark writes one partition to."""
    return "/".join(
        f"{c}={_partition_dir_value(v)}" for c, v in zip(partition_by, values)
    )


def _touched_predicate(
    partition_by: Sequence[str], touched: set[tuple]
) -> Column:
    """Static filter selecting the touched partitions: an OR over the
    touched tuples of null-safe equalities. It references partition
    columns only, so the file scan prunes on it, and ``<=>`` matches
    the NULL (``__HIVE_DEFAULT_PARTITION__``) partition, which an
    equi-join on partition values never does."""
    return reduce(
        operator.or_,
        (
            reduce(
                operator.and_,
                (F.col(c).eqNullSafe(F.lit(v)) for c, v in zip(partition_by, t)),
            )
            for t in touched
        ),
        F.lit(False),
    )


def upsert_parquet_partition(
    updates: DataFrame,
    path: str,
    keys: Sequence[str],
    partition_by: Sequence[str],
    deletes: DataFrame | None = None,
) -> None:
    """S10 as partition-scoped MERGE, with keyed retraction.

    Only partitions present in ``updates`` — plus, when ``deletes`` is
    given, partitions holding a retracted key — are read back and
    rewritten, so cost scales with the delta, not the table.

    Cost: one driver collect of the distinct touched partition tuples
    (from the updates plus the target rows matching ``deletes``); one
    merge over those partitions' existing rows, read through a static
    null-safe partition predicate and persisted; one collect of the
    partitions the merge left non-empty, which materialises it; one
    write of the persisted merge through ``write_partitioned_parquet``.
    A NULL partition value matches like any other value.

    ``deletes`` mirrors the reference's stale-file delete (an upstream
    re-fetch answering "No statistical data" retracts the key —
    UPDATERS/wyscout-bronze-batch.py:60-76): matching rows are dropped
    during the rewrite. Dynamic partition overwrite only replaces
    partitions PRESENT in the written frame, so a partition the
    retraction fully empties would otherwise survive as stale files —
    those directories are removed explicitly through the Hadoop
    FileSystem (the portable spelling of the reference's S3
    delete_object), bounded by the touched-partition count.
    """
    spark = updates.sparkSession
    try:
        target = spark.read.parquet(path)
    except AnalysisException:
        target = None  # first write
    touched_parts = updates.select(*partition_by)
    if target is not None and deletes is not None:
        # Partitions holding a retracted key are touched too, even
        # when no update lands there.
        touched_parts = touched_parts.unionByName(
            target.join(
                F.broadcast(deletes.select(*keys).distinct()),
                list(keys),
                "left_semi",
            ).select(*partition_by)
        )
    touched = {tuple(r) for r in touched_parts.distinct().collect()}
    existing = None
    if target is not None:
        existing = target.filter(_touched_predicate(partition_by, touched))
    merged = merge_upsert(existing, updates, keys, deletes=deletes).persist()
    try:
        # Read (and so materialised) BEFORE the overwrite: the plan
        # reads the files the write is about to replace.
        live = {
            _partition_subdir(partition_by, r)
            for r in merged.select(*partition_by).distinct().collect()
        }
        write_partitioned_parquet(merged, path, partition_by)
    finally:
        merged.unpersist()
    # Fully-emptied partitions: touched but absent from the rewrite.
    # Compared as directory names, which do not depend on whether the
    # updates and the table agree on a partition column's type.
    emptied = {_partition_subdir(partition_by, t) for t in touched} - live
    if not emptied:
        return
    sc = spark.sparkContext
    jvm = sc._jvm
    hconf = sc._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(hconf)
    for sub in emptied:
        p = jvm.org.apache.hadoop.fs.Path(path + "/" + sub)
        if fs.exists(p):
            fs.delete(p, True)


def incremental_new_keys(
    incoming: DataFrame, existing_keys: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """J13/U4: the reference's incremental-ingest anti-join — rows whose
    keys are not yet present (UPDATERS/wyscout-bronze-batch.py:218-226).
    """
    return incoming.join(existing_keys, list(keys), "left_anti")
