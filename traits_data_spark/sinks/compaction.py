"""Output-file sizing — the small-files problem at the sink.

A 1000-executor job writing a hive-partitioned table produces
(tasks × partitions) output files; thousands of KB-sized parquet
files destroy downstream scan performance (footer reads, scheduler
overhead, no row-group parallelism) and metastore listings. The
fixes, in preference order:

1. size the shuffle so each task writes ~one target-sized file
   (``repartition_for_target_file_size``: one extra exchange, fully
   parallel);
2. rewrite an existing fragmented table in place
   (``compact_parquet_dir``: read → repartition → atomic swap write).

Both derive the partition count from measured bytes, never row
counts — row width varies 100× across tables.

Partitioned writes through ``sinks.parquet.write_partitioned_parquet``
(the silver sink and the partition upsert) cluster at write time:
AQE's rebalance on the partition columns gives each partition one
file, or advisory-sized files when it is large, with no explicit file
count. Fix 2 remains for tables fragmented by other writers.
"""

from __future__ import annotations

import math
import os
import shutil
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TARGET_FILE_BYTES = 128 * 1024 * 1024  # HDFS-block-ish sweet spot


def plan_input_bytes(df: DataFrame) -> int:
    """Total bytes of the plan's file sources, from the optimizer's
    statistics (file-size metadata only — no job is run). Compressed
    size, so the derived file count lands near the target for a
    same-codec rewrite."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def repartition_for_target_file_size(
    df: DataFrame,
    target_bytes: int = TARGET_FILE_BYTES,
    partition_by: Sequence[str] = (),
    min_partitions: int = 1,
) -> DataFrame:
    """Repartition so each write task holds ~``target_bytes`` of data.

    With ``partition_by`` (a hive-partitioned sink), rows are
    hash-clustered on the partition columns so each output directory
    is written by few tasks (files-per-dir ≈ tasks-that-own-the-key)
    instead of every task writing a sliver into every directory.
    """
    n = max(min_partitions, math.ceil(plan_input_bytes(df) / target_bytes))
    if partition_by:
        return df.repartition(n, *[F.col(c) for c in partition_by])
    return df.repartition(n)


def compact_parquet_dir(
    df_reader,
    path: str,
    target_bytes: int = TARGET_FILE_BYTES,
    compression: str = "snappy",
) -> int:
    """Rewrite a fragmented parquet directory with right-sized files.

    ``df_reader`` is a callable ``(path) -> DataFrame`` (normally
    ``spark.read.parquet``). Writes to ``path + '.compact'`` then
    swaps directories — the window where neither exists is small but
    real; at production scale use a table format (Iceberg/Delta
    rewrite-data-files) for a transactional swap. Returns the number
    of files written.
    """
    df = df_reader(path)
    sized = repartition_for_target_file_size(df, target_bytes)
    tmp = path.rstrip("/") + ".compact"
    sized.write.mode("overwrite").option("compression", compression).parquet(tmp)
    old = path.rstrip("/") + ".old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
