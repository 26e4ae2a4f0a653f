"""Parquet sinks (SURVEY.md §2.1 S9, S14).

S9 is the silver contract: snappy Parquet, hive-partitioned, dynamic
partition overwrite so a partition-scoped rebuild replaces only the
partitions present in the new data
(ADAPTERS/SILVER-adapter-wyscout.py:495-503).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str],
    mode: str = "overwrite",
    compression: str = "snappy",
) -> None:
    """Write ``df`` as hive-partitioned Parquet; with the default
    ``overwrite`` mode only the partitions present in ``df`` are
    replaced (dynamic partition overwrite).

    With ``partition_by`` non-empty, rows are first clustered on the
    partition columns with AQE's rebalance, so each partition lands as
    one file, or as advisory-sized files when it is large, rather than
    one small file per upstream task."""
    spark = df.sparkSession
    # Dynamic overwrite: only partitions present in df are replaced.
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    if partition_by:
        df = df.hint("rebalance", *partition_by)
    (
        df.write.mode(mode)
        .option("compression", compression)
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_jsonl_shards(
    df: DataFrame,
    path: str,
    max_records_per_file: int = 100_000,
    compression: str = "gzip",
    shard_by: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Training-export sink: sharded JSONL (the lingua franca of LLM
    data loaders), gzip by default.

    Shard sizing is delegated to ``maxRecordsPerFile`` so every task
    rolls files at the target size — no global sort or coalesce
    bottleneck. Pass ``shard_by`` (e.g. ``["split"]``) to
    hive-partition the export so a loader can read one split without
    listing the rest.
    """
    w = df.write.mode(mode).option(
        "maxRecordsPerFile", max_records_per_file
    ).option("compression", compression)
    if shard_by:
        w = w.partitionBy(*shard_by)
    w.json(path)


def write_single_csv(df: DataFrame, path: str) -> None:
    """Debug/export sink (S14) — coalesce(1) is driver-adjacent by
    design; never use on large outputs."""
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
