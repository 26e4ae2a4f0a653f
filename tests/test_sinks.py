"""S11/S12/S13 serving-sink generators (pure-SQL parts are unit
tested; JDBC execution is deploy-time)."""

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from traits_data_spark.sinks.jdbc import (
    ddl_from_schema,
    distinct_dims,
    upsert_from_staging_sql,
)
from traits_data_spark.sinks.parquet import write_partitioned_parquet


def test_ddl_from_schema():
    schema = T.StructType(
        [
            T.StructField("profileId", T.StringType(), False),
            T.StructField("rating", T.DoubleType()),
            T.StructField("n", T.LongType()),
        ]
    )
    ddl = ddl_from_schema(schema, "gold.Output", primary_key="profileId")
    assert "CREATE TABLE IF NOT EXISTS gold.Output" in ddl
    assert "`profileId` VARCHAR(255) NOT NULL" in ddl
    assert "`rating` DOUBLE" in ddl
    assert "`n` BIGINT" in ddl
    assert "PRIMARY KEY (`profileId`)" in ddl


def test_upsert_sql_mysql_dialect():
    sql = upsert_from_staging_sql("t", "t_staging", ["id", "a", "b"], ["id"])
    assert sql.startswith("INSERT INTO t (`id`, `a`, `b`) SELECT")
    assert "ON DUPLICATE KEY UPDATE `a` = VALUES(`a`), `b` = VALUES(`b`)" in sql
    assert "`id` = VALUES" not in sql  # keys never updated


def test_upsert_sql_merge_dialect():
    # ANSI dialect: double-quoted identifiers, unqualified SET targets
    # (Derby/Postgres reject a target-alias prefix in SET)
    sql = upsert_from_staging_sql("t", "s", ["id", "a"], ["id"], dialect="merge")
    assert 'MERGE INTO t t USING s s ON t."id" = s."id"' in sql
    assert 'WHEN MATCHED THEN UPDATE SET "a" = s."a"' in sql
    assert "WHEN NOT MATCHED THEN INSERT" in sql
    assert "`" not in sql


def test_ddl_ansi_dialect():
    schema = T.StructType([T.StructField("k", T.LongType(), False)])
    ddl = ddl_from_schema(
        schema, "t", primary_key="k", dialect="ansi", if_not_exists=False
    )
    assert ddl.startswith("CREATE TABLE t")
    assert '"k" BIGINT NOT NULL' in ddl and "`" not in ddl


def test_upsert_jdbc_roundtrip_embedded_derby(spark):
    """S11 integration: land staging via parallel JDBC writes, apply
    one ANSI MERGE, read back — update-matched + insert-new semantics
    against embedded Derby (on Spark's own classpath), the same
    staging-then-merge path a MySQL/Aurora deployment runs."""
    import pytest

    from traits_data_spark.sinks.jdbc import _execute_on_db, upsert_jdbc

    url = "jdbc:derby:memory:upsert_it;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    try:
        _execute_on_db(spark, url, props, "VALUES 1")
    except Exception:
        pytest.skip("embedded Derby not available on this classpath")

    df = spark.createDataFrame(
        [(1, "new-name", 9.5), (3, "fresh", 3.0)],
        "k BIGINT, name STRING, v DOUBLE",
    )
    ddl = ddl_from_schema(
        df.schema, "target", primary_key="k", dialect="ansi", if_not_exists=False
    )
    _execute_on_db(spark, url, props, ddl)
    _execute_on_db(
        spark, url, props,
        "INSERT INTO target VALUES (1, 'old', 1.0), (2, 'keep', 2.0)",
    )
    upsert_jdbc(
        df, url, "target", keys=["k"], properties=props, dialect="merge",
        staging_column_types="name VARCHAR(255)",
    )
    out = spark.read.jdbc(url, "target", properties=props)
    rows = sorted((r["k"], r["name"], r["v"]) for r in out.collect())
    assert rows == [(1, "new-name", 9.5), (2, "keep", 2.0), (3, "fresh", 3.0)]


def test_bootstrap_statements_match_reference_shape():
    """S12 parity: schema → table → charset → normalized generated
    columns → fulltext/secondary indexes, in the reference's order
    (GOLD-data-loader.py:593-632)."""
    from traits_data_spark.sinks.jdbc import bootstrap_statements

    schema = T.StructType(
        [
            T.StructField("profileId", T.StringType(), False),
            T.StructField("fullName", T.StringType()),
            T.StructField("playerName", T.StringType()),
            T.StructField("rating", T.DoubleType()),
        ]
    )
    stmts = bootstrap_statements(
        schema,
        "id_42",
        "Output",
        primary_key="profileId",
        normalize_cols=["fullName", "playerName"],
        fulltext_index={
            "playerFullTextIndex": ["fullNameNormalised", "playerNameNormalised"]
        },
        secondary_indexes={"idx_player_team": ["profileId", "fullName"]},
    )
    assert stmts[0] == "CREATE SCHEMA IF NOT EXISTS id_42"
    assert stmts[1].startswith("CREATE TABLE IF NOT EXISTS id_42.Output")
    assert "CONVERT TO CHARACTER SET utf8mb4" in stmts[2]
    # ø→o normalized STORED generated columns, nested-REPLACE form
    assert (
        "ADD COLUMN fullNameNormalised TEXT GENERATED ALWAYS AS "
        "(REPLACE(REPLACE(fullName, 'ø', 'o'), 'Ø', 'O')) STORED" in stmts[3]
    )
    assert "playerNameNormalised" in stmts[3]
    assert stmts[4] == (
        "CREATE FULLTEXT INDEX playerFullTextIndex ON id_42.Output "
        "(fullNameNormalised, playerNameNormalised)"
    )
    assert stmts[5] == (
        "CREATE INDEX idx_player_team ON id_42.Output (profileId, fullName)"
    )


def test_distinct_dims(spark):
    df = spark.createDataFrame(
        [(1, "AU", "x"), (2, "AU", "y"), (3, "NZ", "y")],
        ["k", "country", "seg"],
    )
    dims = distinct_dims(df, {"country": ["country"], "seg": ["seg"]})
    assert sorted(r["country"] for r in dims["country"].collect()) == ["AU", "NZ"]
    assert dims["seg"].count() == 2


def test_write_jsonl_shards_roundtrip(spark, tmp_path):
    from traits_data_spark.sinks.parquet import write_jsonl_shards

    df = spark.createDataFrame(
        [(i, f"text {i}", "train" if i % 2 else "val") for i in range(20)],
        ["doc_id", "text", "split"],
    )
    out = str(tmp_path / "jsonl")
    write_jsonl_shards(df, out, max_records_per_file=5, shard_by=["split"])
    back = spark.read.json(out)
    assert back.count() == 20
    assert set(back.columns) == {"doc_id", "text", "split"}
    # hive-partitioned by split, gzip shard files
    import glob
    files = glob.glob(f"{out}/split=train/*.json.gz")
    assert files and len(files) >= 2  # 10 records / max 5 per file


def test_write_partitioned_parquet_replaces_only_present_partitions(
    spark, tmp_path
):
    """S9 dynamic overwrite: a write replaces the partitions present in
    the frame and leaves every other partition's files as they were;
    each written partition lands as one file although its rows come
    from several tasks."""
    path = str(tmp_path / "t")

    def files(part):
        d = os.path.join(path, f"part={part}")
        return {
            f: os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    first = spark.range(60).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("part")
    ).repartition(4)
    write_partitioned_parquet(first, path, ["part"])
    before = {p: files(p) for p in "012"}
    assert all(len(f) == 1 for f in before.values())

    write_partitioned_parquet(
        spark.createDataFrame([(100, "0"), (101, "0")], "k LONG, part STRING"),
        path,
        ["part"],
    )
    got = spark.read.parquet(path)
    assert sorted(r["k"] for r in got.filter("part = 0").collect()) == [100, 101]
    assert got.count() == 42
    assert files("1") == before["1"] and files("2") == before["2"]
    assert len(files("0")) == 1 and files("0") != before["0"]
