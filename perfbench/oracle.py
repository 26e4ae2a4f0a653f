"""Correctness gate: DuckDB oracles and an order-insensitive output hash.

Expected outputs come from the catalog's own DuckDB oracle SQL
(``silver_e1``, ``gold_ratings``, ``curate_corpus``, ``kn4_doc_scores``,
``semantic_dedup_sharded``) run over the generated
inputs; ``matchday_upserts`` replays its batches in DuckDB (last writer
wins, retractions applied) and runs the silver/gold oracles per touched
season. Hashes are cached by (workload, seed, size).

The Spark outputs are read back with DuckDB too, so both sides of a
comparison go through one engine's value formatting.
"""

from __future__ import annotations

import json
import os
import time

import duckdb

from gen import FACT_COLUMNS

# outputs the corpus workload writes per pass, the catalog oracle for
# each, and the catalog tables those oracles read
CORPUS_ORACLES = {
    "curated": "curate_corpus",
    "kn4": "kn4_doc_scores",
    "dedup": "semantic_dedup_sharded",
}
CORPUS_TABLES = ("documents", "embeddings")


def oracle_sqls() -> dict[str, str]:
    """The catalog's oracle SQL (imported only on a cache miss: the
    catalog import costs seconds)."""
    from traits_data_spark import catalog

    return catalog.oracle_sqls()


def connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    os.makedirs(tmp_dir, exist_ok=True)
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET threads = {os.cpu_count() or 1}")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET max_temp_directory_size = '4GB'")
    return con


def rel_hash(con: duckdb.DuckDBPyConnection, sql: str) -> str:
    """``rows:hash:columns`` of a relation, independent of row order,
    column order and integer width. Every value is hashed through its
    VARCHAR form; timestamps are normalised to UTC wall time first."""
    desc = con.execute(f"DESCRIBE SELECT * FROM ({sql})").fetchall()
    cols = sorted(desc)
    parts = []
    for name, typ, *_ in cols:
        col = f'"{name}"'
        if typ.startswith("TIMESTAMP"):
            col = f"CAST({col} AS TIMESTAMP)"
        parts.append(f"coalesce(CAST({col} AS VARCHAR), '<null>')")
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({', '.join(parts)})::HUGEINT), 0) FROM ({sql})"
    ).fetchone()
    return f"{n}:{int(h) % 2**64:016x}:{','.join(c[0] for c in cols)}"


def output_sql(path: str) -> str:
    """A Spark-written parquet directory (hive partitions included)."""
    return f"SELECT * FROM read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


# ---------------------------------------------------------------------------
# expected hashes
# ---------------------------------------------------------------------------


def _corpus_hashes(con, inputs: str) -> dict[str, str]:
    for table in CORPUS_TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {table} AS SELECT * FROM '{inputs}/{table}.parquet'")
    sqls = oracle_sqls()
    return {out: rel_hash(con, sqls[q]) for out, q in CORPUS_ORACLES.items()}


def replay_facts(con, inputs: str) -> None:
    """Table ``facts`` := initial facts with every batch applied in
    order (a key's last write wins; a retraction
    removes the key)."""
    con.execute(
        "CREATE OR REPLACE TABLE facts AS SELECT * REPLACE (CAST(season AS INTEGER) AS season) "
        f"FROM read_parquet('{inputs}/facts/**/*.parquet', hive_partitioning = true)"
    )
    cols = ", ".join(c for c, *_ in FACT_COLUMNS)
    spec = "{" + ", ".join(f"'{c}': '{duck}'" for c, _, duck, _ in FACT_COLUMNS) + ", 'op': 'VARCHAR'}"
    for name in sorted(os.listdir(f"{inputs}/batches")):
        con.execute(
            "CREATE OR REPLACE TEMP TABLE batch AS SELECT * FROM read_json("
            f"'{inputs}/batches/{name}', format = 'newline_delimited', columns = {spec})"
        )
        con.execute(
            "DELETE FROM facts WHERE (l_orderkey, l_linenumber) IN "
            "(SELECT (l_orderkey, l_linenumber) FROM batch)"
        )
        con.execute(f"INSERT INTO facts SELECT {cols} FROM batch WHERE op = 'U'")


def _matchday_hashes(con, inputs: str) -> dict[str, str]:
    replay_facts(con, inputs)
    touched = set()
    for name in sorted(os.listdir(f"{inputs}/batches")):
        touched.update(
            r[0] for r in con.execute(
                f"SELECT DISTINCT season FROM read_json('{inputs}/batches/{name}', "
                "format = 'newline_delimited', columns = {'season': 'INTEGER'})"
            ).fetchall()
        )
    sqls = oracle_sqls()
    out = {"facts": rel_hash(con, "SELECT * FROM facts")}
    for name, q in (("silver", "silver_e1"), ("gold", "gold_ratings")):
        per_season = []
        for s in sorted(touched):
            con.execute(f"CREATE OR REPLACE VIEW lineitem AS SELECT * FROM facts WHERE season = {s}")
            con.execute(
                f"CREATE OR REPLACE TEMP TABLE {name}_{s} AS "
                f"SELECT *, {s} AS season FROM ({sqls[q]})"
            )
            per_season.append(f"SELECT * FROM {name}_{s}")
        out[name] = rel_hash(con, " UNION ALL ".join(per_season))
    return out


def expected(workload: str, inputs: str, cache_file: str, tmp_dir: str) -> tuple[dict, float]:
    """{output: hash} of one pass and the seconds spent (0.0 on a cache
    hit)."""
    if os.path.exists(cache_file):
        with open(cache_file) as fh:
            return json.load(fh), 0.0
    t0 = time.perf_counter()
    con = connect(tmp_dir)
    if workload == "matchday_upserts":
        res = _matchday_hashes(con, inputs)
    else:
        res = _corpus_hashes(con, inputs)
    con.close()
    os.makedirs(os.path.dirname(cache_file), exist_ok=True)
    with open(cache_file + ".tmp", "w") as fh:
        json.dump(res, fh)
    os.replace(cache_file + ".tmp", cache_file)
    return res, time.perf_counter() - t0


def actual(con, out_dir: str, outputs) -> dict[str, str]:
    return {o: rel_hash(con, output_sql(f"{out_dir}/{o}")) for o in outputs}


def corrupted(con, out_dir: str, output: str) -> str:
    """Hash of ``output`` with one value changed: the negative check.
    A gate that cannot tell this apart from the real output is broken."""
    sql = output_sql(f"{out_dir}/{output}")
    first = con.execute(f"DESCRIBE {sql}").fetchall()[0][0]
    return rel_hash(
        con,
        f"SELECT * EXCLUDE (rn) REPLACE (CASE WHEN rn = 1 "
        f"THEN coalesce(CAST(\"{first}\" AS VARCHAR), '') || '#' "
        f"ELSE CAST(\"{first}\" AS VARCHAR) END AS \"{first}\") "
        f"FROM (SELECT *, row_number() OVER () AS rn FROM ({sql}))",
    )
