"""Seeded input generator for the benchmark workloads.

Every table is written in the catalog's schema (the ``lineitem``-shaped
facts, ``documents``, ``embeddings``) so the catalog's DuckDB oracles run on
the generated files unchanged. Inputs are cached on disk by
(workload, seed, size): the same key gives byte-identical files, and a
cache hit costs nothing.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload. ``full`` is what a measured run uses;
# ``tiny`` is for the smoke test.
SIZES: dict[str, dict[str, dict[str, int]]] = {
    "matchday_upserts": {
        "full": {"rows": 30_000, "players": 1_500, "seasons": 7,
                 "batches": 1, "batch_rows": 600},
        "tiny": {"rows": 2_200, "players": 100, "seasons": 3,
                 "batches": 1, "batch_rows": 60},
    },
    "corpus_curation": {
        "full": {"docs": 240, "sources": 20, "vectors": 400, "clusters": 10},
        "tiny": {"docs": 120, "sources": 20, "vectors": 200, "clusters": 10},
    },
}

POSITIONS = np.array(["A", "N", "R"])
SLOTS_PER_MATCH = 22
FIRST_SEASON = 2018

# One facts row: (column, Arrow type, DuckDB type, Spark type). A landed
# matchday record is a facts row plus ``op`` ("U" upsert, "D" retraction).
FACT_COLUMNS = [
    ("l_orderkey", pa.int64(), "BIGINT", "BIGINT"),
    ("l_partkey", pa.int64(), "BIGINT", "BIGINT"),
    ("l_suppkey", pa.int64(), "BIGINT", "BIGINT"),
    ("l_linenumber", pa.int32(), "INTEGER", "INT"),
    ("l_quantity", pa.float64(), "DOUBLE", "DOUBLE"),
    ("l_extendedprice", pa.float64(), "DOUBLE", "DOUBLE"),
    ("l_discount", pa.float64(), "DOUBLE", "DOUBLE"),
    ("l_tax", pa.float64(), "DOUBLE", "DOUBLE"),
    ("l_returnflag", pa.string(), "VARCHAR", "STRING"),
    ("l_linestatus", pa.string(), "VARCHAR", "STRING"),
    ("l_shipdate", pa.timestamp("us", tz="UTC"), "TIMESTAMPTZ", "TIMESTAMP"),
    ("season", pa.int32(), "INTEGER", "INT"),
]
FACT_SCHEMA = pa.schema([(c, arrow) for c, arrow, _, _ in FACT_COLUMNS])
BATCH_DDL = ", ".join(f"{c} {spark}" for c, _, _, spark in FACT_COLUMNS) + ", op STRING"


# ---------------------------------------------------------------------------
# match-player facts (lineitem-shaped, catalog PROFILE_SPEC mapping)
# ---------------------------------------------------------------------------


class _League:
    """Players with a fixed position group and Zipf-skewed appearance
    weights; matches numbered in time order, seasons in equal blocks."""

    def __init__(self, rng: np.random.Generator, players: int):
        self.rng = rng
        self.players = players
        self.position = POSITIONS[rng.integers(0, 3, players)]
        w = 1.0 / np.arange(1, players + 1) ** 0.8
        self.weights = rng.permutation(w / w.sum())

    def rows(self, match_ids: np.ndarray, seasons: np.ndarray) -> dict:
        """One row per (match, slot)."""
        rng = self.rng
        n = len(match_ids) * SLOTS_PER_MATCH
        order = np.repeat(match_ids, SLOTS_PER_MATCH)
        season = np.repeat(seasons, SLOTS_PER_MATCH)
        line = np.tile(np.arange(1, SLOTS_PER_MATCH + 1), len(match_ids))
        player = rng.choice(self.players, n, p=self.weights)
        return self.values(order, line, player, season)

    def values(self, order, line, player, season) -> dict:
        rng = self.rng
        n = len(order)
        day = (order % 300).astype("int64")
        base = np.array(
            [datetime(FIRST_SEASON, 8, 1) + timedelta(days=365 * int(s))
             for s in range(16)], dtype="datetime64[us]"
        )
        shipdate = base[season - FIRST_SEASON] + day.astype("timedelta64[D]")
        return {
            "l_orderkey": order.astype("int64"),
            "l_partkey": rng.integers(1, 2_000, n).astype("int64"),
            "l_suppkey": (player + 1).astype("int64"),
            "l_linenumber": line.astype("int32"),
            "l_quantity": rng.integers(1, 91, n).astype("float64"),
            "l_extendedprice": np.round(rng.uniform(900.0, 100_000.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": self.position[player],
            "l_linestatus": np.where(rng.random(n) < 0.5, "O", "F"),
            "l_shipdate": shipdate,
            "season": season.astype("int32"),
        }


def _fact_table(cols: dict) -> pa.Table:
    return pa.table({f.name: pa.array(cols[f.name], f.type) for f in FACT_SCHEMA})


def _league_facts(rng, size) -> tuple[_League, dict, int]:
    league = _League(rng, size["players"])
    matches = max(size["seasons"], size["rows"] // SLOTS_PER_MATCH)
    match_ids = np.arange(1, matches + 1)
    seasons = FIRST_SEASON + (match_ids - 1) * size["seasons"] // matches
    return league, league.rows(match_ids, seasons), matches


def _json_line(rec: dict) -> str:
    return json.dumps(rec, separators=(",", ":"))


def gen_matchday(out: str, seed: int, size: dict) -> None:
    """The initial facts table (hive-partitioned by season) and a
    seeded stream of matchday batches as JSON lines: ~70% new rows in
    the latest season, ~25% corrections and ~5% retractions of live
    rows of the latest season (the season in play), so a batch touches
    one season partition."""
    rng = np.random.default_rng(seed)
    league, cols, matches = _league_facts(rng, size)
    table = _fact_table(cols)
    pq.write_to_dataset(
        table, f"{out}/facts", partition_cols=["season"],
        basename_template="part-{i}.parquet",
    )
    latest = FIRST_SEASON + size["seasons"] - 1
    recent = cols["season"] == latest
    live = {
        (int(o), int(l)): (int(p) - 1, int(s))
        for o, l, p, s in zip(
            cols["l_orderkey"][recent], cols["l_linenumber"][recent],
            cols["l_suppkey"][recent], cols["season"][recent],
        )
    }
    next_match = matches + 1
    os.makedirs(f"{out}/batches")
    for b in range(size["batches"]):
        n = size["batch_rows"]
        n_new_matches = max(1, round(0.70 * n / SLOTS_PER_MATCH))
        n_fix = round(0.25 * n)
        n_del = max(1, round(0.05 * n))
        new_ids = np.arange(next_match, next_match + n_new_matches)
        next_match += n_new_matches
        new = league.rows(new_ids, np.full(n_new_matches, latest))
        keys = sorted(live)
        pick = rng.choice(len(keys), n_fix + n_del, replace=False)
        fixed = [keys[i] for i in pick[:n_fix]]
        retracted = [keys[i] for i in pick[n_fix:]]
        fix = league.values(
            np.array([k[0] for k in fixed]),
            np.array([k[1] for k in fixed]),
            np.array([live[k][0] for k in fixed]),
            np.array([live[k][1] for k in fixed]),
        )
        gone = league.values(
            np.array([k[0] for k in retracted]),
            np.array([k[1] for k in retracted]),
            np.array([live[k][0] for k in retracted]),
            np.array([live[k][1] for k in retracted]),
        )
        for k in retracted:
            del live[k]
        for o, l, p in zip(new["l_orderkey"], new["l_linenumber"], new["l_suppkey"]):
            live[(int(o), int(l))] = (int(p) - 1, latest)
        lines = []
        for part, op in ((new, "U"), (fix, "U"), (gone, "D")):
            t = _fact_table(part).to_pylist()
            for rec in t:
                rec["l_shipdate"] = rec["l_shipdate"].isoformat()
                rec["op"] = op
                lines.append(_json_line(rec))
        order = rng.permutation(len(lines))
        with open(f"{out}/batches/batch-{b:03d}.json", "w") as fh:
            fh.write("\n".join(lines[i] for i in order) + "\n")


# ---------------------------------------------------------------------------
# corpus (documents table)
# ---------------------------------------------------------------------------

_VOCAB = (
    "the a spark stream fast slow key order sort table scan merge part "
    "window small big hash join batch data row column filter group query "
    "value line agg vector customer dup shard token model index cache "
    "plan stage task job node graph edge score rank weight layer season "
    "match player minute rating profile gold silver bronze corpus text "
    "word gram shingle bucket band cluster centroid cell probe code "
    "residual"
).split()
_LANGS = ["en", "de", "fr", "es", "zh"]


def _doc_text(rng, n_words: int) -> list[str]:
    p = 1.0 / np.arange(1, len(_VOCAB) + 1) ** 0.7
    idx = rng.choice(len(_VOCAB), n_words, p=p / p.sum())
    return [_VOCAB[i] for i in idx]


def gen_documents(out: str, seed: int, size: dict) -> None:
    """Documents over ``sources`` sources x 5 languages; ``src0`` is the
    decontamination benchmark slice. ~10% exact duplicates, ~10%
    one-word-edit near-duplicates (word-5-gram Jaccard >= 0.8 on
    documents of 60+ words), ~2% documents carrying a 12-word span
    copied from a ``src0`` document, and a tail of short documents the
    quality rules drop."""
    rng = np.random.default_rng(seed)
    n = size["docs"]
    sources = [f"src{rng.integers(0, size['sources'])}" for _ in range(n)]
    texts: list[list[str]] = []
    for i in range(n):
        r = rng.random()
        if i >= 10 and r < 0.10:
            texts.append(list(texts[rng.integers(0, i)]))
        elif i >= 10 and r < 0.20:
            src = texts[rng.integers(0, i)]
            doc = list(src)
            doc[rng.integers(0, len(doc))] = _VOCAB[rng.integers(0, len(_VOCAB))]
            texts.append(doc)
        elif r < 0.25:
            texts.append(_doc_text(rng, int(rng.integers(5, 30))))
        else:
            texts.append(_doc_text(rng, int(rng.integers(60, 160))))
    bench = [i for i, s in enumerate(sources) if s == "src0"]
    for i in range(n):
        if bench and sources[i] != "src0" and rng.random() < 0.02:
            b = texts[bench[rng.integers(0, len(bench))]]
            if len(b) >= 12 and len(texts[i]) >= 12:
                at = int(rng.integers(0, len(b) - 11))
                texts[i] = texts[i][:12] + b[at:at + 12] + texts[i][24:]
    text = [" ".join(t) for t in texts]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array([_LANGS[rng.integers(0, 5)] for _ in range(n)]),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )
    pq.write_table(table, f"{out}/documents.parquet")


# ---------------------------------------------------------------------------
# embeddings
# ---------------------------------------------------------------------------

EMB_DIM = 64


def gen_embeddings(out: str, seed: int, size: dict) -> None:
    """64-d float vectors in ``clusters`` loose Gaussian clusters with
    ~5% injected near-duplicates (a copy of an earlier vector plus small
    noise). The cluster spread puts ~1% of all pairs at cosine >= 0.3
    (the catalog's near-dup threshold), as in the repo's test
    embeddings, so the near-dup graph is sparse."""
    rng = np.random.default_rng([seed, 1])
    n, k = size["vectors"], size["clusters"]
    centers = rng.normal(0.0, 1.0, (k, EMB_DIM))
    label = rng.integers(0, k, n)
    vecs = centers[label] + rng.normal(0.0, 3.0, (n, EMB_DIM))
    for i in range(20, n):
        if rng.random() < 0.05:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.normal(0.0, 0.01, EMB_DIM)
            label[i] = label[j]
    vecs = np.round(vecs, 4).astype("float32")
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(label.astype("int32")),
        }
    )
    pq.write_table(table, f"{out}/embeddings.parquet")


def gen_corpus(out: str, seed: int, size: dict) -> None:
    """The LLM-data inputs: the documents table and its embeddings."""
    gen_documents(out, seed, size)
    gen_embeddings(out, seed, size)


GENERATORS = {
    "matchday_upserts": gen_matchday,
    "corpus_curation": gen_corpus,
}


def input_key(workload: str, seed: int, size_name: str) -> str:
    """Cache key of one input set: the size parameters themselves, not
    just their name, so resized inputs never reuse stale files."""
    size = SIZES[workload][size_name]
    params = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    return f"{workload}-{size_name}-{params}-s{seed}"


def ensure_inputs(cache_root: str, workload: str, seed: int, size_name: str) -> tuple[str, float]:
    """Return (input dir, seconds spent generating; 0.0 on a cache hit)."""
    out = f"{cache_root}/{input_key(workload, seed, size_name)}"
    if os.path.exists(f"{out}/.done"):
        return out, 0.0
    t0 = time.perf_counter()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    GENERATORS[workload](tmp, seed, SIZES[workload][size_name])
    open(f"{tmp}/.done", "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, time.perf_counter() - t0
