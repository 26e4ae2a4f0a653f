"""One scheduled job inside a fresh Python process and JVM.

Times the session set-up (process start -> session ready) and one pass
of the workload, the first in the fresh JVM (the cold pass). With
``--trace 1`` that pass is traced. The parent (``run.py``) hashes the
pass's outputs against the oracle.

Run through ``run.py``; this module is its child process.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import inspect  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from traits_data_spark.catalog.ann import (  # noqa: E402
    KMEANS_ITER, KMEANS_K, NEAR_DUP_THRESHOLD, SHARD_TARGET_SIZE,
)
from traits_data_spark.catalog.corpus import CURATE_BUDGET, CURATE_WEIGHTS  # noqa: E402
from traits_data_spark.catalog._shared import CURATE_STOPS  # noqa: E402
from traits_data_spark.catalog.dedup import DECON_BENCH_SOURCE, DECON_N  # noqa: E402
from traits_data_spark.catalog.relational import (  # noqa: E402
    FEATURE_STORE, GOLD_SPEC, PROFILE_SPEC, WEIGHTS, _GOLD_OUT,
)
from traits_data_spark.catalog.text import BPE_TRAIN_MAX_WORD_LEN  # noqa: E402
from traits_data_spark.operators.dedup import (  # noqa: E402
    dedup_clusters, jaccard_verify, minhash_lsh_candidates,
)
from traits_data_spark.operators.flatten import enforce_cast_contract  # noqa: E402
from traits_data_spark.operators.layout import balanced_shards  # noqa: E402
from traits_data_spark.operators.similarity import (  # noqa: E402
    keyed_near_dups, kmeans_clusters_topm,
)
from traits_data_spark.operators.text import kn4_doc_scores  # noqa: E402
from traits_data_spark.plans.curation import curate_corpus  # noqa: E402
from traits_data_spark.plans.gold import build_ratings  # noqa: E402
from traits_data_spark.plans.silver import (  # noqa: E402
    attach_any_season_totals, build_profiles,
)
from traits_data_spark.session import get_spark  # noqa: E402
from traits_data_spark.sinks.parquet import write_partitioned_parquet  # noqa: E402
from traits_data_spark.sinks.upsert import upsert_parquet_partition  # noqa: E402
from traits_data_spark.sources.readers import (  # noqa: E402
    read_json_files, read_parquet_table,
)

import spans as tr  # noqa: E402  (this directory is sys.path[0])
from gen import BATCH_DDL  # noqa: E402

FACT_KEYS = ["l_orderkey", "l_linenumber"]


def parquet_bytes(root: str) -> dict[str, int]:
    """{path: size} of every parquet data file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


# ---------------------------------------------------------------------------
# layer compositions (the same calls the catalog's oracle-backed queries make)
# ---------------------------------------------------------------------------


def silver_plan(facts):
    """E1: profiles -> ANY/season totals -> cast contract (``silver_e1``)."""
    profiles = build_profiles(
        facts, FEATURE_STORE, PROFILE_SPEC, strategy="explode",
        carry_cols=["l_suppkey", "l_returnflag"],
    )
    with_totals = attach_any_season_totals(
        profiles, PROFILE_SPEC,
        {"qty_for_season": "sum_qty", "lines_for_season": "n_lines"},
    )
    return enforce_cast_contract(
        with_totals, int_cols=["l_suppkey"],
        string_cols=["profileId", "aggregationPeriod", "l_returnflag"],
    )


def gold_plan(silver):
    """E2 over the silver table: z-scores -> weights hierarchy
    (``gold_ratings``)."""
    rated = build_ratings(
        silver.withColumnRenamed("l_returnflag", "positionGroup"), WEIGHTS, GOLD_SPEC
    )
    return rated.select(
        "profileId", "positionGroup", "aggregationPeriod",
        *[(F.col(c) + F.lit(0.0)).alias(c) for c in _GOLD_OUT],
    )


class Workload:
    """A pass: the work one scheduled job does after set-up."""

    def __init__(self, spark, tracer: tr.Tracer, inputs: str):
        self.spark = spark
        self.t = tracer
        self.inputs = inputs

    def landed_bytes(self) -> int:
        """Bytes of the input the pass consumes."""
        return sum(parquet_bytes(self.inputs).values())

    def prepare(self, out: str) -> None:
        """Untimed state the pass starts from."""

    def refresh(self, out: str) -> None:
        raise NotImplementedError

    def run_pass(self, out: str) -> dict:
        """Time one pass into ``out``; return its wall time and the
        parquet bytes it wrote (files new or changed in ``out``)."""
        os.makedirs(out, exist_ok=True)
        self.prepare(out)
        before = parquet_bytes(out)
        t0 = time.perf_counter()
        with self.t.span("pass") as sp:
            self.refresh(out)
        wall = time.perf_counter() - t0
        written = sum(v for f, v in parquet_bytes(out).items() if before.get(f) != v)
        return {"wall": wall, "span": sp.span_id, "written": written,
                "landed": self.landed_bytes()}


class MatchdayUpserts(Workload):
    """A matchday batch lands as JSON; it is upserted into the
    season-partitioned facts table, then the touched seasons' silver
    and gold partitions are rebuilt and rewritten."""

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.batches = sorted(os.listdir(f"{self.inputs}/batches"))

    def landed_bytes(self) -> int:
        return sum(os.path.getsize(f"{self.inputs}/batches/{b}") for b in self.batches)

    def prepare(self, out: str) -> None:
        shutil.copytree(f"{self.inputs}/facts", f"{out}/facts")

    def refresh(self, out: str) -> None:
        for name in self.batches:
            self.apply_batch(out, name)

    def apply_batch(self, out: str, name: str) -> None:
        t, spark = self.t, self.spark
        with t.span("sources") as sp:
            batch = read_json_files(spark, f"{self.inputs}/batches/{name}", schema=BATCH_DDL)
            batch = t.boundary(batch, sp)
            seasons = sorted(r[0] for r in batch.select("season").distinct().collect())
        with t.span("sinks.upsert") as up:
            up.rows_in = sp.rows_out
            upsert_parquet_partition(
                batch.filter(F.col("op") == "U").drop("op"),
                f"{out}/facts", FACT_KEYS, ["season"],
                deletes=batch.filter(F.col("op") == "D").select(*FACT_KEYS),
            )
        for s in seasons:
            with t.span("sources") as sp:
                facts = read_parquet_table(spark, f"{out}/facts", {"season": s})
                facts = t.boundary(facts, sp)
            with t.span("plans.silver") as sp:
                silver = silver_plan(facts.drop("season"))
                sp.built()
                silver = t.boundary(silver, sp)
            with t.span("sinks.parquet"):
                write_partitioned_parquet(
                    silver.withColumn("season", F.lit(s)), f"{out}/silver", ["season"]
                )
            with t.span("sources") as sp:
                sv = read_parquet_table(spark, f"{out}/silver", {"season": s})
                sv = t.boundary(sv.drop("season"), sp)
            with t.span("plans.gold") as sp:
                gold = gold_plan(sv)
                sp.built()
                gold = t.boundary(gold, sp)
            with t.span("sinks.parquet"):
                write_partitioned_parquet(
                    gold.withColumn("season", F.lit(s)), f"{out}/gold", ["season"]
                )


class CorpusCuration(Workload):
    """The LLM-data path: curate_corpus (the ``curate_corpus`` catalog
    configuration, src0 as the benchmark slice), the order-4 KN
    document scorer, then the ``semantic_dedup_sharded`` chain over the
    documents' embeddings (top-2 k-means assignment -> balanced shards
    -> shard-local cosine pairs -> connected components)."""

    def refresh(self, out: str) -> None:
        t = self.t
        with t.span("sources") as sp:
            docs = t.boundary(
                read_parquet_table(self.spark, f"{self.inputs}/documents.parquet"), sp
            )
        with t.span("plans.curation") as sp:
            curated = curate_corpus(
                docs.filter(F.col("source") != DECON_BENCH_SOURCE),
                docs.filter(F.col("source") == DECON_BENCH_SOURCE),
                min_words=30, stops=CURATE_STOPS, decon_n=DECON_N,
                decon_min_overlap=1, weights_ppm=CURATE_WEIGHTS,
                token_budget=CURATE_BUDGET,
            )
            sp.built()
            curated = t.boundary(curated, sp)
        with t.span("sinks.parquet"):
            write_partitioned_parquet(curated, f"{out}/curated", [])
        with t.span("operators.text") as sp:
            scores = kn4_doc_scores(docs, max_word_len=BPE_TRAIN_MAX_WORD_LEN)
            sp.built()
            scores = t.boundary(scores, sp)
        with t.span("sinks.parquet"):
            write_partitioned_parquet(scores, f"{out}/kn4", [])
        self.semantic_dedup(out)

    def semantic_dedup(self, out: str) -> None:
        """The catalog's ``semantic_dedup_sharded`` composition, one
        span per operator module."""
        t = self.t
        with t.span("sources") as sp:
            emb = t.boundary(
                read_parquet_table(self.spark, f"{self.inputs}/embeddings.parquet"), sp
            )
        with t.span("operators.similarity") as sp:
            asg = (
                kmeans_clusters_topm(emb, k=KMEANS_K, n_iter=KMEANS_ITER, m=2)
                .select("vec_id", "cluster")
                .persist()
            )
            n_asg = asg.count()
            n_shards = max(1, math.ceil(n_asg / float(SHARD_TARGET_SIZE)))
            sp.built()
            sp.rows_out += n_asg
        with t.span("operators.layout") as sp:
            sh = balanced_shards(asg, "vec_id", "cluster", n_shards)
            sp.built()
            sh = t.boundary(sh, sp)
        with t.span("operators.similarity") as sp:
            keyed = emb.join(sh.select("vec_id", "shard"), "vec_id")
            pairs = keyed_near_dups(keyed, "shard", threshold=NEAR_DUP_THRESHOLD).distinct()
            sp.built()
            pairs = t.boundary(pairs, sp)
        if t.enabled:
            # outside the layer spans, so it counts against coverage
            sp.pairs_in, sp.pairs_out = shard_comparisons(sh), sp.rows_out
        with t.span("operators.dedup") as sp:
            dedup = dedup_clusters(emb, pairs, "vec_id")
            sp.built()
            dedup = t.boundary(dedup, sp)
        with t.span("sinks.parquet"):
            write_partitioned_parquet(dedup, f"{out}/dedup", [])
        asg.unpersist()


def shard_comparisons(sh) -> int:
    """Pairs ``keyed_near_dups`` compares over a shard layout: row pairs
    of one shard with distinct ids (a vector whose two clusters land in
    one shard appears there twice)."""
    total = 0
    for r in sh.groupBy("shard", "vec_id").count().groupBy("shard").agg(
        F.sum("count").alias("n"), F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("same")
    ).collect():
        total += r["n"] * (r["n"] - 1) // 2 - int(r["same"])
    return total


def lsh_yield(spark, inputs: str) -> tuple[int, int]:
    """(candidate pairs, Jaccard-verified pairs) of the MinHash-LSH
    near-dup stage over the run's documents, with ``curate_corpus``'s
    own LSH settings (read from its signature). Run after the measured
    passes: inside ``curate_corpus`` the two counts are not separate
    outputs."""
    d = {k: v.default for k, v in inspect.signature(curate_corpus).parameters.items()}
    docs = read_parquet_table(spark, f"{inputs}/documents.parquet")
    cand = minhash_lsh_candidates(
        docs, "text", "doc_id", num_hashes=d["num_hashes"], bands=d["bands"],
        max_bucket_size=d["max_bucket_size"],
    ).persist()
    verified = jaccard_verify(cand, docs, "text", "doc_id", threshold=d["jaccard_threshold"])
    n_cand, n_verified = cand.count(), verified.count()
    cand.unpersist()
    return n_cand, n_verified


WORKLOADS = {
    "matchday_upserts": MatchdayUpserts,
    "corpus_curation": CorpusCuration,
}

BENCH_CONFS = {
    "spark.ui.showConsoleProgress": "false",
    # per-span job deltas need every job of the run still in the store
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedTasks": "1000000",
    "spark.sql.ui.retainedExecutions": "100000",
}


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    jvm_kb = 0
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def layer_report(tracer: tr.Tracer, wl: Workload, job: dict, setup_s: float,
                 work: str) -> dict:
    """Per-layer numbers of the traced pass, the derived ratios, and
    the time the tracer spent materialising layer outputs."""
    rest = tr.collect(tracer.spark, tracer.spans)
    pass_span = tracer.spans[job["span"]]
    out = tr.layer_metrics(tracer.spans, rest, pass_span)
    out.update(tr.ratios(tracer.spans, rest, pass_span))
    cand, verified = lsh_yield(wl.spark, wl.inputs) if isinstance(wl, CorpusCuration) else (0, 0)
    out["operators.dedup.lsh_yield"] = verified / cand if cand else 0.0
    out["session.wall_s"] = out["session.self_s"] = out["session.build_s"] = setup_s
    out["trace.traced_wall_s"] = job["wall"]
    out["trace.boundary_s"] = tracer.boundary_s
    out["process.peak_rss_mb"] = peak_rss_mb(tracer.spark)
    tracer.dump(f"{work}/spans.jsonl")
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--result", required=True)
    a = ap.parse_args()

    local = f"{a.work}/spark-local"
    os.makedirs(local, exist_ok=True)
    confs = dict(BENCH_CONFS)
    confs["spark.local.dir"] = local
    # keep the JVM's temp files (and its perf-data file) inside the work dir
    confs["spark.driver.extraJavaOptions"] = f"-Djava.io.tmpdir={local} -XX:-UsePerfData"
    confs["spark.sql.warehouse.dir"] = f"{a.work}/warehouse"
    spark = get_spark(f"perfbench-{a.workload}", extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    setup_s = time.perf_counter() - T_PROCESS

    run_id = f"{a.workload}-{os.getpid()}"
    tracer = tr.Tracer(spark, bool(a.trace), run_id)
    # span 0 is the set-up interval itself
    tracer.spans.append(tr.Span("session", 0, None, run_id, T_PROCESS, T_PROCESS + setup_s))
    wl = WORKLOADS[a.workload](spark, tracer, a.inputs)
    job = wl.run_pass(f"{a.work}/out")

    res = {
        "setup_s": setup_s,
        "pass": job,
        "peak_rss_mb": peak_rss_mb(spark),
        "master": spark.sparkContext.master,
    }
    if a.trace:
        res["layers"] = layer_report(tracer, wl, job, setup_s, a.work)
    spark.stop()
    with open(a.result, "w") as fh:
        json.dump(res, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
