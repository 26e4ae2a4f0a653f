"""Spans around layer calls, one Spark job group per span, and the
collector that turns Spark's own REST stage/SQL metrics into
per-layer numbers.

Spans live in memory and are written out when the run ends. With
tracing off, ``span`` only times the block and ``boundary`` is the
identity, so the untraced run executes exactly the program's plans.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

LAYERS = (
    "session",
    "sources",
    "plans.silver",
    "plans.gold",
    "plans.curation",
    "operators.text",
    "operators.similarity",
    "operators.layout",
    "operators.dedup",
    "sinks.parquet",
    "sinks.upsert",
)
COUNTER_UNITS = {"wall_s": "s", "self_s": "s", "build_s": "s", "jobs": "count",
                 "task_s": "s", "shuffle_write_mb": "MB", "rows_out": "count"}


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    build_end: float | None = None
    rows_out: int = 0
    rows_in: int = 0
    # a pair-finding span's candidate comparisons and the pairs it kept
    pairs_in: int = 0
    pairs_out: int = 0
    job_ids: list[int] = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"{self.run_id}:{self.span_id}"

    def built(self) -> None:
        """Mark the moment the layer call returned its DataFrame."""
        self.build_end = time.perf_counter()


class Tracer:
    def __init__(self, spark, enabled: bool, run_id: str):
        self.spark = spark
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        # time spent persisting and counting layer outputs: work the
        # untraced run does not do
        self.boundary_s = 0.0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(name, len(self.spans), parent, self.run_id, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext
        if self.enabled:
            sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                outer = self._stack[-1] if self._stack else None
                if outer is not None:
                    sc.setJobGroup(outer.group, outer.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def boundary(self, df, span: Span):
        """Traced runs materialise a layer's output at its boundary so
        the next span's time is its own work; untraced runs pass the
        frame through untouched."""
        if not self.enabled:
            return df
        from pyspark import StorageLevel

        if span.build_end is None:
            span.built()
        t0 = time.perf_counter()
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        span.rows_out += df.count()
        self.boundary_s += time.perf_counter() - t0
        return df

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp)) + "\n")


# ---------------------------------------------------------------------------
# REST collection
# ---------------------------------------------------------------------------


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def collect(spark, spans: list[Span], timeout: float = 30.0) -> dict:
    """{span id: jobs, task_s, shuffle_write_mb, sql executions}, read
    from the Spark UI REST API (no extra Spark jobs). Waits until the
    REST store has every job of the spans in a final state: the listener
    bus that feeds it is asynchronous."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    tracker = sc.statusTracker()
    want = {j for sp in spans for j in tracker.getJobIdsForGroup(sp.group)}
    deadline = time.time() + timeout
    while True:
        jobs = _get(f"{base}/jobs")
        done = {j["jobId"] for j in jobs if j["status"] in ("SUCCEEDED", "FAILED")}
        if want <= done or time.time() > deadline:
            break
        time.sleep(0.2)
    stages = _get(f"{base}/stages")
    sql = _get(f"{base}/sql?details=true&planDescription=false&length=100000")
    by_group: dict[str, list[dict]] = {}
    for j in jobs:
        by_group.setdefault(j.get("jobGroup"), []).append(j)
    out = {}
    for sp in spans:
        sj = by_group.get(sp.group, [])
        sp.job_ids = sorted(j["jobId"] for j in sj)
        stage_ids = {sid for j in sj for sid in j["stageIds"]}
        ran = [st for st in stages if st["stageId"] in stage_ids and st["status"] != "SKIPPED"]
        jid = set(sp.job_ids)
        out[sp.span_id] = {
            "jobs": len(sj),
            "task_s": sum(st.get("executorRunTime", 0) for st in ran) / 1000.0,
            "shuffle_write_mb": sum(st.get("shuffleWriteBytes", 0) for st in ran) / 1e6,
            "sql": [e for e in sql if jid & set(e.get("successJobIds", []) + e.get("failedJobIds", []))],
        }
    return out


def _num(value) -> int:
    """A SQL metric value ("1,234" or "1234") as an int."""
    return int("".join(ch for ch in str(value) if ch.isdigit()) or 0)


def _rows(node: dict) -> int | None:
    for m in node.get("metrics", []):
        if m.get("name") == "number of output rows":
            return _num(m["value"])
    return None


def exec_rows(e: dict) -> int | None:
    """Output rows of one SQL execution: the row count of the topmost
    plan node that has one (edges run child -> parent)."""
    nodes = {n["nodeId"]: n for n in e.get("nodes", [])}
    kids: dict[int, list[int]] = {}
    for ed in e.get("edges", []):
        kids.setdefault(ed["toId"], []).append(ed["fromId"])
    children = {c for cs in kids.values() for c in cs}
    queue = [i for i in nodes if i not in children]
    while queue:
        i = queue.pop(0)
        r = _rows(nodes[i])
        if r is not None:
            return r
        queue += kids.get(i, [])
    return None


def node_metric(execs: list[dict], node_prefix: str, metric: str) -> int:
    """Sum of ``metric`` over nodes whose name starts with ``node_prefix``."""
    total = 0
    for e in execs:
        for n in e.get("nodes", []):
            if not n.get("nodeName", "").startswith(node_prefix):
                continue
            for m in n.get("metrics", []):
                if m.get("name") == metric:
                    total += _num(m["value"])
    return total


WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"


def ratios(spans: list[Span], rest: dict, pass_span: Span) -> dict:
    """Yields read where the work happens, from SQL-node row counts.

    - the curation funnel: rows kept after the exact-dedup barrier, after
      the last barrier (near-dup + decontamination survivors) and in the
      sampled output, each over the documents read;
    - upsert write amplification: rows the upsert rewrote per row the
      batch changed, and partitions rewritten per upsert;
    - the shard-local near-dup pair yield: pairs kept over the pairs
      compared within shards.
    """
    inside = [sp for sp in spans if sp.parent == pass_span.span_id]

    def execs(layer: str) -> list[dict]:
        return sorted(
            (e for sp in inside if sp.name == layer for e in rest[sp.span_id]["sql"]),
            key=lambda e: e["id"],
        )

    out = {}
    docs_in = next((sp.rows_out for sp in inside if sp.name == "sources"), 0)
    # barrier executions; the boundary's own count() is a 1-row aggregate
    funnel = [r for r in map(exec_rows, execs("plans.curation")) if r not in (None, 1)]
    curated = sum(sp.rows_out for sp in inside if sp.name == "plans.curation")
    for stage, rows in (
        ("exact_dedup", funnel[0] if funnel else 0),
        ("survivors", funnel[-1] if funnel else 0),
        ("sampled", curated),
    ):
        out[f"plans.curation.keep_frac.{stage}"] = rows / docs_in if docs_in else 0.0
    upserts = [sp for sp in inside if sp.name == "sinks.upsert"]
    up = execs("sinks.upsert")
    changed = sum(sp.rows_in for sp in upserts)
    rewritten = node_metric(up, WRITE_NODE, "number of output rows")
    out["sinks.upsert.rows_rewritten_per_row_changed"] = rewritten / changed if changed else 0.0
    out["sinks.upsert.partitions_rewritten"] = (
        node_metric(up, WRITE_NODE, "number of dynamic part") / len(upserts) if upserts else 0.0
    )
    sim = [sp for sp in inside if sp.name == "operators.similarity"]
    compared = sum(sp.pairs_in for sp in sim)
    out["operators.similarity.pair_yield"] = (
        sum(sp.pairs_out for sp in sim) / compared if compared else 0.0
    )
    return out


def layer_metrics(spans: list[Span], rest: dict, pass_span: Span) -> dict:
    """Per-layer counters summed over every span of that layer inside
    ``pass_span``; self time is a span's duration minus its children's."""
    inside = [sp for sp in spans if sp.parent == pass_span.span_id]
    child_time: dict[int, float] = {}
    for sp in spans:
        if sp.parent is not None:
            child_time[sp.parent] = child_time.get(sp.parent, 0.0) + (sp.end - sp.start)
    out = {f"{layer}.{c}": 0.0 for layer in LAYERS for c in COUNTER_UNITS}
    for sp in inside:
        wall = sp.end - sp.start
        r = rest.get(sp.span_id, {"jobs": 0, "task_s": 0.0, "shuffle_write_mb": 0.0})
        vals = {
            "wall_s": wall,
            "self_s": wall - child_time.get(sp.span_id, 0.0),
            "build_s": (sp.build_end or sp.end) - sp.start,
            "jobs": r["jobs"],
            "task_s": r["task_s"],
            "shuffle_write_mb": r["shuffle_write_mb"],
            "rows_out": sp.rows_out,
        }
        for c, v in vals.items():
            out[f"{sp.name}.{c}"] += v
    covered = sum(sp.end - sp.start for sp in inside)
    out["trace.coverage"] = covered / max(pass_span.end - pass_span.start, 1e-9)
    return out
