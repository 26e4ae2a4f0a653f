"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload matchday_upserts --seed 1 --seconds 1 --trace 0

Generates (or reuses) the seeded inputs, computes (or reuses) the
DuckDB oracle hashes, runs the workload as scheduled jobs, each in a
fresh child process and JVM, until ``--seconds`` have passed (at least
one job), checks every job's outputs against the oracle, and prints one
JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (medians over the jobs),
``--trace 1`` the per-layer ones of one traced job. A stamp line (host, cores, memory, load, source
revision, seed, sizes, generation and oracle time) is printed before
it and saved with the metrics under ``perfbench/.work/results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

WORKLOADS = ("matchday_upserts", "corpus_curation")
END_TO_END = {"setup_s": "s", "cold_s": "s", "write_amp": "ratio"}
RATIOS = {
    "plans.curation.keep_frac.exact_dedup": "ratio",
    "plans.curation.keep_frac.survivors": "ratio",
    "plans.curation.keep_frac.sampled": "ratio",
    "sinks.upsert.rows_rewritten_per_row_changed": "ratio",
    "sinks.upsert.partitions_rewritten": "count",
    "operators.dedup.lsh_yield": "ratio",
    "operators.similarity.pair_yield": "ratio",
    "trace.coverage": "ratio",
    "trace.traced_wall_s": "s",
    "trace.boundary_s": "s",
    # varies by more than a tenth between runs, so it is reported
    # here rather than gated as an end-to-end metric
    "process.peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    from spans import COUNTER_UNITS, LAYERS

    out = {f"{layer}.{c}": u for layer in LAYERS for c, u in COUNTER_UNITS.items()}
    out.update(RATIOS)
    return out


# a job is killed, and no further job starts, when the whole run would
# otherwise pass 180 s
DEADLINE_S = 165
T0 = time.perf_counter()


def reap(pgid: int) -> None:
    """Stop and wait out whatever the child left in its process group
    (the Spark JVM outlives its Python parent for a moment)."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        deadline = time.perf_counter() + grace
        try:
            os.killpg(pgid, sig)
            while time.perf_counter() < deadline:
                os.killpg(pgid, 0)
                time.sleep(0.1)
        except ProcessLookupError:
            return


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def source_revision() -> str:
    """git sha when the tree is a git checkout, else a digest of the
    program's source files (a plain checkout has no .git)."""
    try:
        sha = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10,
        )
        if sha.returncode == 0:
            return sha.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "traits_data_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return "src-" + h.hexdigest()[:16]


def driver_memory() -> str:
    """A quarter of the host's RAM, capped at 4g: the program's 16g
    default does not fit a small host."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return f"{max(1024, min(4096, total_kb // 1024 // 4))}m"


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def cpu_times() -> list[int]:
    """Host-wide jiffies from /proc/stat; field 7 is steal (time the
    hypervisor gave this VM's CPUs to someone else)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def run_job(workload: str, inputs: str, job_dir: str, trace: int, env: dict) -> dict | None:
    """One scheduled job in a fresh child process and JVM; its result,
    or None when it failed or ran past the deadline."""
    os.makedirs(f"{job_dir}/tmp")
    result_file = f"{job_dir}/child.json"
    cmd = [sys.executable, os.path.join(HERE, "workloads.py"), "--workload", workload,
           "--inputs", inputs, "--work", job_dir, "--trace", str(trace),
           "--result", result_file]
    with open(f"{job_dir}/child.log", "w") as log:
        child = subprocess.Popen(cmd, env=dict(env, TMPDIR=f"{job_dir}/tmp"), cwd=job_dir,
                                 stdout=subprocess.DEVNULL, stderr=log,
                                 start_new_session=True)
        try:
            child.wait(timeout=max(10.0, DEADLINE_S - (time.perf_counter() - T0)))
        except subprocess.TimeoutExpired:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
        reap(child.pid)
    if child.returncode == 0 and os.path.exists(result_file):
        with open(result_file) as fh:
            return json.load(fh)
    with open(f"{job_dir}/child.log") as fh:
        sys.stderr.write(fh.read()[-4000:])
    return None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full", choices=("full", "tiny"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "traits_data_spark")):
        return fail(f"no program to measure: {ROOT}/traits_data_spark is missing")
    sys.path.insert(0, ROOT)
    try:
        import gen
        import oracle
    except ImportError as exc:
        return fail(f"cannot import the program or its toolchain: {exc}")

    cpus = os.cpu_count() or 1
    env_cpus = os.environ.get("SPARK_GRAFT_CPUS", str(cpus))
    stamp = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "size": a.size, "sizes": gen.SIZES[a.workload][a.size],
        "nproc": cpus, "spark_graft_cpus": env_cpus,
        "driver_memory": driver_memory(), "load_start": loadavg(),
        "revision": source_revision(),
    }

    inputs, stamp["gen_s"] = gen.ensure_inputs(f"{WORK}/inputs", a.workload, a.seed, a.size)
    want, stamp["oracle_s"] = oracle.expected(
        a.workload, inputs, f"{WORK}/oracle/{os.path.basename(inputs)}.json",
        f"{WORK}/duckdb-tmp",
    )

    run_dir = f"{WORK}/run/{a.workload}"
    shutil.rmtree(run_dir, ignore_errors=True)
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=env_cpus,
        SPARK_GRAFT_DRIVER_MEM=stamp["driver_memory"],
        PYTHONDONTWRITEBYTECODE="1",
    )
    # Closed loop, one client: scheduled jobs, each a fresh process and
    # JVM, back to back until --seconds have passed (a traced run is one
    # job). Every job's outputs are checked against the oracle.
    jobs: list[dict] = []
    errors, attempted, mismatched = 0, 0, 0
    con = oracle.connect(f"{WORK}/duckdb-tmp")
    jiffies = cpu_times()
    t_start = time.perf_counter()
    while True:
        job_dir = f"{run_dir}/job-{len(jobs)}"
        res = run_job(a.workload, inputs, job_dir, a.trace, env)
        if res is None:
            errors += 1
            break
        jobs.append(res)
        for name, h in oracle.actual(con, f"{job_dir}/out", want).items():
            attempted += 1
            if h != want[name]:
                mismatched += 1
                print(f"perfbench: {job_dir}/out/{name}: got {h}, oracle {want[name]}",
                      file=sys.stderr)
        now = time.perf_counter()
        per_job = (now - t_start) / len(jobs)
        if a.trace or now - t_start >= a.seconds or now - T0 + per_job > DEADLINE_S:
            break
    if jobs:
        # negative check: a corrupted output must fail the gate
        first = next(iter(want))
        stamp["negative_check"] = oracle.corrupted(con, f"{job_dir}/out", first) != want[first]
        if not stamp["negative_check"]:
            mismatched += 1
    con.close()
    delta = [b - a for a, b in zip(jiffies, cpu_times())]
    stamp["cpu_steal_frac"] = delta[7] / max(1, sum(delta))
    stamp["load_end"] = loadavg()
    stamp["jobs"] = len(jobs)

    metrics: dict[str, dict] = {}
    if jobs:
        e2e = {
            "setup_s": statistics.median(j["setup_s"] for j in jobs),
            "cold_s": statistics.median(j["pass"]["wall"] for j in jobs),
            "write_amp": statistics.median(j["pass"]["written"] / j["pass"]["landed"]
                                           for j in jobs),
        }
        stamp["peak_rss_mb"] = max(j["peak_rss_mb"] for j in jobs)
        stamp["master"] = jobs[0]["master"]
        if a.trace:
            metrics = {k: {"value": jobs[0]["layers"][k], "unit": u}
                       for k, u in per_layer_units().items()}
            stamp["traced"] = e2e
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
            stamp["end_to_end"] = e2e

    failed = errors + mismatched
    out = {"correct": failed == 0, "attempted": max(1, attempted + errors),
           "failed": failed, "metrics": metrics}
    os.makedirs(f"{WORK}/results", exist_ok=True)
    with open(f"{WORK}/results/{a.workload}-s{a.seed}-t{a.trace}-{int(time.time())}.json",
              "w") as fh:
        json.dump({"stamp": stamp, **out}, fh, indent=1)
    print(json.dumps({"stamp": stamp}))
    print(json.dumps(out))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
