"""Compare two sets of benchmark results, metric by metric.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are result files or directories of them (as written to
``perfbench/.work/results/``). Prints the median of each metric per
workload on both sides and NEW/BASE. Refuses to compare results taken
at different core counts: a number from one host shape never sits in
a ratio with a number from another.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def load(path: str) -> list[dict]:
    files = sorted(glob.glob(f"{path}/*.json")) if os.path.isdir(path) else [path]
    out = []
    for f in files:
        with open(f) as fh:
            out.append(json.load(fh))
    return out


def medians(results: list[dict]) -> dict[tuple[str, str], tuple[float, str]]:
    vals: dict[tuple[str, str], list[float]] = {}
    units: dict[tuple[str, str], str] = {}
    for r in results:
        w = r["stamp"]["workload"]
        for k, m in r["metrics"].items():
            vals.setdefault((w, k), []).append(m["value"])
            units[(w, k)] = m["unit"]
    return {k: (statistics.median(v), units[k]) for k, v in vals.items()}


def cores(results: list[dict]) -> set[tuple]:
    return {(r["stamp"]["nproc"], str(r["stamp"]["spark_graft_cpus"])) for r in results}


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = load(argv[0]), load(argv[1])
    shapes = cores(base) | cores(new)
    if len(shapes) != 1:
        print(f"refusing to compare results taken at different core counts: "
              f"{sorted(shapes)} (nproc, SPARK_GRAFT_CPUS)", file=sys.stderr)
        return 2
    mb, mn = medians(base), medians(new)
    print(f"{'workload':<20} {'metric':<48} {'base':>12} {'new':>12} {'new/base':>9}")
    for key in sorted(set(mb) & set(mn)):
        (b, unit), (n, _) = mb[key], mn[key]
        ratio = f"{n / b:9.3f}" if b else "        -"
        print(f"{key[0]:<20} {key[1]:<48} {b:12.4f} {n:12.4f} {ratio} {unit}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
