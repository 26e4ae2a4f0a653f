"""Tiny-size smoke test: every gated workload, untraced and traced, is
correct and emits every metric BENCHMARK.json names, with its unit.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


def run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        capture_output=True, text=True, timeout=600, cwd=ROOT,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_emitted_with_unit(workload: str, trace: int) -> None:
    res = run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    named = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in named}
    for m in named:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    if trace:
        m = {k: v["value"] for k, v in res["metrics"].items()}
        assert m["trace.coverage"] >= 0.9
        layers = (("plans.curation", "operators.text", "operators.similarity",
                   "operators.layout", "operators.dedup")
                  if workload == "corpus_curation"
                  else ("plans.silver", "plans.gold", "sinks.upsert"))
        for layer in layers:
            assert m[f"{layer}.jobs"] > 0, layer
        if workload == "corpus_curation":
            assert 0 < m["operators.similarity.pair_yield"] <= 1
            assert 0 < m["operators.dedup.lsh_yield"] <= 1


def test_program_missing_is_an_error(tmp_path) -> None:
    """Without the program next to it the benchmark fails without a result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            (bench / f).write_text(open(os.path.join(HERE, f)).read())
    out = subprocess.run(
        [sys.executable, str(bench / "run.py"), "--workload", BENCH["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        capture_output=True, text=True, timeout=180, cwd=tmp_path,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""
