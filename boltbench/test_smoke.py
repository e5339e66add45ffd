"""Smoke test for the served-path benchmark: every workload at sf 0.01 with
a one-second window, once untraced and once traced.

    python3 -m pytest boltbench/test_smoke.py -q     (from the repository root)

It checks that every metric named in BENCHMARK.json prints with its unit,
that every reply passed its check, that the traced run's spans nest inside
their parents and cover each measured statement, and that the
deterministic counters of the single-connection workloads repeat between
the two runs. It takes a few minutes: each run starts its own Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

SCALE = 0.01
SEED = 7

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(workload: str, trace: int) -> tuple[dict, list[str]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--scale", str(SCALE)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines


def check_metrics(result: dict, lines: list[str], spec: list[dict]) -> None:
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        assert any(ln.startswith(f"metric {m['name']} ") and ln.endswith(f" {m['unit']}")
                   for ln in lines), m["name"]


def check_spans(workload: str) -> None:
    path = os.path.join(ROOT, ".boltbench", f"trace-{workload}-seed{SEED}-sf{SCALE:g}.json")
    with open(path) as fh:
        report = json.load(fh)
    spans = {sp["idx"]: sp for sp in report["spans"]}
    for sp in spans.values():
        assert sp["start"] <= sp["end"]
        if sp["parent"] is not None:
            parent = spans[sp["parent"]]
            assert parent["stmt"] == sp["stmt"]
            assert parent["start"] <= sp["start"] and sp["end"] <= parent["end"]
    roots = {sp["stmt"] for sp in spans.values() if sp["name"] == "cypher.run"}
    for stmt in report["statements"]:
        assert stmt["id"] in roots
        assert stmt["t_ret"] <= stmt["t_first"] <= stmt["t_end"]


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload(workload: str) -> None:
    result, lines = run(workload, trace=0)
    check_metrics(result, lines, SPEC["end_to_end"])
    result, lines = run(workload, trace=1)
    check_metrics(result, lines, SPEC["per_layer"])
    check_spans(workload)
    assert result["metrics"]["trace.coverage_pct"]["value"] >= 90.0
    if WORKLOADS[workload].connections == 1:
        assert any(ln.startswith("counters_repeat yes") for ln in lines), \
            [ln for ln in lines if ln.startswith("counters")]
