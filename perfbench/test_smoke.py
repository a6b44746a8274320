"""Toy-size smoke test of the benchmark (a few thousand docs per side).

    python3 -m pytest perfbench/test_smoke.py -q

Each case launches ``perfbench/run.py`` in a child process (about a
minute each) and checks the printed result line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int, *extra: str) -> tuple[int, dict]:
    cmd = [
        sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
        "--seed", "5", "--seconds", "1", "--trace", str(trace), "--size", "toy",
        *extra,
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    assert lines, proc.stderr[-3000:]
    return proc.returncode, json.loads(lines[-1])


@pytest.mark.parametrize(
    "workload,trace", [(w["name"], t) for w in SPEC["workloads"] for t in (0, 1)]
)
def test_every_metric_printed_with_its_unit(workload, trace):
    rc, res = _run(workload, trace)
    assert rc == 0 and res["correct"], res
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["attempted"] >= 1 and res["failed"] == 0
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert list(res["metrics"]) == [m["name"] for m in wanted]
    for m in wanted:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        if not trace:
            assert got["value"] > 0, m["name"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_wrong_expectation_trips_the_gate(workload):
    rc, res = _run(workload, 0, "--break-expectation")
    assert rc == 1
    assert res["correct"] is False and res["failed"] >= 1
