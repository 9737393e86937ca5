"""Smoke test of the benchmark itself: tiny inputs, every output check on.

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts its own SparkSession in a child process (about a minute
each on 4 cores, most of it JVM start and warm-up).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize(
    "workload,trace", [("crawl_budgeted", 0), ("neardup", 0), ("crawl_budgeted", 1)]
)
def test_smoke_run_is_correct_and_complete(workload, trace):
    res = _run(workload, trace)
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    spec = _spec()
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want


def test_unknown_workload_fails_without_result():
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "nope"],
        cwd=ROOT, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0 and not out.stdout.strip()
