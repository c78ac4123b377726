"""Self-test of the benchmark on its smallest inputs.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs once untraced and once traced with ``--tiny``; the
result line must name every metric of BENCHMARK.json with its unit.  A
run whose engine results are deliberately corrupted must report failed
ops, and a directory holding only the benchmark must fail without a
result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]

# Adds one row to every result the engine returns before it is checked.
CORRUPT = """
import runpy, sys
sys.path.insert(0, ".")
from perfbench import oracle
real = oracle.spark_answer
oracle.spark_answer = lambda df, cols, extra=(): (lambda g: (g[0] + 1, *g[1:]))(
    real(df, cols, extra))
sys.argv = ["perfbench/run.py", *sys.argv[1:]]
runpy.run_path("perfbench/run.py", run_name="__main__")
"""


def bench(workload: str, trace: int = 0, cwd: str = ROOT, prelude: str | None = None):
    args = ["--workload", workload, "--seed", "3", "--seconds", "1",
            "--trace", str(trace), "--tiny"]
    head = ["-c", prelude] if prelude else ["perfbench/run.py"]
    return subprocess.run([sys.executable, *head, *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def result(out) -> dict:
    assert out.returncode == 0, out.stderr[-4000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    return res


def error_rate(out, workload: str) -> float:
    for line in out.stdout.splitlines():
        parts = line.split()
        if parts[:2] == [workload, "error_rate"]:
            assert parts[3] == "ratio"
            return float(parts[2])
    raise AssertionError("no error_rate line")


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_is_printed_with_its_unit(workload, trace):
    out = bench(workload, trace)
    res = result(out)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in want}
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
    assert error_rate(out, workload) == 0.0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_result_raises_error_rate(workload):
    out = bench(workload, prelude=CORRUPT)
    res = result(out)
    assert not res["correct"] and res["failed"] > 0
    assert error_rate(out, workload) > 0.0


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = bench(WORKLOADS[0], cwd=str(tmp_path))
    assert out.returncode != 0
    assert not out.stdout.strip()
