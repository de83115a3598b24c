"""Self-tests of the benchmark.

    python3 -m pytest perfbench -q              # all, about ten minutes
    python3 -m pytest perfbench -q -k "not run" # the fast ones

- The op list is a pure function of (workload, seed, scale).
- BENCHMARK.json names exactly the metrics run.py prints.
- A tiny-scale run of every workload prints every named metric with its
  unit and passes its checks, untraced and traced.
- A deliberately corrupted expected answer is counted as a failed op.
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

from layers import PER_LAYER  # noqa: E402
from run import END_TO_END, workloads  # noqa: E402

WORKLOADS = sorted(workloads())


@pytest.mark.parametrize("name", WORKLOADS)
def test_op_list_is_a_pure_function_of_the_seed(name):
    cls = workloads()[name]
    a = cls(None, "", 1.0).op_list(7, 5)
    b = cls(None, "", 1.0).op_list(7, 5)
    c = cls(None, "", 1.0).op_list(8, 5)
    assert a == b
    assert a != c
    # every cycle holds every op kind, so each run sees the same mix
    for cycle in a:
        assert sorted(o.kind for o in cycle) == sorted(cls.kinds)


def test_benchmark_json_names_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def run_bench(name, trace, *extra):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", "0.05",
         *extra],
        capture_output=True, text=True, timeout=600, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("name", WORKLOADS)
def test_run_prints_every_metric(name, trace):
    res = run_bench(name, trace)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = dict(PER_LAYER if trace else END_TO_END)
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], float), k
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("name", WORKLOADS)
def test_run_counts_a_wrong_answer(name):
    res = run_bench(name, 0, "--corrupt-expected")
    assert not res["correct"] and res["failed"] >= 1
