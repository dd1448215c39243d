"""The metric and workload names the benchmark prints match
BENCHMARK.json."""

import json
import os
import subprocess
import sys

import pytest

import layers
from workloads import WORKLOADS

PERFBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(PERFBENCH)


@pytest.fixture(scope="module")
def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_names_and_units(bench):
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] \
        == list(layers.END_TO_END)


def test_per_layer_names_and_units(bench):
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] \
        == list(layers.PER_LAYER)


def test_workload_names(bench):
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(WORKLOADS)


def test_setup_metric_contract(bench):
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in bench["end_to_end"])


def _last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


@pytest.mark.skipif(not os.environ.get("PERFBENCH_E2E"),
                    reason="set PERFBENCH_E2E=1 to run the benchmark "
                           "end to end (about a minute per workload)")
@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_printed_metrics_match(bench, workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(PERFBENCH, "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    res = _last_json(out.stdout)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0
    want = bench["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} \
        == {m["name"]: m["unit"] for m in want}
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))
