"""Tiny-scale self-test of the benchmark: every name BENCHMARK.json lists is
printed, with its unit, by an untraced and a traced run of each workload,
and every correctness check passes.

    python3 -m pytest perfbench/tests -q

Each case starts a fresh Spark driver (about a minute apiece)."""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_is_printed(workload, trace):
    cmd = SPEC["command"][1:] + ["--workload", workload, "--seed", "3",
                                 "--seconds", "1", "--trace", str(trace),
                                 "--scale", "0.05"]
    proc = subprocess.run([sys.executable] + cmd, cwd=ROOT, stdout=subprocess.PIPE,
                          text=True, timeout=600)
    assert proc.returncode == 0, proc.stdout[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    listed = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in listed}
    for m in listed:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
