"""Self-test of the benchmark at toy size.

Runs every workload on a few thousand docs, untraced and traced, and checks
that each run exits 0 with correct outputs, and that every metric
BENCHMARK.json names is printed, finite and carries the declared unit. The
traced runs must also report the unattributed remainder, within 10% of the
replay wall.

    python3 perfbench/test_selftest.py        # or: python3 -m pytest perfbench
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
TOY = ["--docs", "6000", "--seconds", "2"]


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload: str, trace: int) -> tuple[dict, str]:
    cmd = spec()["command"] + ["--workload", workload, "--seed", "3",
                               "--trace", str(trace)] + TOY
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), p.stdout


def check(result: dict, declared: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in declared}
    for m in declared:
        got = metrics[m["name"]]
        assert set(got) == {"value", "unit"}, m["name"]
        assert got["unit"] == m["unit"], (m["name"], got["unit"])
        assert math.isfinite(got["value"]), m["name"]


def test_every_workload():
    s = spec()
    for w in s["workloads"]:
        result, _ = run(w["name"], 0)
        check(result, s["end_to_end"])
        for m in s["end_to_end"]:
            assert result["metrics"][m["name"]]["value"] > 0, m["name"]
        result, out = run(w["name"], 1)
        check(result, s["per_layer"])
        assert "\nunattributed = " in out
        assert 0 <= result["metrics"]["unattributed_frac"]["value"] <= 0.10


if __name__ == "__main__":
    test_every_workload()
    print("perfbench self-test passed")
    sys.exit(0)
