"""Smoke test for the benchmark at sf0.001: every workload runs one pass
and prints every metric by name with its unit, and a corrupted pin makes
the output check fail.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.run import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def bench(*args: str) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "0",
         "--sf", "0.001", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def check_result(lines: list[str], units: dict[str, str]) -> dict:
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    for name, unit in units.items():
        assert any(line.startswith(f"{name} ") and line.split()[2] == unit
                   for line in lines[:-1]), name
    return result


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace", ["0", "1"])
def test_workload_emits_every_metric(workload: str, trace: str) -> None:
    code, lines = bench("--workload", workload, "--trace", trace)
    assert code == 0, lines[-20:]
    result = check_result(lines, PER_LAYER if trace == "1" else END_TO_END)
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 2 * len(WORKLOADS[workload]())


def test_corrupted_pin_is_caught(tmp_path) -> None:
    with open(os.path.join(ROOT, "perfbench", "pins.json")) as f:
        pins = json.load(f)
    pins["sf0.001"]["q3_top_orders"] = "20:0000000000000000:0000"
    bad = tmp_path / "pins.json"
    bad.write_text(json.dumps(pins))
    code, lines = bench("--workload", "report_mix", "--trace", "0", "--pins", str(bad))
    assert code == 0, lines[-20:]
    result = check_result(lines, END_TO_END)
    assert result["correct"] is False
    assert result["failed"] == 1


def test_benchmark_json_lists_every_metric() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
