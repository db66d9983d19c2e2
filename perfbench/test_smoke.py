"""Smoke test of the benchmark at tiny sizes (50 ops, 5,000 samples,
sf0.001): every metric named for a workload prints with its unit, and a
deliberately wrong expected value is reported as failed ops.

    python3 -m pytest perfbench/test_smoke.py -q      # about three minutes
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join(ROOT, "perfbench", "run.py")
sys.path.insert(0, ROOT)
from perfbench import metrics  # noqa: E402

END_TO_END = {
    "live_tail": ["setup_s", "round_s", "peak_rss_mb", "tail_p50_us", "tail_p99_us"],
    **{w: list(metrics.END_TO_END) for w in metrics.LISTED},
}
PER_LAYER = {
    "live_tail": [
        "transport.write_us", "transport.read_us", "backend.append_batch_us",
        "backend.list_batches_per_op", "backend.control_calls_per_op",
        "backend.entries_listed_per_op", "transport.self_s", "backend.self_s",
        "trace.overhead_s",
    ],
    **{w: list(metrics.PER_LAYER) for w in metrics.LISTED},
}


def _run(workload: str, trace: int, *extra: str) -> tuple[list[str], dict]:
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--smoke", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    return lines[:-1], result


def test_benchmark_json_names_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(metrics.LISTED)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    assert len(metrics.BENCH_QUERY_NAMES) == 21


@pytest.mark.parametrize("workload", list(END_TO_END))
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_prints_with_unit(workload, trace):
    lines, result = _run(workload, trace)
    expected = END_TO_END[workload] if trace == 0 else PER_LAYER[workload]
    assert sorted(result["metrics"]) == sorted(expected)
    for name in expected:
        m = result["metrics"][name]
        assert isinstance(m["value"], float) and m["unit"]
        assert any(line.split()[:1] == [name] and line.endswith(" " + m["unit"]) for line in lines)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1


@pytest.mark.parametrize("workload", list(END_TO_END))
def test_wrong_expected_checksum_is_a_failed_op(workload):
    _lines, result = _run(workload, 0, "--sabotage")
    assert not result["correct"]
    assert result["failed"] == result["attempted"] >= 1
