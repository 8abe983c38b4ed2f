"""Short-run smoke test of the benchmark itself.

    python -m pytest perfbench/test_smoke.py -q

Runs each workload once for one second (a single timed pass) and checks
the result line against ``BENCHMARK.json``: the output verdict is green,
nothing failed, and the metric names and units are exactly the declared
ones. Takes about two minutes on a 4-core machine.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180, check=True,
    ).stdout.splitlines()
    return json.loads(out[-2])["record"], json.loads(out[-1])


@pytest.mark.parametrize(
    "workload,trace", [("corpus_dedup", 0), ("warehouse_rw", 1)]
)
def test_result_line_matches_spec(workload, trace):
    record, result = run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    assert record["workload"] == workload and record["checks"]["failed"] == []
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_tmp"))


def test_workloads_match_spec():
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    import workloads

    assert sorted(workloads.WORKLOADS) == sorted(w["name"] for w in SPEC["workloads"])
