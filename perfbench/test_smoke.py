"""Self-test of the benchmark: every workload at small n, traced.

    python3 -m pytest perfbench/test_smoke.py -q      (about two minutes)

A traced run has an untraced phase too, so its record holds both the
end-to-end and the per-layer metrics. The test asserts that the run passes
its checks and that every metric BENCHMARK.json declares is emitted with
its unit.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke(workload):
    record = ROOT / ".perfbench_work" / "records" / f"smoke-{workload}.json"
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", "1", "--smoke", "--record", str(record)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, proc.stdout
    assert result["failed"] == 0 and result["attempted"] >= 1
    declared = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared

    rec = json.loads(record.read_text())
    assert set(rec["end_to_end"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(v > 0 for v in rec["end_to_end"].values())
    # the traced phase folded the event log into one record per timed call
    timed = [c for c in rec["traced"]["calls"] if c["measured"]]
    assert timed and all(rec["per_call"][c["job_group"]]["jobs"] >= 1 for c in timed)
