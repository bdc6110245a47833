"""The benchmark harness at toy size, run as the benchmark runs it.

The traced pair_plan run imports the CCM operators by name and the
fleet_fast run checks the fast path against the numpy oracle, so a library
change that breaks either fails here rather than only in the benchmark.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]


@pytest.mark.parametrize("workload, trace", [("pair_plan", 1), ("fleet_fast", 0)])
def test_perfbench_toy_run(workload, trace):
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", "7", "--seconds", "1", "--trace", str(trace), "--toy",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["attempted"] >= 1 and result["failed"] == 0, result
