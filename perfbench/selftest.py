"""Self-test of the CCM benchmark: every workload once at toy size, in
both modes.

Run from the repository root:

    python3 perfbench/selftest.py

For each workload of run.py (fleet_plan too, which BENCHMARK.json does not
list) and each ``--trace`` mode it runs ``run.py --toy`` and asserts that
the last line is the result object, that it holds every metric
BENCHMARK.json names for that mode with its unit, that no call failed, and
that every metric is also printed on its own line with its unit. Exits 0
when every check holds.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import workloads

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def check(workload: str, trace: int) -> None:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--toy"]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, f"{workload} trace={trace}: exit {proc.returncode}\n{proc.stderr}"
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, result
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}, sorted(result["metrics"])
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m["name"], got)
        assert any(
            line.startswith(f"{workload} {m['name']} ") and f" {m['unit']}" in line
            for line in lines
        ), f"{m['name']} not printed with its unit"
    assert any(line.startswith(f"{workload} failed_frac 0 ratio") for line in lines), lines
    print(f"ok {workload} trace={trace} attempted={result['attempted']}")


def main() -> int:
    for name in workloads.WORKLOADS:
        for trace in (0, 1):
            check(name, trace)
    return 0


if __name__ == "__main__":
    sys.exit(main())
