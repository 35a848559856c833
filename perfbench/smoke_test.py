"""Smoke test of the benchmark on tiny inputs (star sf0.001, 5 000
sales rows): every workload once untraced and once traced, then one
run with a deliberately wrong expected result.

    python3 perfbench/smoke_test.py

Asserts that each run exits 0, that its last stdout line is the result
object with every metric ``BENCHMARK.json`` names for that mode, that
every check passes, and that the wrong expectation is caught.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", "1", "--seconds", "1", "--trace", str(trace), "--tiny",
        *extra,
    ]
    proc = subprocess.run(
        cmd, cwd=ROOT, capture_output=True, text=True, timeout=600
    )
    if proc.returncode != 0:
        raise AssertionError(f"{cmd} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    return result


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for w in spec["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            result = run(w["name"], trace)
            names = {m["name"]: m["unit"] for m in spec[kind]}
            got = result["metrics"]
            assert set(got) == set(names), set(names) ^ set(got)
            for name, unit in names.items():
                assert got[name]["unit"] == unit, (name, got[name])
                assert isinstance(got[name]["value"], (int, float)), name
            if kind == "end_to_end":
                zero = [n for n, v in got.items() if v["value"] <= 0]
                assert not zero, f"end-to-end metrics not positive: {zero}"
            assert result["correct"] and result["failed"] == 0, result
            assert result["attempted"] >= 1, result
            print(f"ok  {w['name']} trace={trace} attempted={result['attempted']}")
    for workload in ("relational_mix", "etl_reference"):
        bad = run(workload, 0, "--corrupt-check")
        assert not bad["correct"] and bad["failed"] >= 1, bad
        print(f"ok  {workload} wrong expectation caught: failed={bad['failed']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
