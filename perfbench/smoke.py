#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload of ``BENCHMARK.json`` once
at ``--scale tiny``, untraced and traced, checking that the run is
correct and that the emitted metric names and units are exactly the
declared ones.

    python3 perfbench/smoke.py

Run from the repository root; exits non-zero on the first mismatch.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    for wl in bench["workloads"]:
        for trace in (0, 1):
            cmd = [*bench["command"], "--workload", wl["name"], "--seed", "1"]
            cmd += ["--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
            what = f"{wl['name']} --trace {trace}"
            if proc.returncode != 0:
                print(proc.stderr[-3000:], file=sys.stderr)
                print(f"FAIL {what}: exit {proc.returncode}")
                return 1
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            units = {k: v["unit"] for k, v in result["metrics"].items()}
            problems = []
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"result keys {sorted(result)}")
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                problems.append(f"correct={result['correct']} attempted={result['attempted']} failed={result['failed']}")
            if units != declared[trace]:
                missing = sorted(declared[trace].keys() - units.keys())
                extra = sorted(units.keys() - declared[trace].keys())
                wrong = sorted(k for k in units.keys() & declared[trace].keys() if units[k] != declared[trace][k])
                problems.append(f"missing {missing}, undeclared {extra}, unit differs {wrong}")
            print(f"{'FAIL' if problems else 'ok'} {what}: {len(units)} metrics {'; '.join(problems)}")
            if problems:
                return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
