"""Smoke test of the benchmark: every workload at its tiny size, once
untraced and once traced.

    python3 perfbench/smoke.py

Each run must exit 0, end its output with a result line whose checks
all passed, and print every metric ``BENCHMARK.json`` names for its
mode, each with the unit listed there.  Exits non-zero on the first
violation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check(workload: str, trace: int, spec: dict) -> None:
    t0 = time.monotonic()
    cmd = [*spec["command"], "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--smoke"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.exit(f"{workload} trace={trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        sys.exit(f"{workload} trace={trace}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        sys.exit(f"{workload} trace={trace}: checks failed: {result}\n{proc.stderr[-3000:]}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        units = sorted(k for k in set(got) & set(want) if got[k] != want[k])
        sys.exit(f"{workload} trace={trace}: missing {missing}, extra {extra}, units {units}")
    for k, v in result["metrics"].items():
        if not isinstance(v["value"], (int, float)):
            sys.exit(f"{workload} trace={trace}: {k} = {v['value']!r}")
        if not trace and not v["value"] > 0:
            sys.exit(f"{workload} trace={trace}: end-to-end metric {k} is {v['value']}")
    print(f"ok {workload} trace={trace} ({time.monotonic() - t0:.0f}s, "
          f"{result['attempted']} operations)", flush=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for w in spec["workloads"]:
        for trace in (0, 1):
            check(w["name"], trace, spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
