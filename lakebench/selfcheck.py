#!/usr/bin/env python3
"""Fast self-check of the benchmark.

    python3 lakebench/selfcheck.py

Runs every workload of ``BENCHMARK.json`` once untraced and once traced,
at a tenth of the default input size (sf0.001-sized registry tables) and
for one second of warm units, and checks that each run exits 0, checks
its outputs with no failed operation, and emits exactly the listed
metrics, each a number with its listed unit (end-to-end ones above 0).
Exits 1 on the first problem.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def check(workload: str, trace: int, listed: list[dict]) -> list[str]:
    cmd = [sys.executable, str(ROOT / "lakebench" / "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", "0.1"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        return [f"exit {proc.returncode}: {proc.stderr[-2000:]}"]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    problems = []
    if not out["correct"] or out["failed"] != 0 or out["attempted"] < 1:
        problems.append(f"fail_ratio {out['failed']}/{out['attempted']}: {proc.stdout[-2000:]}")
    want = {m["name"]: m["unit"] for m in listed}
    got = out["metrics"]
    if set(got) != set(want):
        problems.append(f"metric names differ: {sorted(set(got) ^ set(want))}")
    for name, m in got.items():
        if m.get("unit") != want.get(name) or not isinstance(m.get("value"), (int, float)):
            problems.append(f"{name}: {m}")
        elif not trace and m["value"] <= 0:
            problems.append(f"{name} is {m['value']}")
    return problems


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for w in spec["workloads"]:
        for trace in (0, 1):
            problems = check(w["name"], trace, spec["per_layer" if trace else "end_to_end"])
            print(f"{w['name']} trace={trace}: {'ok' if not problems else 'FAILED'}")
            for p in problems:
                print(f"  {p}")
            if problems:
                return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
