"""Smoke check of the benchmark itself: every workload once, untraced and
traced, on a tiny corpus; every metric BENCHMARK.json names must be printed
with its unit, and every correctness check must pass.  The traced runs get
time for every layer step, the runner's included.

    python3 perfbench/run.py --smoke
"""

from __future__ import annotations

import json
import os
import subprocess
import sys


def main(run_py: str) -> int:
    root = os.path.dirname(os.path.dirname(run_py))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    problems = []
    for w in bench["workloads"]:
        for trace in (0, 1):
            cmd = [sys.executable, run_py, "--workload", w["name"],
                   "--seed", "7", "--seconds", "1", "--trace", str(trace),
                   "--shape", "smoke", "--trace-budget", "600"]
            p = subprocess.run(cmd, cwd=root, capture_output=True, text=True,
                               timeout=600)
            tag = f"{w['name']} trace={trace}"
            if p.returncode != 0:
                problems.append(f"{tag}: exit {p.returncode}: "
                                f"{p.stderr[-2000:]}")
                continue
            out = json.loads(p.stdout.strip().splitlines()[-1])
            if not out["correct"] or out["failed"] or out["attempted"] < 1:
                problems.append(f"{tag}: correctness failed: "
                                f"{p.stdout[-3000:]}")
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if got != want[trace]:
                units = [k for k in got
                         if k in want[trace] and got[k] != want[trace][k]]
                problems.append(f"{tag}: metrics differ: missing "
                                f"{sorted(set(want[trace]) - set(got))}, "
                                f"extra {sorted(set(got) - set(want[trace]))},"
                                f" units {units}")
            bad = [k for k, v in out["metrics"].items()
                   if not isinstance(v["value"], (int, float))]
            if bad:
                problems.append(f"{tag}: non-numeric values {bad}")
            print(f"{tag}: done", flush=True)
    for p in problems:
        print("SMOKE FAIL", p)
    print("smoke: " + ("FAIL" if problems else "PASS"))
    return 1 if problems else 0
