#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at a tiny size.

    python3 perfbench/smoke_test.py

Runs every workload in both modes through run.py and checks that:
- the output check passes (`correct` true, no failed call);
- the result JSON names every metric BENCHMARK.json declares for that mode,
  each with its declared unit;
- the same (workload, seed) gives the same input SHA-256s, and another seed
  gives different ones.
Exits 0 when all hold.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "0.05"
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
from run import WORKLOADS  # noqa: E402


def run(workload, seed, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--scale", SCALE],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    assert proc.returncode == 0 and lines, f"{workload} trace={trace} failed"
    shas = sorted(l for l in lines if l.startswith("input ") and " sha256 " in l)
    return json.loads(lines[-1]), shas


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []
    shas_by_seed = {}
    # every workload run.py knows, including any BENCHMARK.json leaves out
    for w in WORKLOADS:
        for trace in (0, 1):
            res, shas = run(w, 1, trace)
            shas_by_seed.setdefault((w, 1), []).append(shas)
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                problems.append(f"{w} trace={trace}: output check failed: {res}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace]:
                problems.append(f"{w} trace={trace}: metrics {got} != {want[trace]}")
            print(f"ok {w} trace={trace}: {len(got)} metrics, "
                  f"{res['attempted']} calls checked")
        a, b = shas_by_seed[(w, 1)]
        if not a or a != b:
            problems.append(f"{w}: same seed gave different inputs")
    _, other = run(spec["workloads"][0]["name"], 2, 0)
    if other == shas_by_seed[(spec["workloads"][0]["name"], 1)][0]:
        problems.append("a different seed gave the same inputs")
    for p in problems:
        print("FAIL", p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
