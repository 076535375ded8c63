#!/usr/bin/env python3
"""Determinism test for the benchmark itself.

    python3 perfbench/test_determinism.py [--seed N] [workload ...]

Runs each workload twice, traced, with the same seed and a one-second window,
and requires the two reports' `deterministic` sections to be identical:
recall@10, dedup F1, stored bytes, filtered-ANN tier counts, scanned rows and
Spark jobs per operation. The window is short; the figures come from the
fixed first cycle of requests (ann_search) or the checked pass and the first
timed pass (curation), which every run completes. Exits 1 on any difference.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REPORTS = os.path.join(ROOT, ".bench_build", "perfbench", "reports")


def run(workload, seed):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", "1"]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if r.returncode != 0:
        sys.exit(f"{workload}: run.py exited with {r.returncode}")
    result = json.loads(r.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        sys.exit(f"{workload}: run reported correct=false")
    with open(os.path.join(REPORTS, f"{workload}-seed{seed}-trace1.json")) as fh:
        return json.load(fh)["deterministic"]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        names = a.workloads or [w["name"] for w in json.load(fh)["workloads"]]
    bad = 0
    for w in names:
        first, second = run(w, a.seed), run(w, a.seed)
        diff = {k: (first.get(k), second.get(k)) for k in set(first) | set(second)
                if first.get(k) != second.get(k)}
        if diff:
            bad += 1
            print(f"FAIL {w}: {json.dumps(diff, sort_keys=True)}")
        else:
            print(f"ok   {w}: {json.dumps(first, sort_keys=True)}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
