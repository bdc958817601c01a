#!/usr/bin/env python3
"""List the deterministic counts that did not repeat across benchmark runs.

Every run of lakebench/run.py records its counts (scheduler jobs, stages
and tasks of the fixed warm-up sequence, files, dropped lines, table
versions) under .bench_build/runs/. Runs of the same workload and seed
must agree on every count exactly.

Usage: python3 lakebench/compare_counts.py [runs dir]
Exits 1 and names each count that differs between runs of one
(workload, seed); exits 0 when all repeat.
"""
import collections
import glob
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    d = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build", "runs")
    groups = collections.defaultdict(list)
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        r = json.load(open(p))
        groups[(r["workload"], r["seed"])].append(r["counts"])
    bad = 0
    for (wl, seed), runs in sorted(groups.items()):
        names = sorted(set().union(*runs))
        differ = [n for n in names if len({c.get(n) for c in runs}) > 1]
        for n in differ:
            print(f"{wl} seed {seed}: {n} differs: {[c.get(n) for c in runs]}")
        bad += len(differ)
        print(f"{wl} seed {seed}: {len(runs)} runs, {len(names) - len(differ)}"
              f"/{len(names)} counts repeat")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
