#!/usr/bin/env python3
"""Run alternating base/change pairs of the log-lakehouse benchmark and
summarize them by the acceptance rule.

Usage:
  python3 tools/bench_pairs.py --base DIR --change DIR --workload ingest \
      --seeds 402-411 [--seconds 5] [--trace 0] --out RUNS_DIR
  python3 tools/bench_pairs.py --out RUNS_DIR          # summarize only

DIR is a checkout (for example a `git archive` of the parent commit and
the working tree of the change); each side runs its own lakebench/run.py.
Pair i runs both sides on seed i, the base first on even pairs and the
change first on odd ones. Every run's two JSON lines (counts, result) are
kept in RUNS_DIR as <side>-<workload>-t<trace>-s<seed>.json; a run whose
file already exists is not repeated, so an interrupted set resumes.

For each workload and end-to-end metric of BENCHMARK.json the summary
prints each side's median and quartiles, the pairs the change won (ties
count for neither side), whether it passes the gain rule (wins >= 9/10 of
the pairs and the medians differ by more than the base's quartile
distance), whether its median is worse than the base's by more than the
metric's bound, and each pair's change/base ratio by seed, so a tie or a
loss shows on its seed. It also lists every deterministic count that differs
between the sides on one seed. The benchmark's own files are only read.
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

SIDES = ("base", "change")


def parse_seeds(spec):
    """'402-405,410' -> [402, 403, 404, 405, 410]"""
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_one(checkout, side, a, seed):
    path = os.path.join(a.out, f"{side}-{a.workload}-t{a.trace}-s{seed}.json")
    if os.path.exists(path):
        return
    cmd = [sys.executable, os.path.join(checkout, "lakebench", "run.py"),
           "--workload", a.workload, "--seed", str(seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace)]
    print(f"[pairs] {side} seed {seed}", file=sys.stderr, flush=True)
    p = subprocess.run(cmd, cwd=checkout, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-2000:])
        sys.exit(f"[pairs] {side} seed {seed} failed (exit {p.returncode})")
    extra, result = json.loads(lines[-2]), json.loads(lines[-1])
    with open(path, "w") as f:
        json.dump(dict(side=side, workload=a.workload, trace=a.trace, seed=seed,
                       checkout=os.path.abspath(checkout), **extra, result=result), f)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summarize(out, spec):
    runs = {}
    for p in glob.glob(os.path.join(out, "*.json")):
        r = json.load(open(p))
        runs[(r["workload"], r["trace"], r["seed"], r["side"])] = r
    groups = sorted({(w, t) for (w, t, _, _) in runs})
    for workload, trace in groups:
        seeds = sorted(s for (w, t, s, side) in runs
                       if (w, t) == (workload, trace) and side == "base"
                       and (w, t, s, "change") in runs)
        if not seeds:
            continue
        print(f"== {workload} trace={trace}: {len(seeds)} pairs, seeds {seeds}")
        metrics = spec["per_layer" if trace else "end_to_end"]
        for m in metrics:
            name, lower = m["name"], m["better"] == "lower"
            vals = {side: [runs[(workload, trace, s, side)]["result"]["metrics"]
                           .get(name, {}).get("value") for s in seeds] for side in SIDES}
            if any(v is None for side in SIDES for v in vals[side]):
                continue
            wins = sum((c < b) if lower else (c > b)
                       for b, c in zip(vals["base"], vals["change"]))
            med = {side: statistics.median(vals[side]) for side in SIDES}
            q = {side: quartiles(vals[side]) for side in SIDES}
            q1, q3 = q["base"]
            gain = med["base"] - med["change"] if lower else med["change"] - med["base"]
            line = (f"{name:28s}"
                    + "".join(f" {side} {med[side]:.4g} [{q[side][0]:.4g}, {q[side][1]:.4g}] "
                              for side in SIDES)
                    + f" wins {wins}/{len(seeds)}  "
                    f"gain-rule {'PASS' if wins >= 0.9 * len(seeds) and gain > q3 - q1 else 'fail'}")
            if "bound" in m and med["base"]:
                worse = -gain / abs(med["base"])
                line += f"  worse-by {worse:+.3f} (bound {m['bound']}: " \
                        f"{'EXCEEDED' if worse > m['bound'] else 'ok'})"
            print(line)
            print("   change/base by seed: " + "  ".join(
                f"{s} {c / b:.3f}" if b else f"{s} -"
                for s, b, c in zip(seeds, vals["base"], vals["change"])))
        for s in seeds:
            cb, cc = (runs[(workload, trace, s, side)].get("counts", {}) for side in SIDES)
            diff = {k: (cb.get(k), cc.get(k)) for k in sorted(set(cb) | set(cc))
                    if cb.get(k) != cc.get(k)}
            if diff:
                print(f"   counts seed {s} (base, change): {diff}")
        failed = [(side, s) for s in seeds for side in SIDES
                  if runs[(workload, trace, s, side)]["result"].get("failed")]
        if failed:
            print(f"   runs with failed output checks: {failed}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base")
    ap.add_argument("--change")
    ap.add_argument("--workload")
    ap.add_argument("--seeds", help="e.g. 402-411 or 402,405,410")
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True, help="directory keeping every run")
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    if a.seeds:
        if not (a.base and a.change and a.workload):
            ap.error("--seeds needs --base, --change and --workload")
        for i, seed in enumerate(parse_seeds(a.seeds)):
            order = (("base", a.base), ("change", a.change))
            for side, checkout in (order if i % 2 == 0 else order[::-1]):
                run_one(checkout, side, a, seed)
    root = a.change or os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    summarize(a.out, json.load(open(os.path.join(root, "BENCHMARK.json"))))


if __name__ == "__main__":
    main()
