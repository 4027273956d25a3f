#!/usr/bin/env python3
"""Paired perfbench runs of two source trees, one seed at a time.

    python3 tools/paired.py --base <tree> --change <tree> --workload text_cold \\
        --seeds 1-10 [--seconds 15]

For every seed it runs `python3 perfbench/run.py --workload W --seed S
--seconds X --trace 0` in both trees, one after the other, and alternates
which side runs first (the base side on odd seeds), so slow drift on a shared
host falls on both sides alike. Each tree builds and runs its own checkout.

It prints one line per run, then per side the median and quartiles of
`setup_s` and `pass_s`, the number of pairs the change side won on each
(lower is a win), and the median over the seeds of each query's per-run
median (the `[perfbench] query ...` lines of stderr). It exits non-zero if a
run fails or is not `correct`. It reads nothing but the two trees' output and
writes nothing but their own build directories.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys

QUERY = re.compile(r"^\[perfbench\] query (\S+)\s+n=\s*\d+\s+median\s+([0-9.]+) ms")
METRICS = ("setup_s", "pass_s")


def seeds_of(spec):
    """'1-10' or '1,3,5' or '11-12,20' → a list of ints."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def quartiles(xs):
    """(q1, median, q3) by linear interpolation; a single value repeats."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def run(tree, workload, seed, seconds):
    """One perfbench run in `tree`: (result, metadata, query medians in ms)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if len(lines) < 2:
        sys.stderr.write(p.stderr[-4000:])
        sys.exit(f"[paired] {tree} seed {seed}: no result (exit {p.returncode})")
    queries = {m.group(1): float(m.group(2))
               for m in map(QUERY.match, p.stderr.splitlines()) if m}
    return json.loads(lines[-1]), json.loads(lines[-2]).get("meta", {}), queries


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="source tree of the parent side")
    ap.add_argument("--change", required=True, help="source tree of the changed side")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,4,11-12")
    ap.add_argument("--seconds", type=float, default=15)
    a = ap.parse_args()
    trees = {"base": os.path.abspath(a.base), "change": os.path.abspath(a.change)}

    runs = {"base": [], "change": []}
    ok = True
    for seed in seeds_of(a.seeds):
        order = ("base", "change") if seed % 2 else ("change", "base")
        for side in order:
            res, meta, queries = run(trees[side], a.workload, seed, a.seconds)
            m = {k: res["metrics"][k]["value"] for k in METRICS if k in res["metrics"]}
            correct = bool(res.get("correct")) and res.get("failed", 1) == 0
            ok = ok and correct
            runs[side].append((seed, m, queries))
            print(f"seed {seed:3d} {side:6s} " +
                  " ".join(f"{k}={m.get(k, float('nan')):.3f}" for k in METRICS) +
                  f" correct={correct} failed={res.get('failed')}/{res.get('attempted')}"
                  f" load1={meta.get('load1_before', float('nan')):.2f}", flush=True)

    print(f"\n{a.workload}: {len(runs['base'])} pairs, order alternating per seed")
    for k in METRICS:
        for side in ("base", "change"):
            xs = [m[k] for _, m, _ in runs[side] if k in m]
            if xs:
                q1, med, q3 = quartiles(xs)
                print(f"  {k:8s} {side:6s} median {med:8.3f}  quartiles [{q1:.3f}, {q3:.3f}]")
        wins = sum(1 for (_, b, _), (_, c, _) in zip(runs["base"], runs["change"])
                   if k in b and k in c and c[k] < b[k])
        print(f"  {k:8s} change lower in {wins}/{len(runs['base'])} pairs")
    names = sorted({q for side in runs.values() for _, _, qs in side for q in qs})
    if names:
        print("  query medians over the seeds (ms), base -> change:")
        for q in names:
            med = {side: statistics.median([qs[q] for _, _, qs in runs[side] if q in qs] or [float("nan")])
                   for side in runs}
            print(f"    {q:28s} {med['base']:9.1f} -> {med['change']:9.1f}")
    if not ok:
        print("[paired] at least one run was not correct", file=sys.stderr)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
