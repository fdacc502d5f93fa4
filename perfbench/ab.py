#!/usr/bin/env python3
"""Alternating A/B of two checkouts on one workload.

Usage:
    python3 perfbench/ab.py <checkout A> <checkout B> --workload query_mix [--pairs 10]

Runs `python3 perfbench/run.py` from the root of each checkout, in pairs,
alternating which side goes first, each pair with a fresh seed (the same
seed for both sides of a pair). Both checkouts must carry the same
benchmark code. For every end-to-end metric it prints each side's median
and quartiles, how many pairs B won (ties count for neither), and whether
B's gain clears the bar: B wins at least 9 in 10 pairs and the medians
differ by more than the spread of A's own runs (its interquartile range).
"""
import argparse
import json
import statistics
import subprocess
import sys


def one_run(checkout, workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True, check=True).stdout
    result = json.loads(out.strip().splitlines()[-1])
    if not result["correct"]:
        sys.exit(f"{checkout}: seed {seed} failed {result['failed']} operations")
    return result["metrics"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1000)
    args = ap.parse_args()
    spec = json.load(open(f"{args.a}/BENCHMARK.json"))
    runs = {"a": [], "b": []}
    for i in range(args.pairs):
        seed = args.first_seed + i
        order = ("a", "b") if i % 2 == 0 else ("b", "a")
        for side in order:
            runs[side].append(one_run(getattr(args, side), args.workload, seed, args.seconds))
        print(f"pair {i + 1}/{args.pairs} done (seed {seed}, {order[0]} first)", file=sys.stderr)
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        a = [r[name]["value"] for r in runs["a"]]
        b = [r[name]["value"] for r in runs["b"]]
        qa, qb = statistics.quantiles(a, n=4), statistics.quantiles(b, n=4)
        wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
        gain = (qa[1] - qb[1]) if lower else (qb[1] - qa[1])
        claim = wins >= 0.9 * len(a) and gain > qa[2] - qa[0]
        print(f"{name:14s} A {qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}]  "
              f"B {qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}] {m['unit']}  "
              f"B won {wins}/{len(a)}  {'gain' if claim else 'no claim'}")


if __name__ == "__main__":
    main()
