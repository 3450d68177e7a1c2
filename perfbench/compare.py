#!/usr/bin/env python3
"""Compare two sets of benchmark results.

Usage: python3 perfbench/compare.py <results_A> <results_B> [--top N]

Each argument is a directory of run records as run.py writes them
(perfbench/.work/results/*.json; copy it away between commits). For each
workload it prints, for every metric, the median and quartiles of set A
and set B and the change of the median, marks each per-layer metric
"exact" when its values repeat exactly across both sets and "varies"
otherwise, prints the contention evidence
(load1, steal share) of each set, and names the per-layer metrics whose
medians moved most.
"""
import argparse
import json
import statistics
from collections import defaultdict
from pathlib import Path


def load(d: str):
    """{workload: {trace: {metric: [values]}}}; contention evidence is
    filed under trace "load" so a noisy set shows beside its numbers."""
    out = defaultdict(lambda: defaultdict(lambda: defaultdict(list)))
    for p in sorted(Path(d).glob("*.json")):
        r = json.loads(p.read_text())
        for k, v in r["metrics"].items():
            if v is not None:
                out[r["workload"]][r["trace"]][k].append(v)
        for k, v in r["contention"].items():
            out[r["workload"]]["load"][k].append(v)
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def change(a: float, b: float) -> float:
    return (b - a) / abs(a) if a else (0.0 if b == a else float("inf"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--top", type=int, default=5)
    args = ap.parse_args()
    A, B = load(args.a), load(args.b)
    for w in sorted(set(A) | set(B)):
        print(f"== {w}")
        moved = []
        for trace in (0, 1, "load"):
            ma, mb = A[w][trace], B[w][trace]
            for k in sorted(set(ma) | set(mb)):
                if not ma[k] or not mb[k]:
                    print(f"  {k:24s} only in {'A' if ma[k] else 'B'}")
                    continue
                qa, qb = quartiles(ma[k]), quartiles(mb[k])
                c = change(qa[1], qb[1])
                # a per-layer count that repeats exactly can carry a claim
                exact = "" if trace != 1 else (
                    " exact" if len(set(ma[k] + mb[k])) == 1 else " varies")
                print(f"  {k:24s} A {qa[1]:12.4f} [{qa[0]:.4f}, {qa[2]:.4f}] n={len(ma[k]):<3d}"
                      f" B {qb[1]:12.4f} [{qb[0]:.4f}, {qb[2]:.4f}] n={len(mb[k]):<3d} {c:+8.1%}{exact}")
                if trace == 1:
                    moved.append((abs(c), k, c))
        top = [f"{k} {c:+.1%}" for _, k, c in sorted(moved, reverse=True)[:args.top]]
        if top:
            print("  moved most: " + ", ".join(top))


if __name__ == "__main__":
    main()
