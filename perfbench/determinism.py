#!/usr/bin/env python3
"""Determinism audit: two traced runs of one seed must agree on counts.

    python3 perfbench/determinism.py --workload mixed_rw --seed 1

Runs the traced run twice with the same seed and compares, call by call
over the calls both runs made, the op class and the Spark job and task
counts, and the recall@10 of every checked searchIndexed call. Exits 1 and
names the first differing calls when they do not repeat exactly.
"""
import argparse
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def census(workload, seed, seconds, path):
    subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1",
         "--census", path],
        cwd=ROOT, stdout=subprocess.DEVNULL, check=True)
    ops, recalls = [], []
    with open(path) as f:
        for line in f:
            kind, *rest = line.split()
            if kind == "op":
                ops.append(tuple(rest))
            elif kind == "recall":
                recalls.append(tuple(rest))
    return ops, recalls


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    a = ap.parse_args()
    with tempfile.TemporaryDirectory(dir=HERE) as d:
        runs = [census(a.workload, a.seed, a.seconds, os.path.join(d, f"census{i}"))
                for i in (1, 2)]
    diffs = 0
    for what, i in (("call", 0), ("recall", 1)):
        x, y = runs[0][i], runs[1][i]
        n = min(len(x), len(y))
        bad = [k for k in range(n) if x[k] != y[k]]
        diffs += len(bad)
        print(f"{a.workload} seed {a.seed}: {n} {what}s compared, {len(bad)} differ")
        for k in bad[:10]:
            print(f"  {what} {k}: {' '.join(x[k])} vs {' '.join(y[k])}")
    sys.exit(1 if diffs else 0)


if __name__ == "__main__":
    main()
