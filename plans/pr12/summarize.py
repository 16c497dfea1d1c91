#!/usr/bin/env python3
"""Summarize alternating parent/change benchmark pairs.

    python3 plans/pr12/summarize.py plans/pr12/runs.txt

Reads the tagged result lines `pairs.sh` writes (`<side>_<workload>_s<seed>_t0
{...}`), pairs the parent and change runs of each workload by seed, and
prints per metric: the parent's median and quartile spread (IQR), the
change's median, the relative delta, and on how many pairs the change was
better. Tags with a suffix after `_t0` (set-up or warm-up runs) are skipped.
"""
import json
import re
import statistics
import sys

BETTER = {"setup_s": "lower", "ops_per_s": "higher", "read_ms": "lower",
          "correct_frac": "higher", "bytes_per_row": "lower"}
TAG = re.compile(r"^(parent|new)_(\w+?)_s(\d+)_t0 (\{.*)$")


def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main(path):
    runs = {}
    for line in open(path):
        m = TAG.match(line.strip())
        if not m or '"metrics"' not in m.group(4):
            continue
        side, workload, seed, body = m.groups()
        runs[(side, workload, int(seed))] = json.loads(body)
    for workload in sorted({w for _, w, _ in runs}):
        seeds = sorted(s for (side, w, s) in runs
                       if side == "parent" and w == workload and ("new", w, s) in runs)
        print(f"### {workload} ({len(seeds)} pairs)\n")
        print("| run | " + " | ".join(BETTER) + " | attempted | failed |")
        print("|---" * (len(BETTER) + 3) + "|")
        for side in ("parent", "new"):
            for s in seeds:
                r = runs[(side, workload, s)]
                vals = " | ".join(f"{r['metrics'][k]['value']:.3f}" for k in BETTER)
                print(f"| {side} s{s} | {vals} | {r['attempted']} | {r['failed']} |")
        print()
        for k, better in BETTER.items():
            p = [runs[("parent", workload, s)]["metrics"][k]["value"] for s in seeds]
            n = [runs[("new", workload, s)]["metrics"][k]["value"] for s in seeds]
            wins = sum((b < a) if better == "lower" else (b > a) for a, b in zip(p, n))
            q1, q3 = quartiles(p)
            pm, nm = statistics.median(p), statistics.median(n)
            delta = (nm - pm) / pm * 100 if pm else 0.0
            print(f"- {k}: parent median {pm:.3f} (IQR {q3 - q1:.3f}), change median "
                  f"{nm:.3f}, delta {delta:+.1f} %, change better on {wins}/{len(seeds)} pairs")
        print()


if __name__ == "__main__":
    main(sys.argv[1])
