#!/usr/bin/env python3
"""Per-call Spark jobs and tasks of two traced censuses, side by side.

    python3 plans/pr12/census.py <parent-census> <change-census>

A census (`perfbench/run.py --trace 1 --census <file>`) holds one
`op <name> <jobs> <tasks>` line per facade call. Prints, per call name,
the number of calls and the mean and range of jobs and tasks per call on
each side.
"""
import collections
import sys


def load(path):
    ops = collections.defaultdict(list)
    for line in open(path):
        parts = line.split()
        if len(parts) == 4 and parts[0] == "op":
            ops[parts[1]].append((int(parts[2]), int(parts[3])))
    return ops


def cell(calls):
    if not calls:
        return "-"
    jobs = [j for j, _ in calls]
    tasks = [t for _, t in calls]
    return (f"{len(calls)} calls, jobs {sum(jobs) / len(jobs):.2f} "
            f"[{min(jobs)}–{max(jobs)}], tasks {sum(tasks) / len(tasks):.1f} "
            f"[{min(tasks)}–{max(tasks)}]")


def main(parent, change):
    p, n = load(parent), load(change)
    print("| call | parent | change |")
    print("|---|---|---|")
    for name in sorted(set(p) | set(n)):
        print(f"| {name} | {cell(p.get(name, []))} | {cell(n.get(name, []))} |")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
