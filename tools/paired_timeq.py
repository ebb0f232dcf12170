#!/usr/bin/env python3
"""Paired per-query speed gate: parent vs change, alternating runs.

usage: tools/paired_timeq.py PARENT_DIR CHANGE_DIR SF_DIR q1,q2 [pairs=5] [passes=5]

Each pair runs `sbt -batch "Test/runMain graft.TimeQuery SF_DIR q1,q2 passes"`
once in each checkout, back to back; the order flips every pair (parent
first on even pairs, change first on odd ones), so a slow drift of the
host lands on both sides alike. Every run reads each query's min-of-passes
wall and the allocation of that min pass from TimeQuery's
`[timeq] NAME min=... alloc_at_min=...MB` line.

Per query it prints the change/parent wall ratio of every pair, the median
ratio, and the spread of the parent's own mins (interquartile range, also
relative to their median): a median ratio whose distance from 1 is inside
that spread is not resolved by the run. Next to it go the per-pair and
median change/parent allocation ratios, the host-noise-free counterpart of
wall. The environment is passed through unchanged, so SPARK_GRAFT_CPUS /
SPARK_DRIVER_MEM / SBT_OPTS apply to both sides.
"""
import re
import statistics
import subprocess
import sys


def run_timeq(checkout, sf_dir, queries, passes):
    cmd = ["sbt", "-batch",
           f"Test/runMain graft.TimeQuery {sf_dir} {','.join(queries)} {passes}"]
    out = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    mins = {}
    for line in out.stdout.splitlines():
        m = re.match(r"\[timeq\] (\S+) min=([0-9.]+) .*alloc_at_min=([0-9]+)MB",
                     line)
        if m:
            mins[m.group(1)] = (float(m.group(2)), float(m.group(3)))
    missing = [q for q in queries if q not in mins]
    if missing:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        raise SystemExit(f"{checkout}: no TimeQuery result for {missing}")
    return mins


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main(argv):
    if len(argv) < 4:
        raise SystemExit(__doc__)
    parent, change, sf_dir = argv[0], argv[1], argv[2]
    queries = argv[3].split(",")
    pairs = int(argv[4]) if len(argv) > 4 else 5
    passes = int(argv[5]) if len(argv) > 5 else 5
    runs = {"parent": [], "change": []}
    for i in range(pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            mins = run_timeq(parent if side == "parent" else change,
                             sf_dir, queries, passes)
            runs[side].append(mins)
            print(f"[paired] pair {i + 1}/{pairs} {side}: " +
                  " ".join(f"{q}={mins[q][0]:.3f}/{mins[q][1]:.0f}MB"
                           for q in queries), flush=True)
    for q in queries:
        p = [r[q][0] for r in runs["parent"]]
        c = [r[q][0] for r in runs["change"]]
        ratios = [ci / pi for ci, pi in zip(c, p)]
        alloc = [rc[q][1] / rp[q][1] if rp[q][1] else float("nan")
                 for rc, rp in zip(runs["change"], runs["parent"])]
        lo, hi = quartiles(p)
        med_p = statistics.median(p)
        print(f"[paired] {q} ratios={','.join(f'{r:.3f}' for r in ratios)} "
              f"median_ratio={statistics.median(ratios):.3f} "
              f"parent_median={med_p:.3f} change_median={statistics.median(c):.3f} "
              f"parent_iqr={hi - lo:.3f} ({(hi - lo) / med_p:.1%} of median) "
              f"alloc_ratios={','.join(f'{r:.3f}' for r in alloc)} "
              f"median_alloc_ratio={statistics.median(alloc):.3f}")


if __name__ == "__main__":
    main(sys.argv[1:])
