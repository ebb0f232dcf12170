#!/usr/bin/env python3
"""Paired perfbench gate: parent vs change, alternating runs.

usage: tools/paired_perfbench.py PARENT_DIR CHANGE_DIR --workload W [--workload W2]
           --seeds A..B [--seconds 5]

For every seed (one pair) and workload it runs
`python3 perfbench/run.py --workload W --seed S --seconds N --trace 0` once in
each checkout, back to back; the order flips every pair (parent first on even
pairs, change first on odd ones), so a slow drift of the host lands on both
sides alike. Each run's end-to-end metrics are read from perfbench's last
stdout line, and its host stamp (loadavg, steal) from the line before it.

Per workload and metric it prints each side's median and quartiles, how many
pairs the change won (ties count for neither side), and the verdict of the
paired rule: `better` when the change won at least nine tenths of the pairs
and its median beats the parent's by more than the parent's interquartile
range, `worse` for the same on the parent's side, else `unresolved`. Next to
it goes `bound`: whether the change's median stays within BENCHMARK.json's
bound of the parent's. Metric directions and bounds come from the change
checkout's BENCHMARK.json. Nothing is written; perfbench keeps its own records
under each checkout's .bench_build/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_of(spec):
    if ".." in spec:
        a, b = spec.split("..")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def run_perfbench(checkout, workload, seed, seconds):
    """One perfbench run; returns (ok, metrics, host) or (False, {}, {}) on a crash."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    try:
        last = json.loads(lines[-1])
        host = json.loads(lines[-2]).get("host", {}) if len(lines) > 1 else {}
    except (IndexError, ValueError):
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        return False, {}, {}
    metrics = {k: v["value"] for k, v in last["metrics"].items()}
    return bool(last["correct"]), metrics, host


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def verdict(parent, change, lower_better):
    """Wins, and the paired rule's verdict, over pairs (p, c) in order."""
    better = (lambda c, p: c < p) if lower_better else (lambda c, p: c > p)
    wins = sum(better(c, p) for p, c in zip(parent, change))
    losses = sum(better(p, c) for p, c in zip(parent, change))
    lo, hi = quartiles(parent)
    gap = statistics.median(change) - statistics.median(parent)
    need = 0.9 * len(parent)
    if wins >= need and abs(gap) > hi - lo and better(gap, 0.0):
        return wins, "better"
    if losses >= need and abs(gap) > hi - lo and better(0.0, gap):
        return wins, "worse"
    return wins, "unresolved"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", required=True, help="A..B (inclusive) or A,B,C")
    ap.add_argument("--seconds", type=float, default=5)
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    seeds = seeds_of(a.seeds)
    for w in a.workload:
        runs = {"parent": [], "change": []}
        for i, seed in enumerate(seeds):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                ok, m, host = run_perfbench(getattr(a, side), w, seed, a.seconds)
                runs[side].append((ok, m))
                shown = " ".join(f"{k}={v:.4g}" for k, v in m.items())
                print(f"[paired] {w} seed {seed} {side}: correct={ok} {shown} "
                      f"loadavg={host.get('loadavg')} steal={host.get('steal_jiffies_run')}",
                      flush=True)
        both = [i for i in range(len(seeds))
                if runs["parent"][i][1] and runs["change"][i][1]]
        failed = {s: sum(not ok for ok, _ in r) for s, r in runs.items()}
        print(f"[paired] {w}: {len(both)} complete pairs; incorrect or failed runs "
              f"parent={failed['parent']} change={failed['change']}")
        if not both:
            continue
        for name, m in spec.items():
            p = [runs["parent"][i][1][name] for i in both]
            c = [runs["change"][i][1][name] for i in both]
            lower = m["better"] == "lower"
            wins, v = verdict(p, c, lower)
            mp, mc = statistics.median(p), statistics.median(c)
            worse_by = ((mc - mp) if lower else (mp - mc)) / mp if mp else 0.0
            (plo, phi), (clo, chi) = quartiles(p), quartiles(c)
            print(f"[paired] {w} {name}: parent {mp:.4g} [{plo:.4g}, {phi:.4g}] "
                  f"change {mc:.4g} [{clo:.4g}, {chi:.4g}] "
                  f"change won {wins}/{len(both)} verdict={v} "
                  f"bound={'ok' if worse_by <= m['bound'] else 'exceeded'} "
                  f"({worse_by:+.1%} worse vs {m['bound']:.0%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
