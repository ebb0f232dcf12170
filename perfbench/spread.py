#!/usr/bin/env python3
"""Steadiness of the end-to-end metrics across seeds.

    python3 perfbench/spread.py --workload curation_batch --seeds 1 2 3 4 5
    python3 perfbench/spread.py --records .bench_build/records/curation_batch-seed*-trace0-*.json

Runs run.py once per seed (or reads existing untraced records) and prints,
per metric, the median and the interquartile range as a share of the
median — the spread the acceptance rule compares with each metric's bound.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from benchlib import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seeds", nargs="*", type=int, default=[])
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--records", nargs="*", default=[])
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    seconds = a.seconds or spec["run_seconds"]
    values = {}
    for seed in a.seeds:
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                              a.workload, "--seed", str(seed), "--seconds", str(seconds),
                              "--trace", "0"], stdout=subprocess.PIPE, text=True)
        last = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={last['correct']}", file=sys.stderr)
        for k, v in last["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for path in a.records:
        with open(path) as f:
            for k, v in json.load(f)["metrics"].items():
                values.setdefault(k, []).append(v)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        s = stats.spread(vs)
        flag = "" if s <= bounds.get(k, 1) / 3 else ("  > bound/3" if s <= bounds.get(k, 1)
                                                      else "  > BOUND")
        print(f"{k:18s} n={len(vs):2d} median={stats.median(vs):12.4f} "
              f"spread={s:.4f} bound={bounds.get(k)}{flag}")


if __name__ == "__main__":
    main()
