#!/usr/bin/env python3
"""Resumable, parallel DuckDB oracle gate (VERDICT r10 item 1).

The compare is tools/check.py's own `check_query`, run so that the
(formerly multi-hour, now ~11-minute: blocked twins + per-query
clearCache) full sf0.1 run survives being killed:

  - every completed query appends ONE JSONL line (fsync'd) to
    <outDir>/check_progress.jsonl — a relaunch skips recorded queries,
    so a dead run keeps its prefix instead of leaving a 0-byte tmp
    (the r10 CHECK_SF01_196q.json.tmp failure mode);
  - queries run across N worker processes, each with its OWN DuckDB
    connection pinned to --threads threads (DuckDB would otherwise take
    every core per query and serialize the suite);
  - known-heavy twins (the all-pairs Jaccard / kNN / recursive-closure
    class) are scheduled FIRST so the long pole starts at t=0 instead
    of landing at the end of the alphabetical order;
  - when every query has a line, the final artifact (check.py's exact
    format: pretty dict + "N/M OK" trailer) is written atomically.

Usage:
  python3 tools/check_parallel.py <sfDir> <verifyOutDir> <artifact>
      [--workers N] [--threads T] [--only q1 q2 ...]

--workers/--threads default to the host's cores: up to 6 workers, and
workers x threads <= cores.
"""
import sys, json, glob, os, argparse, hashlib, multiprocessing as mp

import check

# DuckDB-side cost class, from observed sf0.1 runs: all-pairs /
# recursive twins run minutes-to-an-hour; everything else runs seconds.
# Prefixes, longest pole first.
HEAVY_FIRST = [
    "q91", "q11", "q171", "q180", "q181", "q190", "q173", "q40",
    "q93", "q96", "q144", "q98", "q74", "q84", "q81", "q38", "q194",
    "q102", "q121", "q12", "q13", "q24", "q25", "q37", "q206",
]

_worker_state = {}


def _init_worker(sf_dir, out_dir, threads):
    con = check.connect(sf_dir)
    con.sql(f"SET threads TO {threads}")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        _worker_state["oracles"] = json.load(f)
    _worker_state["con"] = con
    _worker_state["out_dir"] = out_dir


def _check_one(name):
    import time
    t0 = time.time()
    try:
        entry = check.check_query(_worker_state["con"],
                                  _worker_state["oracles"],
                                  _worker_state["out_dir"], name)
    except Exception as e:
        entry = {"ok": False, "err": f"worker: {e}"}
    return name, entry, time.time() - t0


def _oracle_md5(oracles, name):
    """Fingerprint of the twin SQL a verdict was computed against."""
    if name not in oracles:
        return "rows-only"
    return hashlib.md5(oracles[name].encode()).hexdigest()


def _dump_stamp(out_dir, name):
    """Fingerprint of the Spark dump a verdict was computed against:
    newest mtime (ns) across the query's parquet files — Verify
    re-dumping a query bumps it."""
    files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
    if not files:
        return 0
    return max(os.stat(f).st_mtime_ns for f in files)


def schedule(names):
    """Heavy-prefix queries first (in HEAVY_FIRST order), rest sorted."""
    def bucket(n):
        for i, p in enumerate(HEAVY_FIRST):
            if n.startswith(p + "_"):
                return (0, i, n)
        return (1, 0, n)
    return sorted(names, key=bucket)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("artifact")
    ap.add_argument("--workers", type=int, default=None)
    ap.add_argument("--threads", type=int, default=None)
    ap.add_argument("--only", nargs="*", default=None)
    args = ap.parse_args()
    # unset sizes come from the host: up to 6 workers, two cores each
    # where the host has them (6 x 5 on 32 cores, 2 x 2 on 4)
    cores = len(os.sched_getaffinity(0))
    args.workers = args.workers or max(1, min(6, cores // 2))
    args.threads = args.threads or max(1, cores // args.workers)

    names = sorted(n for n in os.listdir(args.out_dir)
                   if os.path.isdir(os.path.join(args.out_dir, n)))
    if args.only:
        names = [n for n in names if n in set(args.only)]

    with open(os.path.join(args.out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)

    # Staleness invalidation (ADVICE r11): a progress line is only
    # trusted if BOTH fingerprints it was computed against still match
    # — the twin SQL (oracle_md5) and the Spark dump (dump_mtime_ns).
    # Editing a twin or re-dumping a query invalidates exactly that
    # query's verdict; lines from the pre-stamp format are stale.
    progress_path = os.path.join(args.out_dir, "check_progress.jsonl")
    done, seen = {}, set()
    if os.path.exists(progress_path):
        with open(progress_path) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                try:
                    rec = json.loads(line)
                    n = rec["name"]
                    seen.add(n)
                    # later lines supersede earlier ones (the append-only
                    # log keeps superseded verdicts for audit)
                    if (rec.get("oracle_md5") == _oracle_md5(oracles, n)
                            and rec.get("dump_mtime_ns")
                            == _dump_stamp(args.out_dir, n)):
                        done[n] = rec["entry"]
                    else:
                        done.pop(n, None)
                except Exception:
                    continue  # torn final line from a killed run
    stale = len(seen - set(done))
    todo = schedule([n for n in names if n not in done])
    print(f"[gate] {len(names)} queries, {len(done)} already done "
          f"({stale} stale invalidated), {len(todo)} to run on "
          f"{args.workers} workers x {args.threads} threads", flush=True)

    if todo:
        with open(progress_path, "a") as prog, \
             mp.Pool(args.workers, initializer=_init_worker,
                     initargs=(args.sf_dir, args.out_dir,
                               args.threads)) as pool:
            for name, entry, secs in pool.imap_unordered(_check_one, todo):
                done[name] = entry
                prog.write(json.dumps(
                    {"name": name, "secs": round(secs, 1),
                     "oracle_md5": _oracle_md5(oracles, name),
                     "dump_mtime_ns": _dump_stamp(args.out_dir, name),
                     "entry": entry}, default=str) + "\n")
                prog.flush()
                os.fsync(prog.fileno())
                ok = "OK " if entry.get("ok") else "FAIL"
                print(f"[gate] {ok} {name} ({secs:.1f}s) "
                      f"[{len(done)}/{len(names)}]", flush=True)

    n_ok = sum(1 for n in names if done.get(n, {}).get("ok"))
    body = json.dumps({n: done[n] for n in names if n in done},
                      indent=2, default=str)
    tmp = args.artifact + ".tmp"
    with open(tmp, "w") as f:
        f.write(body)
        f.write(f"\n\n{n_ok}/{len(names)} OK\n")
    if len(done) == len(names):
        os.replace(tmp, args.artifact)
        print(f"[gate] COMPLETE: {n_ok}/{len(names)} OK -> {args.artifact}",
              flush=True)
    else:
        print(f"[gate] PARTIAL: {len(done)}/{len(names)} recorded "
              f"({n_ok} OK) — rerun to resume; artifact NOT finalized",
              flush=True)
        os.remove(tmp)
    sys.exit(0 if (len(done) == len(names) and n_ok == len(names)) else 1)


if __name__ == "__main__":
    main()
