#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of the checkout. The first run compiles the engine and
the harness with sbt (offline; classes under the sbt target directories,
the build stamp and classpath under .bench_build/); later runs reuse the
build while the sources are unchanged. Each run starts one JVM per measurement,
checks the workload's output, writes a full record under
.bench_build/records/, and prints as its last stdout line one JSON object
with `correct`, `attempted`, `failed` and `metrics`.

--trace 0 reports the end-to-end metrics. --trace 1 runs the workload
untraced and then traced on the same seed and reports the per-layer
metrics, with the tracing overhead as traced minus untraced measured wall;
for option_aggs_stream both drain a shorter backlog, and a third run
drains it on a single core, for reference.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from benchlib import checks, stats  # noqa: E402

WORKLOADS = ("option_aggs_stream", "curation_batch")
# the stream's tail: 40 warm micro-batches leave 10 samples beyond p75
STREAM_TAIL_Q = 0.75
JVM_TIMEOUT_S = 150
# the traced stream pair (traced run and its untraced twin) and the
# single-core reference each drain the first 11 files of the seeded
# backlog, so that all three fit one run; 10 warm batches are too few for
# a percentile, so these report walls and rates, not batch percentiles
TRACE_STREAM_FILES = 11
LOCAL1_FILES = 11


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def host_cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def host_heap():
    """Half of MemTotal, clamped to 2..8 GiB, as the repo's test tier does."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration):
        g = 2
    return f"{min(8, max(2, g))}g"


# ---------------------------------------------------------------- build

def source_files(root):
    tops = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    trees = [os.path.join(root, "src", "main"), os.path.join(HERE, "src")]
    files = [p for p in tops if os.path.isfile(p)]
    for t in trees:
        for d, _, names in os.walk(t):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build(root, build_dir):
    """Compile engine + harness if the sources changed; return the classpath."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise SystemExit("engine sources (src/main/scala) not found: run from the checkout root")
    h = hashlib.sha256()
    for p in source_files(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(build_dir, "classpath")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(build_dir, exist_ok=True)
    sbt = shutil.which("sbt")
    if not sbt:
        raise SystemExit("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness (sbt)")
    t0 = time.time()
    p = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    with open(os.path.join(build_dir, "build.log"), "w") as f:
        f.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if "perfbench" in l and ".jar" in l and ":" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"build failed (see {build_dir}/build.log):\n{p.stdout[-2000:]}")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1].strip()


# ---------------------------------------------------------------- one JVM

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(cp, workload, seed, seconds, trace, cores, work, extra=()):
    """One measurement in a fresh JVM; returns its report."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    report = os.path.join(work, "report.json")
    cmd = [shutil.which("java") or "java", f"-Xmx{host_heap()}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--cores", str(cores), "--work", work, "--report", report, *extra]
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"{workload} JVM timed out after {JVM_TIMEOUT_S} s (log: {work}/jvm.log)")
    if rc != 0 or not os.path.exists(report):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise SystemExit(f"{workload} JVM exited {rc}:\n{tail}")
    with open(report) as f:
        return json.load(f)


# ---------------------------------------------------------------- checks

def check(rep):
    """Workload output checks beyond what the JVM verified itself."""
    w, c = rep["workload"], dict(rep["check"])
    ok = bool(c.get("ok"))
    if w == "option_aggs_stream":
        gen, d = rep["generated"], rep["drain"]
        good, detail = checks.stream_sink_matches(d["sink"], c["expected"])
        counts = {"rows_in": d["rows_in"] == gen["records"],
                  "quarantined": d["quarantined"] == gen["poison"],
                  "dropped_late": d["dropped_late"] == gen["late"]}
        c.update(sink=good, detail=detail, seen=[d["rows_in"], d["quarantined"], d["dropped_late"]],
                 **counts)
        ok = ok and good and all(counts.values())
    elif w == "curation_batch":
        good, res = checks.curation_matches(c["tables"], c["outputs"])
        c = {"ok": good, "queries": res}
        ok = ok and good
    c["ok"] = ok
    return ok, c


# ---------------------------------------------------------------- metrics

def end_to_end(rep):
    w = rep["workload"]
    ops = rep["ops_ms"]
    if w == "curation_batch":
        # a fixed slice of distinct queries, not a sample of one: the typical
        # query is the geometric mean of each query's warm median, the tail
        # the slowest query's warm median
        per_q = {}
        for r in rep["queries"]:
            if r["pass"] > 0 and not r["failed"]:
                per_q.setdefault(r["query"], []).append(r["wall_s"] * 1000.0)
        medians = [stats.median(v) for v in per_q.values()]
        typical = math.exp(sum(math.log(m) for m in medians) / len(medians))
        tail = max(medians)
    else:
        typical = stats.median(ops)
        tail = stats.tail(ops, STREAM_TAIL_Q)
    attempted = rep["attempted"]
    return {
        "setup_s": rep["setup_s"],
        "ok_share": (attempted - rep["failed"]) / attempted,
        "op_typical_ms": typical,
        "op_tail_ms": tail,
        "cold_wall_s": rep["cold_wall_s"],
        "warm_wall_s": stats.median(rep["warm_wall_s"]),
    }


def per_layer(traced, untraced, local1, cores):
    out = dict(traced.get("layers", {}))
    with open(traced["spans"]) as f:
        spans = [json.loads(l) for l in f]
    out["exec.occupancy"] = stats.occupancy(out.get("exec.task_s", 0.0), traced["wall_s"], cores)
    waits = traced.get("sched_waits_ms") or [0.0]
    out["exec.sched_wait_ms"] = stats.median(waits)
    for layer, us in stats.self_times(spans).items():
        out[f"self.{layer}_ms"] = us / 1000.0
    # memory from the untraced twin, which keeps no spans
    out["jvm.peak_rss_mb"] = untraced["peak_rss_mb"]
    # overhead on the whole measured window: a fixed query slice or backlog
    # on both sides, and too few operations for a percentile
    out["trace.wall_s"] = traced["wall_s"]
    out["trace.overhead_ms"] = (traced["wall_s"] - untraced["wall_s"]) * 1000.0
    out["trace.overhead_share"] = (traced["wall_s"] - untraced["wall_s"]) / untraced["wall_s"]
    if traced["workload"] == "curation_batch":
        # builder call vs final action, summed; per query, the warm medians
        ran = [r for r in traced["queries"] if not r["failed"]]
        out["SparkEntry.build_s"] = sum(r["build_s"] for r in ran)
        out["exec.final_plan_s"] = sum(r["final_plan_s"] for r in ran)
        for q in {r["query"] for r in ran}:
            warm = [r for r in ran if r["query"] == q and r["pass"] > 0]
            out[f"query.{q}.wall_s"] = stats.median([r["wall_s"] for r in warm])
            out[f"query.{q}.build_s"] = stats.median([r["build_s"] for r in warm])
    if local1 is not None:
        out["local1.throughput_per_s"] = local1["throughput_per_s"]
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    build_dir = os.path.join(root, ".bench_build", "perfbench")
    cp = build(root, build_dir)
    cores = host_cores()
    work = os.path.join(root, ".bench_build", "work")
    records = os.path.join(root, ".bench_build", "records")
    os.makedirs(records, exist_ok=True)

    def measure(trace, n_cores=cores, tag="main", extra=()):
        rep = run_jvm(cp, a.workload, a.seed, a.seconds, trace, n_cores,
                      os.path.join(work, tag), extra)
        ok, c = check(rep)
        rep["check"] = c
        return ok, rep

    if a.trace:
        # the untraced twin on the same seed is the reference for the
        # tracing overhead
        short = (("--stream-files", str(TRACE_STREAM_FILES))
                 if a.workload == "option_aggs_stream" else ())
        ok_u, untraced = measure(False, tag="untraced", extra=short)
        ok, traced = measure(True, tag="traced", extra=short)
        same_inputs = (untraced["generated"]["input_digest"]
                       == traced["generated"]["input_digest"])
        ok = ok and ok_u and same_inputs
        record = {"traced": traced, "untraced": untraced, "same_inputs": same_inputs}
        local1 = None
        if a.workload == "option_aggs_stream":
            # single-thread reference on a shorter backlog; recorded, not gated
            ok_1, local1 = measure(False, n_cores=1, tag="local1",
                                   extra=("--stream-files", str(LOCAL1_FILES)))
            record["local1"] = local1
            ok = ok and ok_1
        rep = traced
        metrics = per_layer(traced, untraced, local1, cores)
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        vals = {m["name"]: metrics.get(m["name"], 0.0) for m in spec["per_layer"]}
        record["per_layer_all"] = metrics
    else:
        ok, rep = measure(False, tag="untraced")
        record = {"untraced": rep}
        metrics = end_to_end(rep)
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        vals = {m["name"]: metrics[m["name"]] for m in spec["end_to_end"]}
    record["metrics"] = vals
    record["seconds"] = a.seconds
    record["host"] = {"cores": cores, "heap": host_heap(), "loadavg": os.getloadavg(),
                      "steal_jiffies_run": rep["host"]["steal_jiffies_run"],
                      "foreign_jvms": rep["host"]["before"]["foreign_jvms"]}
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}.json"
    with open(os.path.join(records, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    summary = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
               "input_digest": rep["generated"]["input_digest"], "host": record["host"],
               "check": rep["check"] if not ok else "ok", "record": f".bench_build/records/{name}"}
    print(json.dumps(summary, default=str))
    print(json.dumps({"correct": ok, "attempted": rep["attempted"], "failed": rep["failed"],
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in vals.items()}}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
