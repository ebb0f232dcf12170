#!/bin/bash
# One-run full sf0.1 gate, RESUMABLE (VERDICT r10 item 1): Verify dump
# at sf0.1, then the parallel DuckDB oracle compare (check_parallel.py)
# with per-query JSONL progress — a killed run keeps its prefix and a
# relaunch skips completed queries. Launch DETACHED (nohup); kill it
# before any Bench record (DuckDB contends for every core).
#
# Artifact lineage: CHECK_SF01_100q/129q/145q/173q.json are historical
# prefixes of the growing suite; each full-suite artifact supersedes
# the previous. The current artifact is CHECK_SF01_217q.json.
#
# Staleness (ADVICE r11): check_parallel.py stamps every progress line
# with the twin SQL's md5 AND the query dump's newest parquet mtime —
# a resumed run auto-invalidates exactly the queries whose twin or
# dump changed. The one remaining manual step: if SPARK-side code
# changed, re-dump the affected queries (run Verify with a subset into
# the same outDir) BEFORE resuming, or the stale dump itself — not the
# verdict — is what gets re-checked.
set -u
cd "$(dirname "$0")/.."
ART=${1:-$PWD/CHECK_SF01_217q.json}
OUT=${2:-/tmp/verify_sf01_r12}
# DuckDB pool: check_parallel.py sizes unset workers/threads from the
# host's cores (workers x threads <= cores)
POOL="${3:+--workers $3} ${4:+--threads $4}"
# Reuse an existing dump (resume case: the Spark phase is cheap but
# re-dumping would orphan the progress JSONL's row counts).
# Cores and heap come from the host, as in the tier-1 test command:
# every core, and half of MemTotal clamped to 2..8 GiB.
CPUS=$(env -u OMP_NUM_THREADS nproc)
HEAP=$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)
if [ ! -f "$OUT/oracle_sql.json" ]; then
  rm -rf "$OUT"
  SPARK_GRAFT_CPUS=$CPUS java -Xmx$HEAP \
    -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
    graft.Verify /root/testdata/sf0.1 "$OUT" > /tmp/sf01_dump.log 2>&1
  if grep -q "\[verify\].*failed" /tmp/sf01_dump.log; then
    echo "DUMP FAILURES:" >&2
    grep "\[verify\].*failed" /tmp/sf01_dump.log >&2
  fi
fi
python3 tools/check_parallel.py /root/testdata/sf0.1 "$OUT" "$ART" \
  $POOL 2>/tmp/sf01_check.err
tail -1 "$ART" 2>/dev/null
