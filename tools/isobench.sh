#!/usr/bin/env bash
# Isolated per-query scale bench (VERDICT r9 ask #1): ONE query, ONE cold
# JVM, GC-logged, nothing else on the box. Produces <out>.json (the bench
# JSON lines) and <out>.gc.summary (pause accounting parsed from the
# unified GC log), leaving the raw GC log beside them as <out>.gc.log.
#
# Usage: tools/isobench.sh <query> <sfdir> <reps> <outbase>
#   e.g. tools/isobench.sh q85 /root/repo/.scale/sf10 3 BENCH_r10_sf10_iso_q85
#
# The run includes Bench's own untimed target-SF ramp pass of the query,
# so REPS timed reps execute fully JIT-warmed. SPARK_DRIVER_MEM defaults
# to 48g (required at sf10 — 8g starves the MemoryStore).
set -euo pipefail
q=$1; sf=$2; reps=$3; out=$4
cd /root/repo
gclog="$out.gc.log"
rm -f "$gclog"
SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-48g}" \
SPARK_GRAFT_BENCH_REPS="$reps" \
SPARK_GRAFT_BENCH_ONLY="$q" \
SPARK_GRAFT_SF_DIR="$sf" \
SPARK_GRAFT_GC_LOG="$gclog" \
sbt -batch "runMain graft.Bench" 2>/dev/null | grep -o '{"metric".*' > "$out.json"
python3 tools/gcsummary.py "$gclog" > "$out.gc.summary"
echo "== $out"
tail -1 "$out.json"
cat "$out.gc.summary"
