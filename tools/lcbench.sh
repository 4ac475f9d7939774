#!/usr/bin/env bash
# Multi-executor bench leg: run selected queries through graft.Bench on
# `local-cluster[W,C,M]` -- real worker/executor JVMs on this box, so
# shuffle fetch is serialized over netty, each executor has its own
# memory pools, and broadcasts cross process boundaries.
#
# Usage: tools/lcbench.sh <queries> <sfdir> <reps> <outbase>
#   e.g. tools/lcbench.sh q85 .scale/sf1 3 /tmp/lc_sf1_q85
#
# Knobs (env):
#   LC_WORKERS / LC_CORES / LC_MEM_MB  cluster shape (default 4, 8, 8192)
#   LC_EXEC_MEM     executor heap (default 6g; must fit LC_MEM_MB)
#   LC_OFFHEAP      per-executor off-heap pool, e.g. 8g (default off)
#   LC_DRIVER_MEM   driver heap (default 8g)
#
# Writes Bench's one JSON line to <outbase>.json and spark-submit's stderr
# to <outbase>.stderr.log. Per-task shuffle, spill and input bytes are not
# in the Bench line; they come from Spark's own event log. spark-submit
# reads spark-defaults.conf from $SPARK_CONF_DIR, so point it at a
# directory whose spark-defaults.conf sets `spark.eventLog.enabled true`,
# `spark.eventLog.compress false` and `spark.eventLog.dir <dir>`, then
# compare the SparkListenerTaskEnd byte counts of two topologies: the
# same plan writes the same bytes.
# Result identity across topologies is tools/lcverify.sh's job.
#
# Launches through spark-submit so the worker/executor JVMs inherit
# SPARK_HOME and the packaged graft jar; graft.Bench picks the master up
# via SPARK_GRAFT_MASTER (an explicit .master() in code would override
# --master). Run `sbt -batch package` first -- this script does not
# rebuild.
set -euo pipefail
q=$1; sf=$2; reps=$3; out=$4
W="${LC_WORKERS:-4}"; C="${LC_CORES:-8}"; M="${LC_MEM_MB:-8192}"
cd "$(dirname "$0")/.."
JAR=target/scala-2.13/clickhouse_etlspark_2.13-0.1.0.jar
[ -f "$JAR" ] || { echo "missing $JAR — run: sbt -batch package" >&2; exit 2; }
export SPARK_HOME=/opt/spark
master="local-cluster[$W,$C,$M]"
SPARK_GRAFT_MASTER="$master" \
SPARK_GRAFT_CPUS=$((W * C)) \
SPARK_GRAFT_BENCH_REPS="$reps" \
SPARK_GRAFT_BENCH_ONLY="$q" \
SPARK_GRAFT_SF_DIR="$sf" \
"$SPARK_HOME/bin/spark-submit" \
  --master "$master" \
  --driver-memory "${LC_DRIVER_MEM:-8g}" \
  --conf spark.executor.memory="${LC_EXEC_MEM:-6g}" \
  --conf spark.ui.enabled=false \
  ${LC_OFFHEAP:+--conf spark.memory.offHeap.enabled=true \
    --conf spark.memory.offHeap.size="$LC_OFFHEAP"} \
  --class graft.Bench "$JAR" 2>"$out.stderr.log" \
  | grep -o '{"metric".*' > "$out.json"
echo "== $out ($master exec=${LC_EXEC_MEM:-6g} offheap=${LC_OFFHEAP:-none})"
tail -1 "$out.json"
