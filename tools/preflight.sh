#!/usr/bin/env bash
# Round pre-flight (VERDICT r5 ask #7): the full local gate in ONE command,
# run before ending a round — encodes the round-4 lesson (a regression
# shipped because no end-to-end pass ran after the last source change).
#
#   tools/preflight.sh
#
# Runs, in one sbt JVM: SmokeGateSpec (catalog + streaming tripwires) and
# SessionsSpec (the codegen cache size),
# graft.Verify at sf0.001 and at sf0.01, then a 1-rep calibrated
# mini-bench at sf0.01; then the benchmark harness's own tests (`sbt test`
# in perfbench/, which the engine's test run does not cover); then the
# DuckDB oracle compare over each Verify output. Exits non-zero on ANY
# red: test failure, Verify-recorded query error, oracle mismatch, or
# bench-recorded query error.
set -u -o pipefail
cd "$(dirname "$0")/.."

OUT=/tmp/graft_preflight_out
OUT_SF001=/tmp/graft_preflight_out_sf001
LOG=/tmp/graft_preflight.log
: > "$LOG"
echo "preflight @ HEAD $(git rev-parse --short HEAD) ($(date -u +%FT%TZ))"

# One cold sbt JVM for all three stages (a warm `sbt --client` server would
# not see these env vars). sf dir/reps only affect the Bench stage; Verify
# takes explicit args.
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}" \
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 \
SPARK_GRAFT_BENCH_REPS=1 \
  sbt -batch \
    "testOnly graft.SmokeGateSpec graft.core.SessionsSpec" \
    "runMain graft.Verify /root/testdata/sf0.001 $OUT" \
    "runMain graft.Verify /root/testdata/sf0.01 $OUT_SF001" \
    "runMain graft.Bench" >> "$LOG" 2>&1
rc=$?
if [ $rc -ne 0 ]; then
  echo "FAIL: sbt stage rc=$rc (SmokeGateSpec / SessionsSpec / Verify / Bench) -- see $LOG"
  tail -n 30 "$LOG"
  exit 1
fi

# perfbench is its own sbt build (it compiles against the engine sources);
# run after the engine JVM exits so the two never share the target lock
echo "perfbench tests:"
(cd perfbench && sbt -batch test) >> "$LOG" 2>&1
rc=$?
grep -a 'Tests: succeeded' "$LOG" | tail -n 1
if [ $rc -ne 0 ]; then
  echo "FAIL: perfbench sbt test rc=$rc -- see $LOG"
  tail -n 30 "$LOG"
  exit 1
fi

for pair in "sf0.001 $OUT" "sf0.01 $OUT_SF001"; do
  set -- $pair
  if [ "$(cat "$2/_errors.json")" != "{}" ]; then
    echo "FAIL: Verify recorded query errors at $1:"
    cat "$2/_errors.json"
    exit 1
  fi
  echo "oracle check at $1:"
  if ! python3 tools/check.py "/root/testdata/$1" "$2" | tail -n 3; then
    echo "FAIL: oracle mismatch at $1 (tools/check.py) -- rerun for the full list"
    exit 1
  fi
done

BENCH_LINE=$(grep -o '{"metric".*}' "$LOG" | tail -n 1)
if [ -z "$BENCH_LINE" ]; then
  echo "FAIL: no bench JSON line in $LOG"
  exit 1
fi
python3 - "$BENCH_LINE" <<'EOF'
import json, sys
d = json.loads(sys.argv[1])
errs = d["errors"]
if errs:
    print(f"FAIL: mini-bench recorded {len(errs)} query errors: "
          f"{', '.join(sorted(errs))}")
    sys.exit(1)
n = len(d["queries"])
print(f"mini-bench ok: {n} queries, total "
      f"{float(d['value']):.1f}s raw, calib_sec {d.get('calib_sec', 0):.3f}")
EOF
rc=$?
[ $rc -ne 0 ] && exit 1

echo "PREFLIGHT GREEN"
