#!/bin/bash
# Quiet-window full-suite bench protocol (committed form of the measurement
# discipline documented in README "Benchmark hygiene").
#
# Full-suite graft.Bench numbers at sf0.1 are only comparable when NOTHING
# else runs on the box: a concurrent sbt/Verify JVM inflates queries 3-10x,
# and big concurrent IO (e.g. deleting GBs of spill) inflates whichever
# queries run during it. This script:
#   1. kills every other JVM on the box (sbt daemons, stray Spark drivers),
#   2. records the ambient load (uptime) before and after as the run's
#      control-group context — discard the run if load1 was >2 at start,
#   3. runs graft.Bench N times (default 3) back to back, alone,
#   4. prints each run's headline seconds and the min ("the number").
#
# Usage: tools/bench_quiet.sh [runs] [sfdir]
#   SPARK_GRAFT_CPUS (default: the host's cores) and SPARK_GRAFT_BENCH_REPS
#   (default 3) pass through to graft.Bench.
set -e
cd "$(dirname "$0")/.."
RUNS="${1:-3}"
SFDIR="${2:-/root/testdata/sf0.1}"
OUT="${BENCH_QUIET_OUT:-/tmp/bench_quiet}"
mkdir -p "$OUT"

# 1. quiet the box: kill all OTHER java processes (not our own shell tree)
ps aux | grep '[j]ava' | awk '{print $2}' | xargs -r kill 2>/dev/null || true
sleep 3
ps aux | grep '[j]ava' | awk '{print $2}' | xargs -r kill -9 2>/dev/null || true
sleep 1

echo "=== quiet-window check ==="
uptime
REMAIN=$(ps aux | grep -c '[j]ava' || true)
echo "residual JVMs: $REMAIN (want 0)"

for i in $(seq 1 "$RUNS"); do
  echo "=== run $i/$RUNS ==="
  uptime
  SPARK_GRAFT_SF_DIR="$SFDIR" \
    tools/run_main.sh graft.Bench > "$OUT/run$i.json" 2>"$OUT/run$i.log" || {
      echo "run $i FAILED (see $OUT/run$i.log)"; continue; }
  grep -o '"value":[0-9.]*' "$OUT/run$i.json" | tail -1
done

echo "=== summary (min is the number) ==="
uptime
for i in $(seq 1 "$RUNS"); do
  v=$(grep -o '"value":[0-9.]*' "$OUT/run$i.json" 2>/dev/null | tail -1 | cut -d: -f2)
  [ -n "$v" ] && echo "run$i: $v s"
done
