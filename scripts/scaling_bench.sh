#!/usr/bin/env bash
# CPU-pinned maintenance scaling benchmark: runs the identical clustering
# job at 8 and 32 genuinely-available CPUs (taskset) in separate
# JVMs, then combines the two measurements into BENCH.md.
# Usage: scripts/scaling_bench.sh [nConvs]   (after `sbt compile`)
set -euo pipefail
cd "$(dirname "$0")/.."

NCONVS="${1:-150000}"
SMALL="${SMALL:-8}"   # N cores
BIG="${BIG:-32}"      # 4N cores
# Where tables + shuffle live: point at /dev/shm/graft-bench to model
# node-local storage (a real cluster's disks scale with executors; the
# sandbox's one shared disk does not). Default: repo target dir (disk).
export SPARK_GRAFT_BENCH_DIR="${SPARK_GRAFT_BENCH_DIR:-target/scalebench}"
# Freeze the classpath: a `sbt compile` during the (hour-long) run would
# otherwise swap class files under the lazily-loading JVMs -> NoSuchMethodError
rm -rf target/benchclasses
cp -r target/scala-2.13/classes target/benchclasses
CP="target/benchclasses:src/main/resources:/opt/spark/jars/*"
OPTS=(
  --add-opens=java.base/java.lang=ALL-UNNAMED
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED
  --add-opens=java.base/java.io=ALL-UNNAMED
  --add-opens=java.base/java.net=ALL-UNNAMED
  --add-opens=java.base/java.nio=ALL-UNNAMED
  --add-opens=java.base/java.util=ALL-UNNAMED
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED
  --add-opens=java.base/sun.security.action=ALL-UNNAMED
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED
  -Dspark.ui.enabled=false
  -Dspark.sql.session.timeZone=UTC
  -Xmx24g
)

# The sandbox disk is shared-host storage with intermittent multi-second
# I/O stalls (observed: identical deterministic runs vary 2-5x). Run N reps
# per configuration with sync+sleep settles between them and report the
# MEDIAN-throughput rep (robust to a single stalled run in either
# direction, unlike best-of-N).
REPS="${2:-3}"
settle() { sync; sleep 20; }

for cores in "$SMALL" "$BIG"; do
  mask="0-$((cores-1))"
  for i in $(seq 1 "$REPS"); do
    settle
    taskset -c "$mask" java "${OPTS[@]}" -cp "$CP" graft.ScalingBench \
      single "$cores" "$NCONVS" "target/scalebench/r${cores}_$i.json"
  done
  python3 - "$cores" "$REPS" <<'PY'
import json, shutil, sys
cores, reps = sys.argv[1], int(sys.argv[2])
runs = [f"target/scalebench/r{cores}_{i}.json" for i in range(1, reps+1)]
by_thr = sorted(runs, key=lambda p: json.load(open(p))["throughput"])
median = by_thr[len(by_thr) // 2]
shutil.copy(median, f"target/scalebench/r{cores}.json")
thrs = [round(json.load(open(p))["throughput"]) for p in runs]
print(f"median of {reps} for {cores} cores: {median} (throughputs: {thrs})")
PY
done
java "${OPTS[@]}" -cp "$CP" graft.ScalingBench report "target/scalebench/r$SMALL.json" "target/scalebench/r$BIG.json"
