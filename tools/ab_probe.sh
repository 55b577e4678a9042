#!/bin/bash
# Interleaved same-host A/B: a base commit (side A) against the working
# tree (side B) over a list of Bench queries.
#
# Usage: tools/ab_probe.sh <base-commit> <queries-csv> <out.json>
#
# Env:
#   SPARK_GRAFT_SF_DIR  data directory (required); Bench warms up on its
#                       sibling sf0.001 directory
#   SPARK_GRAFT_CPUS    session cores (default: nproc, as in the Tier-1 recipe)
#   SPARK_DRIVER_MEM    forked JVM heap (default: half the RAM, 2g..8g, as
#                       in the Tier-1 recipe)
#
# Protocol: the base commit is exported with `git archive` into a temporary
# directory and both trees are pre-built, so compilation never lands
# inside a timed window. Then 5 alternating rounds of (A: base, B: working
# tree), each a full Bench invocation (untimed sf0.001 warmup + 3
# interleaved timed passes, per-query min) on the SAME data.
# Alternation bounds host-climate drift: any slow window hits both sides.
# tools/ab_merge.py merges the invocations into <out.json>. Bench times
# headline queries only: a listed query outside Bench.headline stops the run
# with an error naming it.
#
# NO other sbt/JVM workload may run concurrently (timings poison).
set -eu
[ $# -eq 3 ] || { sed -n '5p' "$0"; exit 2; }
BASE=$1 QS=$2 OUT=$3
: "${SPARK_GRAFT_SF_DIR:?set SPARK_GRAFT_SF_DIR to the data directory}"
: "${SPARK_GRAFT_CPUS:=$(env -u OMP_NUM_THREADS nproc)}"
: "${SPARK_DRIVER_MEM:=$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)}"
ROUNDS=5 PASSES=3
export SPARK_GRAFT_SF_DIR SPARK_GRAFT_CPUS SPARK_DRIVER_MEM

HEAD_DIR=$(git rev-parse --show-toplevel)
BASE_SHA=$(git -C "$HEAD_DIR" rev-parse --short "$BASE")
WORK=$(mktemp -d "${TMPDIR:-/tmp}/ab_probe.XXXXXX")
trap 'rm -rf "$WORK"' EXIT
mkdir "$WORK/base"
git -C "$HEAD_DIR" archive "$BASE_SHA" | tar -x -C "$WORK/base"

# pre-build both sides so compilation never lands inside a timed window
(cd "$WORK/base" && sbt -batch compile)
(cd "$HEAD_DIR" && sbt -batch compile)

for i in $(seq 1 "$ROUNDS"); do
  for side in A B; do
    if [ "$side" = A ]; then dir=$WORK/base; else dir=$HEAD_DIR; fi
    (cd "$dir" && SPARK_GRAFT_BENCH_PASSES=$PASSES \
      SPARK_GRAFT_BENCH_OUT="$WORK/ab_${side}_${i}.json" \
      sbt -batch "runMain graft.Bench $QS")
  done
done

python3 "$HEAD_DIR/tools/ab_merge.py" "$WORK/ab" "$OUT" base \
  "$ROUNDS alternating rounds of (base $BASE_SHA, working tree), each a full Bench run (sf0.001 warmup + $PASSES timed passes) at $SPARK_GRAFT_SF_DIR local[$SPARK_GRAFT_CPUS], heap $SPARK_DRIVER_MEM; per-round sample = the invocation's per-query min"
