#!/bin/bash
# Interleaved A/B bench runs of two checkouts of this repository: "new" (the
# change) and "old" (its parent).
# Usage: ab_run.sh <new-checkout> <old-checkout> <queries-csv> <passes> <tag> <side-sequence e.g. "new old new old">
# Writes the bench's compact JSON line to <new-checkout>/target/ab_<tag>_<side><i>.json
# and the run's stderr to <new-checkout>/target/ab_<tag>_<side><i>.err. Exits
# non-zero, naming the side and run, at the first run that prints no
# contract line.
set -u
if [ $# -lt 6 ]; then
  echo "usage: $0 <new-checkout> <old-checkout> <queries-csv> <passes> <tag> <side>..." >&2
  exit 2
fi
NEW="$(cd "$1" && pwd)"; OLD="$(cd "$2" && pwd)"
Q="$3"; PASSES="$4"; TAG="$5"; shift 5
mkdir -p "$NEW/target"
declare -A count
for side in "$@"; do
  count[$side]=$(( ${count[$side]:-0} + 1 ))
  dir="$NEW"; [ "$side" = old ] && dir="$OLD"
  out="$NEW/target/ab_${TAG}_${side}${count[$side]}.json"
  err="${out%.json}.err"
  ( cd "$dir" && SPARK_GRAFT_ONLY="$Q" SPARK_GRAFT_PASSES="$PASSES" \
      sbt -batch "runMain graft.Bench" 2>"$err" \
    | grep '"metric":"total"' | tail -1 > "$out" )
  if [ ! -s "$out" ]; then
    echo "[ab] $TAG $side run ${count[$side]} printed no contract line; stderr in $err" >&2
    exit 1
  fi
  echo "[ab] $TAG $side run ${count[$side]} done: $(wc -c < "$out") bytes"
done
