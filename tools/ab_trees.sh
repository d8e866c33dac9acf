#!/bin/bash
# Interleaved same-host full-Bench A/B between two source trees (VERDICT r18
# "Next round #1"): alternate fresh-JVM graft.Bench runs of tree A and tree B
# at the same SF/core count so host drift hits both trees equally; odd rounds
# run A first, even rounds B first, so neither tree always pays the cold
# start. Each run's full 147-key map lands in its own JSON file; totals print
# as they land, and a run whose JSON is missing or empty is reported and
# skipped.
#
# Usage: tools/ab_trees.sh <treeA> <treeB> <sfDir> <cpus> <rounds> <outPrefix>
# Example:
#   tools/ab_trees.sh ../graft-parent . testdata/sf0.1 32 2 /tmp/ab
set -e
USAGE="usage: $0 <treeA> <treeB> <sfDir> <cpus> <rounds> <outPrefix>"
[ $# -eq 6 ] || { echo "$USAGE" >&2; exit 2; }
A=$1; B=$2; SF=$3; CPUS=$4; ROUNDS=$5; OUT=$6
for t in "$A" "$B"; do
  [ -d "$t/target/scala-2.13/classes" ] || { echo "$t: no compiled classes (run sbt compile there)" >&2; echo "$USAGE" >&2; exit 2; }
done
[ -d "$SF" ] || { echo "$SF: not a directory" >&2; echo "$USAGE" >&2; exit 2; }
[[ "$CPUS" =~ ^[1-9][0-9]*$ && "$ROUNDS" =~ ^[1-9][0-9]*$ ]] ||
  { echo "cpus and rounds must be positive integers" >&2; echo "$USAGE" >&2; exit 2; }
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
run_one() { # $1 tree, $2 outfile
  rm -f "$2"
  SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" SPARK_GRAFT_BENCH_OUT="$2" \
  java $ADD_OPENS -Xmx${SPARK_DRIVER_MEM:-32g} \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "$1/target/scala-2.13/classes:/opt/spark/jars/*" graft.Bench \
    > "$2.stdout" 2>&1 || true
  if [ -s "$2" ]; then
    python3 -c 'import json,sys; d=json.load(open(sys.argv[1])); print("%s total=%.1f s, %d keys, errors=%d" % (sys.argv[1], d["value"], len(d["queries"]), len(d.get("errors",{}))))' "$2" ||
      echo "$2: unreadable result (see $2.stdout)"
  else
    echo "$2: no result written (see $2.stdout)"
  fi
}
for i in $(seq 1 "$ROUNDS"); do
  if [ $((i % 2)) -eq 1 ]; then order="A B"; else order="B A"; fi
  for t in $order; do
    if [ "$t" = A ]; then tree=$A; else tree=$B; fi
    echo "== round $i tree $t ($tree) $(date +%H:%M:%S)"
    run_one "$tree" "${OUT}_${t}_$i.json"
  done
done
echo "done $(date +%H:%M:%S)"
