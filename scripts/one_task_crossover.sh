#!/usr/bin/env bash
# Measures where running an aggregate or window over a FactTable read in
# one task stops paying (graft.plans.SmallReadOnePartition): builds the
# program and the benchmark harness with perfbench/build.py, compiles
# scripts/crossover/OneTaskCrossover.scala against them and runs it in one
# JVM with the benchmark's heap and JVM flags. See that file for the
# output columns.
#
# Usage: scripts/one_task_crossover.sh [checkpoints-kB] [pairs] [seed]
#   scripts/one_task_crossover.sh 64,1024,4096,10240 15 1
set -euo pipefail
cd "$(dirname "$0")/.."
CHECKPOINTS="${1:-64,256,1024,2048,4096,7168,10240,20480}"
PAIRS="${2:-15}" SEED="${3:-1}"

CP=$(python3 perfbench/build.py)
JARS="${CP#*:}"
OUT=.bench_build/crossover
rm -rf "$OUT" && mkdir -p "$OUT/classes"
java -Xss8m -Xmx2g -XX:-UsePerfData -cp "$JARS" scala.tools.nsc.Main -nowarn \
  -d "$OUT/classes" -classpath "$CP" scripts/crossover/OneTaskCrossover.scala
WORK=$(pwd -P)/$OUT/work
trap 'rm -rf "$WORK"' EXIT
mkdir -p "$WORK/tmp"
OPENS=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
    java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
    sun.security.action sun.util.calendar; do
  OPENS+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
java -Xms2g -Xmx2g -XX:+UseG1GC -XX:-UsePerfData -XX:-UseCodeCacheFlushing \
  -XX:ReservedCodeCacheSize=1g -Djava.io.tmpdir="$WORK/tmp" \
  -Dspark.sql.session.timeZone=UTC -Dspark.ui.enabled=false "${OPENS[@]}" \
  -cp "$OUT/classes:$CP" perfbench.OneTaskCrossover "$WORK" "$CHECKPOINTS" "$PAIRS" "$SEED" \
  2> "$OUT/run.log"
