#!/bin/bash
# Scale-proof driver: run each requested graft.tools.ScaleBench section in
# its own JVM (sections persist to BENCH/scale_sections/*.md and SCALE.md is
# reassembled after each).
#
# usage: scripts/scale_run.sh <section>...
#   a section is a ScaleBench mode, with its arguments joined by ':'
#   (`protocol:sf0.3` runs `ScaleBench protocol sf0.3`); the pseudo-section
#   `test` runs the sbt test suite instead. Example (the full round-3 chain):
#     scripts/scale_run.sh test linearity workload ann decode protocol:sf0.3
# SPARK_HOME must point at the Spark install; logs land under /tmp/scale.
set -uo pipefail
[ $# -gt 0 ] || { sed -n '2,11p' "$0"; exit 2; }
cd "$(dirname "$0")/.."
LOG=/tmp/scale
mkdir -p "$LOG"

ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# snapshot the compiled classes so recompiles during the (hours-long) chain
# cannot corrupt lazily-loaded classes in running sections
rm -rf "$LOG/classes"
cp -r target/scala-2.13/classes "$LOG/classes"
CP="$LOG/classes:${SPARK_HOME:?SPARK_HOME must point at the Spark install}/jars/*"
MEM="${SPARK_DRIVER_MEM:-24g}"

for section in "$@"; do
  name=${section//:/_}
  echo "=== $name start $(date +%T) ===" | tee -a "$LOG/chain.log"
  if [ "$section" = test ]; then
    sbt -batch test > "$LOG/$name.log" 2>&1
  else
    IFS=: read -r -a args <<< "$section"
    # --add-modules: without it the SIMD MinHash kernel silently falls back
    # to the scalar loop (MinHash.vectorKernelUsable)
    java $ADD_OPENS --add-modules jdk.incubator.vector \
         -Xmx$MEM -Xms$MEM -XX:+AlwaysPreTouch -XX:+UseParallelGC \
         -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
         -cp "$CP" graft.tools.ScaleBench "${args[@]}" > "$LOG/$name.log" 2>&1
  fi
  echo "=== $name done rc=$? $(date +%T) ===" | tee -a "$LOG/chain.log"
done
echo "=== chain complete $(date +%T) ===" | tee -a "$LOG/chain.log"
