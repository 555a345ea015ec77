#!/usr/bin/env bash
# Run a graft main class DIRECTLY on the compiled classes — no sbt.
# Two reasons this exists (round 15):
#  - sbt holds a project-level lock, so two ladder legs (independent
#    JVMs on different fixtures) could never run concurrently through
#    it even on a 32-core/125 GB box;
#  - each sbt -batch invocation pays ~20 s of launcher/JIT before the
#    JVM of interest even starts, which multiplied across the ladder
#    legs is minutes of pure overhead.
# Mirrors build.sbt exactly: same --add-opens set (Spark 4.x on
# JDK 17 outside spark-submit), same SPARK_DRIVER_MEM heap contract
# (default: half of MemTotal, clamped to 2-8g). Session settings live
# in graft.GraftSession. Requires a prior `sbt compile`.
#
# Usage: tools/run_main.sh <mainClass> [args...]   (env: SPARK_DRIVER_MEM, SPARK_GRAFT_*)
set -euo pipefail
cd "$(dirname "$0")/.."
CLASSES=target/scala-2.13/classes
[[ -d "$CLASSES" ]] || { echo "run_main: $CLASSES missing — run sbt compile first"; exit 1; }
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# build.sbt's defaultHeap: MemTotal/2 in whole GB, clamped to 2-8g
# (2g where /proc/meminfo is absent)
HEAP_GB=$(awk '/^MemTotal:/ { g = int($2 / 2097152) } END { print (g < 2 ? 2 : g > 8 ? 8 : g) }' \
  /proc/meminfo 2>/dev/null || echo 2)
exec java $OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-${HEAP_GB}g}" \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
