#!/bin/bash
# Run a graft main (Bench/Verify/Plans) outside sbt — same JVM flags as
# build.sbt's forked run, classpath = compiled classes + /opt/spark/jars.
# Usage: scripts/run_main.sh graft.Bench [gate ...]
set -euo pipefail
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# Heap: SPARK_DRIVER_MEM, else half of MemTotal clamped to 2-8 g.
HEAP="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)}"
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"$HEAP" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
