#!/usr/bin/env bash
# Run a compiled graft tool main directly (no sbt — avoids target-lock
# contention with concurrent builds and sbt's own JVM overhead).
# Usage: tools/run_tool.sh <mainClass> [args...]
set -euo pipefail
OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/jdk.internal.ref java.base/sun.nio.ch java.base/sun.nio.cs \
         java.base/sun.security.action java.base/sun.util.calendar; do
  OPENS="$OPENS --add-opens=$p=ALL-UNNAMED"
done
# heap: half of MemTotal, clamped to 2-8 GB (the same rule as the test gate)
HEAP="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' \
  /proc/meminfo 2>/dev/null || echo 2g)"
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
exec java $OPENS "-Xmx$HEAP" -XX:+UseParallelGC \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:${SPARK_HOME:?SPARK_HOME must point at the Spark distribution}/jars/*" "$@"
