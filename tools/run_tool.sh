#!/usr/bin/env bash
# Run a compiled graft tool main directly (no sbt — avoids target-lock
# contention with concurrent builds and sbt's own JVM overhead).
# Usage: tools/run_tool.sh <mainClass> [args...]
#
# The JVM gets the same static javaOptions as `sbt run`, read from build.sbt
# with the benchmark's rule (perfbench/run.py build_java_options): every
# quoted java.base/<pkg> becomes an --add-opens, and every quoted -D/-XX
# literal is passed as is. Only the interpolated -Xmx is replaced.
set -euo pipefail
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
OPTS=()
while read -r pkg; do
  OPTS+=(--add-opens "$pkg=ALL-UNNAMED")
done < <(grep -oE '"java\.base/[^"]+"' "$ROOT/build.sbt" | tr -d '"')
while read -r opt; do
  OPTS+=("$opt")
done < <(grep -oE '"(-D[^"$]+|-XX:[^"$]+)"' "$ROOT/build.sbt" | tr -d '"')
# heap: half of MemTotal, clamped to 2-8 GB (the same rule as the test gate)
HEAP="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' \
  /proc/meminfo 2>/dev/null || echo 2g)"
exec java "${OPTS[@]}" "-Xmx$HEAP" \
  -cp "$ROOT/target/scala-2.13/classes:${SPARK_HOME:?SPARK_HOME must point at the Spark distribution}/jars/*" "$@"
