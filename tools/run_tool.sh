#!/usr/bin/env bash
# Run a compiled graft tool main directly (no sbt — avoids target-lock
# contention with concurrent builds and sbt's own JVM overhead).
# Usage: tools/run_tool.sh <mainClass> [args...]
#
# The JVM gets the same static javaOptions as `sbt run`, read from build.sbt
# with the benchmark's rule (perfbench/run.py build_java_options): every
# quoted java.base/<pkg> becomes an --add-opens, and every quoted -D/-XX
# literal is passed as is. The interpolated -Xmx is computed here by the
# same rule.
set -euo pipefail
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
OPTS=()
while read -r pkg; do
  OPTS+=(--add-opens "$pkg=ALL-UNNAMED")
done < <(grep -oE '"java\.base/[^"]+"' "$ROOT/build.sbt" | tr -d '"')
while read -r opt; do
  OPTS+=("$opt")
done < <(grep -oE '"(-D[^"$]+|-XX:[^"$]+)"' "$ROOT/build.sbt" | tr -d '"')
# heap: SPARK_DRIVER_MEM, else build.sbt's default rule (half of physical
# memory in whole gigabytes, at least 1g, at most 24g)
HEAP="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 1 ? 1 : g > 24 ? 24 : g) "g"}' \
  /proc/meminfo 2>/dev/null || echo 24g)}"
# src/main/resources on the class path too: `sbt compile` does not copy it
# into the classes directory, and it registers the `cityjson` source
exec java "${OPTS[@]}" "-Xmx$HEAP" \
  -cp "$ROOT/target/scala-2.13/classes:$ROOT/src/main/resources:${SPARK_HOME:?SPARK_HOME must point at the Spark distribution}/jars/*" "$@"
