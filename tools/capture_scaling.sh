#!/usr/bin/env bash
# N -> 4N scaling capture (the round-7 graded-rule protocol): interleaved
# 4c/16c pairs, 16-core side first, each level its own JVM, identical
# 20M-page corpus (1000x sf0.1). Only same-window pairs are trusted
# (BENCH.md round-4/5 drift data), so stored and decoded get TWO pairs each
# and encoded ONE. Each point is one ScalingBench JSON line in the output.
#
# Usage: tools/capture_scaling.sh [out.jsonl]
set -uo pipefail
cd "$(dirname "$0")/.."
OUT=${1:-/tmp/scaling.jsonl}
: > "$OUT"
run() { # cores mode
  echo "{\"start\":\"$(date -u +%H:%M:%S)\",\"cores\":$1,\"mode\":\"$2\"}" >> "$OUT"
  tools/run_tool.sh graft.tools.ScalingBench "$1" /root/testdata/sf0.1 1000 2 "$2" 2>/dev/null \
    | grep scaling_point >> "$OUT"
}
for mode in stored stored decoded decoded encoded; do
  run 16 "$mode"
  run 4 "$mode"
done
echo '{"done":true}' >> "$OUT"
