#!/usr/bin/env bash
# Regenerates the mechanical counts in README.md from a fresh
# `sbt -batch test` run and the SparkEntry contract, so the published
# numbers can never drift from what a reviewer measures (the round-3
# README claimed 199 tests while a fresh run gave 187 — this script is
# the fix: numbers are generated, not hand-edited).
#
# Usage: tools/update_counts.sh            (runs the full test suite, ~15 min)
#        tools/update_counts.sh --reuse    (reuse /tmp/graft_test_out.log)
set -euo pipefail
cd "$(dirname "$0")/.."

log=/tmp/graft_test_out.log
if [[ "${1:-}" != "--reuse" ]]; then
  sbt -batch test 2>&1 | tee "$log" >/dev/null
fi
grep -q "All tests passed" "$log" || { echo "tests not green — refusing to update README"; exit 1; }
total=$(grep -oE "Total number of tests run: [0-9]+" "$log" | tail -1 | grep -oE "[0-9]+$")
suites=$(grep -oE "Suites: completed [0-9]+" "$log" | tail -1 | grep -oE "[0-9]+$")

counts=$(sbt -batch "runMain graft.tools.ContractCounts" 2>/dev/null | grep contract_counts)
queries=$(echo "$counts" | grep -oE '"queries":[0-9]+' | grep -oE '[0-9]+')
oracles=$(echo "$counts" | grep -oE '"oracles":[0-9]+' | grep -oE '[0-9]+')

sed -i -E "s/\| tests \| [0-9]+ tests\+properties green \(([0-9]+ suites, )?\`sbt -batch test\`\)/| tests | $total tests+properties green ($suites suites, \`sbt -batch test\`)/" README.md
sed -i -E "s/\| DuckDB oracle gate \| \*\*[0-9]+\/[0-9]+\*\*/| DuckDB oracle gate | **$oracles\/$oracles**/" README.md
# fail LOUDLY if the table format drifted and a sed silently matched nothing —
# otherwise this script would reintroduce the stale-count problem it exists
# to prevent
grep -q "| tests | $total tests+properties green ($suites suites" README.md \
  || { echo "ERROR: tests row not updated — README table format drifted"; exit 1; }
grep -q "| DuckDB oracle gate | \*\*$oracles/$oracles\*\*" README.md \
  || { echo "ERROR: oracle row not updated — README table format drifted"; exit 1; }
sed -i -E "s/Driver contract: [0-9]+ \`SparkEntry.queries\`, ALL [0-9]+/Driver contract: $queries \`SparkEntry.queries\`, ALL $oracles/" README.md
grep -q "Driver contract: $queries \`SparkEntry.queries\`, ALL $oracles" README.md \
  || { echo "ERROR: driver-contract line not updated — README format drifted"; exit 1; }
echo "README updated: $total tests / $suites suites / $queries queries / $oracles oracles"
