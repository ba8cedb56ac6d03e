#!/usr/bin/env bash
# Full local gate: compile, specs, oracle verification at two scale
# factors, benchmark. Mirrors what the round driver checks.
set -euo pipefail
cd "$(dirname "$0")/.."

sbt -batch compile
sbt -batch test

for sf in sf0.01 sf0.1; do
  out="/tmp/verify_${sf}"
  sbt -batch "runMain graft.Verify /root/testdata/${sf} ${out}"
  python3 tools/check.py "/root/testdata/${sf}" "${out}"
done

# Bench's default scale factor is sf0.1
sbt -batch "runMain graft.Bench" 2>&1 | grep '"metric"'
