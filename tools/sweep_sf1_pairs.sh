#!/usr/bin/env bash
# At-scale (sf1.0) Spark-only sweep of the 18 pair-explosion queries
# that tools/sweep_sf1.sh must exclude (their DuckDB oracles are
# quadratic in block/cluster size). graft.PairSweep runs each one at
# sf1.0 and asserts structural invariants instead of oracle hashes —
# clone consistency, same-copy pair-set equality vs sf0.1, exact
# clone-pair counts, cluster divisibility/coverage, bucket-cap metrics,
# and a wall-clock cap. Artifact: SWEEP_SF1_PAIRS.json at the repo root.
set -euo pipefail
cd "$(dirname "$0")/.."

if [ ! -f target/sf1.0/lineitem.parquet ]; then
  python3 tools/make_sf1.py /root/testdata/sf0.1 target/sf1.0 10
fi

# The forked run JVM takes its heap from SPARK_DRIVER_MEM (build.sbt).
# 16g, deliberately NOT bigger: with -Xmx64g this box's GC turns bimodal
# and the same suite reads 5-18x slower cold (measured r13: q285 60s at
# 8-16g vs 290-1073s at 64g; q164 115s at 16g vs 103/576s at 64g) --
# the r11 OOM this once guarded against was fixed by the DISK_ONLY
# result materialization, not by heap size.
SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-16g} \
  sbt -batch "runMain graft.PairSweep $(pwd)/target/sf1.0 /root/testdata/sf0.1 SWEEP_SF1_PAIRS.json"
