#!/usr/bin/env bash
# At-scale (sf1.0) wall + invariant sweep of the top-10 most expensive
# GENERAL (non-pair) queries from the clean bench. graft.GeneralSweep
# runs each at sf1.0 under SPARK_GRAFT_GEN_CAP_SEC (default 600 s) and
# asserts one structural invariant per query — mostly exact 10× scaling
# laws against a fresh sf0.1 run. Artifact: SWEEP_SF1_GENERAL.json.
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
  sbt -batch "runMain graft.GeneralSweep $(pwd)/target/sf1.0 /root/testdata/sf0.1 SWEEP_SF1_GENERAL.json"
