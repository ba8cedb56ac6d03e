#!/usr/bin/env bash
# At-scale (sf1.0) oracle sweep — the gate that caught the q152 AQE
# re-plan and q133 decimal re-entry divergences at sf0.1; each 10x of
# data has exposed a new class, so shared machinery must also hold at
# ~6M-row lineitem / 1M-row events.
#
# Data: tools/make_sf1.py derives target/sf1.0 deterministically from
# the driver's sf0.1 tables (10 FK-consistent key-shifted copies).
#
# Scope: every oracle-gated query EXCEPT the pair-explosion families,
# whose DuckDB oracles are quadratic in block/cluster size and blow up
# ~100x at 10x data (the Spark sides are blocked/bounded by design;
# their at-scale behavior is covered by the block-size audits and
# PLAN_AUDIT shapes instead):
#   q25-q29  minhash/ngram/simhash pair generation
#   q45,q130,q137 connected components / cluster reports over pair graphs
#   q103,q105,q106,q119 span/fuzzy/ppjoin/containment pair joins
#   q164,q166,q198 Fellegi-Sunter scoring + linkage (brand-blocked pairs)
#   q185,q206 cell-local pairwise / kNN-graph (corpus-sized cells)
#   q218    dedup-savings (components over the pair graph)
#   q302    blocked Levenshtein pairs (block-quadratic oracle join)
#   q313    capture-recapture (quadratic shingle-join oracle)
set -euo pipefail
cd "$(dirname "$0")/.."

EXCL="-q25_,-q26_,-q27_,-q28_,-q29_,-q45_,-q103_,-q105_,-q106_,-q119_,-q130_,-q137_,-q164_,-q166_,-q185_,-q198_,-q206_,-q218_,-q302_,-q313_"

if [ ! -f target/sf1.0/lineitem.parquet ]; then
  python3 tools/make_sf1.py /root/testdata/sf0.1 target/sf1.0 10
fi

out=/tmp/verify_sf1
sbt -batch "runMain graft.Verify $(pwd)/target/sf1.0 ${out} ${EXCL}"
python3 tools/check.py "$(pwd)/target/sf1.0" "${out}" "${EXCL}"
