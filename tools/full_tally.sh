#!/bin/sh
# Full-catalog correctness tally at one scale factor: graft.Verify dumps
# every SparkEntry.queries result + oracle_sql.json, then oracle_check.py
# replays every oracle in DuckDB and value-compares. The sf0.01-only
# driver gate provably misses float-boundary defects that only appear at
# sf0.1 (x_cluster_medoids, round 10) — so every round commits this tally
# at BOTH scales from the final HEAD (ORACLE_sf{sf}_r{N}.txt).
#
# Usage: tools/full_tally.sh <sfDir> <outTxt> [verifyOutDir]
set -e
SF="$1"
OUT="$2"
VDIR="${3:-/tmp/graft_full_tally}"
cd "$(dirname "$0")/.."
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}" sbt -batch "runMain graft.Verify $SF $VDIR" >"$VDIR.log" 2>&1
python3 tools/oracle_check.py "$VDIR" "$SF" >"$OUT" 2>&1
tail -1 "$OUT"
