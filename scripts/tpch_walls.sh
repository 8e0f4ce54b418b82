#!/usr/bin/env bash
# TPC-H decade walls (BASELINE.md three-decade tables): full q1-q22 walls
# via graft.Audit walls, min-of-N in ONE session (the r15 protocol), with
# cost-based reorder off as in the BASELINE decade tables.
#
# Usage: scripts/tpch_walls.sh [multiplier] [reps]
set -euo pipefail
cd "$(dirname "$0")/.."

MULT="${1:-1000}"
REPS="${2:-2}"
DIR="/tmp/scale${MULT}"

if [ "$MULT" -ge 1000 ]; then
  : "${SPARK_DRIVER_MEM:=64g}"; export SPARK_DRIVER_MEM
  : "${SPARK_GRAFT_SHUFFLE:=256}"; export SPARK_GRAFT_SHUFFLE
fi
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}"

# quoted, so the conf set reaches graft.Audit as one argument
OFF="spark.sql.cbo.enabled=false;spark.sql.cbo.joinReorder.enabled=false"
sbt -batch "runMain graft.Audit walls $DIR tpch --reps $REPS --conf \"$OFF\"" \
  2>&1 | grep -E "\[audit"
