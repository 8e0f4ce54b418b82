#!/usr/bin/env bash
# q9 join-ALGORITHM A/B at the deployment decade (VERDICT r16 #1a):
# `spark.sql.join.preferSortMergeJoin=false` lets Spark pick shuffled-hash
# join where the per-partition build fits — trading SMJ's sorts for hash
# builds on the multi-key fact⋈fact web. Suite subset q3/q5/q9/q12/q18 at
# 1000×, one graft.Audit ab run: leg A (SMJ) and leg B (SHJ) alternated
# inside one JVM, min-of-2, with identical rows asserted per query and
# each leg's task metrics printed (the spill column IS the experiment: SHJ
# forfeits sort-spill graceful degradation, so a winning wall with nonzero
# spill is a memory cliff waiting for a bigger decade).
#
# Usage: scripts/shj_ab.sh [dir] [outLog]
set -euo pipefail
cd "$(dirname "$0")/.."

DIR="${1:-/tmp/scale1000}"
LOG="${2:-/tmp/shj_ab.log}"
: "${SPARK_DRIVER_MEM:=64g}"; export SPARK_DRIVER_MEM
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}"
export SPARK_GRAFT_SHUFFLE="${SPARK_GRAFT_SHUFFLE:-256}"

sbt -batch "runMain graft.Audit ab $DIR q3,q5,q9,q12,q18 --reps 2 \
--b spark.sql.join.preferSortMergeJoin=false" 2>&1 \
  | grep -E "\[audit" | tee "$LOG"
