#!/usr/bin/env bash
# Scale-stress protocol (BASELINE.md "Round-10 scale-stress"): generate an
# N×-sf0.1 documents/events/embeddings set with graft.ScaleGen and run the
# heavy pipeline entries through the normal Bench min-of-3 protocol.
#
# Usage: scripts/scale_stress.sh [multiplier] [outJson]
#   multiplier: 10 (default, the sf1 shape), 100 (the linearity decade),
#   or 1000 (the deployment decade: 600M lineitem / 25 GB — needs
#   SPARK_DRIVER_MEM≈64g and a data-sized shuffle width, both defaulted
#   below per SURVEY §1's spill rule; see graft.Audit's note)
#
# SPARK_GRAFT_QUERIES (comma-separated entry names) replaces the default
# query list, e.g. SPARK_GRAFT_QUERIES=d_cluster,p_token_budget.
#
# Interpretation: compare per-query mins against the sf0.1 table in
# BASELINE.md. A heavy operator reading ≥ multiplier× its sf0.1 wall has
# flipped to a super-linear shape (driver-side collect, single-partition
# collapse, unbounded pair-gen) and is a round-blocking regression.
set -euo pipefail
cd "$(dirname "$0")/.."

MULT="${1:-10}"
OUT="${2:-/tmp/bench_scale${MULT}.json}"
DIR="/tmp/scale${MULT}"

if [ "$MULT" -ge 1000 ]; then
  : "${SPARK_DRIVER_MEM:=64g}"; export SPARK_DRIVER_MEM
  : "${SPARK_GRAFT_SHUFFLE:=256}"; export SPARK_GRAFT_SHUFFLE
fi

sbt -batch "runMain graft.ScaleGen $DIR $MULT"

SPARK_GRAFT_SF_DIR="$DIR" \
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
SPARK_GRAFT_QUERIES="${SPARK_GRAFT_QUERIES:-d_exact,d_minhash,d_ngram_jaccard,d_cluster,n_ivfpq_topk,p_e2e,p_token_budget,cb_h2o_gb,x_repetition}" \
SPARK_GRAFT_BENCH_OUT="$OUT" \
  sbt -batch "runMain graft.Bench"

python3 - "$OUT" <<'EOF'
import json, sys
j = json.load(open(sys.argv[1]))
assert j["failed"] == [], f"scale-stress failures: {j['failed']}"
print(f"scale-stress OK: total {j['value']}s at {j['sf']}")
for k, v in j["queries"].items():
    print(f"  {k:20s} {v:8.3f}s  (spread {j['spread'][k]:.3f})")
EOF
