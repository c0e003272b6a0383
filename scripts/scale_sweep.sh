#!/usr/bin/env bash
# Above-sf0.1 scale sweep (VERDICT r9 task 2): replicate the biggest
# shipped fixture N× with join-consistent re-keying, then run the FULL
# correctness gate (Verify + DuckDB preflight, all 174 keys) and the
# bench against the scaled dir. This is the sweep where exec_sec is
# finally dominated by data instead of dispatch — the end-to-end
# validation of the plan-shape story in PLANS.md.
#
# Usage: scripts/scale_sweep.sh [REP=10] [SRC=/root/testdata/sf0.1]
# GROW=1 runs the grown-corpus variant (scale_up.py --grow: semantically
# NEW replicas — perturbed text, orthogonally-transformed embeddings,
# extended event history) and grades with scale_compare.py --grown,
# where the pairwise keys have NO quadratic escape hatch.
# Artifacts: target/sfx (scaled parquet), bench_detail.json is NOT
# touched — the bench writes its sfx detail to bench_detail_sfx.json
# (bench_detail_grown.json under GROW=1).
set -euo pipefail
cd "$(dirname "$0")/.."
REP="${1:-10}"
SRC="${2:-/root/testdata/sf0.1}"
DST=target/sfx
OUT=/tmp/graft_verify_sfx
GROWFLAG=""; CMPFLAG=""; DETAIL=bench_detail_sfx.json
if [ "${GROW:-0}" = "1" ]; then
  GROWFLAG="--grow"; CMPFLAG="--grown"; DETAIL=bench_detail_grown.json
fi
# Override the detail filename (e.g. to keep a 30x and a 100x snapshot
# side by side without clobbering the tracked one). Never the tracked
# anchor itself: that would both overwrite the sf0.1 baseline and make
# scale_compare diff the file against itself (trivially green).
DETAIL="${GRAFT_SWEEP_DETAIL:-$DETAIL}"
if [ "$DETAIL" = "bench_detail.json" ]; then
  echo "GRAFT_SWEEP_DETAIL must not be bench_detail.json (tracked anchor)" >&2
  exit 2
fi

# Exactness-tier enforcement — RETIRED in r16 (VERDICT r15 task 6): the
# per-shingle rank-64 candidate cap (Dedup text_ngram_jaccard,
# oracle-mirrored) bounds the diagnostic's pairs at C(64,2) per shingle,
# so the key is gate-includable at every SF and the >=100x auto-excludes
# that used to live here are gone.

rm -rf "$DST" "$OUT"
python3 scripts/scale_up.py "$SRC" "$DST" "$REP" $GROWFLAG
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
  sbt -batch "runMain graft.Verify $PWD/$DST $OUT"
# STRICT by default (r13): the only cells that ever needed 1-ulp slack
# were the two grown-corpus sum_charge sums (double's 15-exact-digit
# boundary); those now emit as fixed-scale STRINGs (exact at any scale,
# representation driver-proven by the r12 canary_string_sum probe), so
# the sweep runs bit-exact. ULP_TOL=1 remains available as an escape
# hatch for diagnosing a future boundary, never for grading.
# CHUNKED=1 (r13, VERDICT r12 task 5): route the oracle through
# scripts/chunked_preflight.sh — adaptive fresh-process scheduling so a
# 100x-class corpus can't OOM one shared DuckDB buffer pool.
if [ "${CHUNKED:-0}" = "1" ]; then
  ULP_TOL="${ULP_TOL:-0}" bash scripts/chunked_preflight.sh "$PWD/$DST" "$OUT"
else
  GRAFT_ULP_TOL="${ULP_TOL:-0}" python3 scripts/preflight.py "$PWD/$DST" "$OUT"
fi
# Full-suite bench at the scaled SF. env -u drops any inherited key
# filter (a leftover GRAFT_BENCH_ONLY would silently bench a subset);
# GRAFT_BENCH_DETAIL routes the detail to bench_detail_sfx.json so the
# tracked, sf0.1-gated bench_detail.json is never touched.
env -u GRAFT_BENCH_ONLY \
  GRAFT_BENCH_DETAIL="$DETAIL" \
  SPARK_GRAFT_SF_DIR="$PWD/$DST" SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
  sbt -batch "runMain graft.Bench"
python3 scripts/bench_budgets.py "$DETAIL" || {
  echo "scale sweep: global zero-failure/zero-spill invariants FAILED"
  exit 1
}
# Per-row scaling gate vs the tracked sf0.1 anchor: linear keys must stay
# within 2*REP-fold shuffle bytes; the documented ~REP^2 pairwise/dedup
# keys within their quadratic bounds; spill stays zero everywhere.
python3 scripts/scale_compare.py bench_detail.json "$DETAIL" "$REP" $CMPFLAG || {
  echo "scale sweep: per-row shuffle-byte scaling gate FAILED"
  exit 1
}
echo "scale sweep (${REP}x $SRC${GROWFLAG:+, grown}) complete — detail in $DETAIL"
