#!/usr/bin/env bash
# One-command correctness gate: compile, tests, Verify at the driver's SF,
# DuckDB bit-exact preflight, shuffle-byte budgets. Exit 0 == everything
# the driver will grade is green locally.
#
# RUN_BENCH=1 additionally reruns Bench at sf0.1 first, so the budget gate
# checks fresh bytes; otherwise it validates the checked-in
# bench_detail.json from the last bench run (global zero-failure/zero-spill
# invariants always, per-key byte budgets when that run was sf0.1).
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"
OUT="${2:-/tmp/graft_verify}"
sbt -batch compile test
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}" \
  sbt -batch "runMain graft.Verify $SF $OUT"
python3 scripts/preflight.py "$SF" "$OUT"
if [[ "${RUN_GUARD_SELFTEST:-0}" == "1" ]]; then
  # prove the manifest + schema-fingerprint guards actually fire
  bash scripts/selftest_guards.sh "$OUT" "$SF"
fi
if [[ "${RUN_BENCH:-0}" == "1" ]]; then
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
    SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
    sbt -batch "runMain graft.Bench"
fi
python3 scripts/bench_budgets.py bench_detail.json
# Probe-normalized regression gate (r16, VERDICT r15 task 5): its selftest
# always runs (a guard that has never fired is a guard you can't trust);
# the real compare runs when a fresh bench was taken against a base
# (GRAFT_BENCH_BASE, e.g. the previous round's tracked bench_detail.json
# restored via `git show`).
python3 scripts/bench_compare.py --selftest bench_detail.json
# the per-key plan-count diff behind refactor claims: selftest only here
python3 scripts/plan_diff.py --selftest
# the benchmark's parent/change verdicts (perfbench/, read only here)
python3 perfbench/compare.py --selftest
if [[ -n "${GRAFT_BENCH_BASE:-}" ]]; then
  python3 scripts/bench_compare.py "$GRAFT_BENCH_BASE" bench_detail.json
fi
