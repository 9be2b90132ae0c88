#!/usr/bin/env bash
# One-command repro driver (VERDICT r8 #7): regenerates every round
# artifact deterministically — correctness gate (both scales), bench
# suite, plan dump — so "what the repo claims" is always one command
# away from "what the code does", never last-run-wins.
#
#   tools/run_all.sh            # gate @ sf0.01 + sf0.1, bench @ sf0.1, plans
#   tools/run_all.sh quick      # gate @ sf0.01 only, no bench
#   tools/run_all.sh budgets    # gate @ sf0.01 three times: with the
#                               # broadcast budget (SPARK_GRAFT_BC_BYTES)
#                               # at 0, then at Long.MaxValue, so every
#                               # budget-gated dispatch path runs on its
#                               # fallback side, then on its broadcast
#                               # side; then with both Spark broadcast
#                               # thresholds at -1, so every DataFrame
#                               # join without a broadcast hint shuffles;
#                               # no tests, no bench
#
# Bench passes merge best-of-samples per code state (see Bench.scala);
# run the script twice for a tighter committed bench_out.json.
set -euo pipefail
cd "$(dirname "$0")/.."
MODE="${1:-full}"

gate_sf001() {
  sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $1"
  python3 tools/local_verify.py /root/testdata/sf0.01 "$1"
}

if [ "$MODE" = "budgets" ]; then
  for budget in 0 9223372036854775807; do
    echo "=== correctness gate @ sf0.01, broadcast budget = $budget ==="
    SPARK_GRAFT_BC_BYTES=$budget gate_sf001 "/tmp/graft_gate_sf001_budget_$budget"
  done
  echo "=== correctness gate @ sf0.01, Spark broadcast thresholds = -1 ==="
  SPARK_GRAFT_CONF="spark.sql.autoBroadcastJoinThreshold=-1;spark.sql.adaptive.autoBroadcastJoinThreshold=-1" \
    gate_sf001 /tmp/graft_gate_sf001_no_autobroadcast
  echo "run_all: done ($MODE)"
  exit 0
fi

echo "=== compile + test ==="
sbt -batch compile test
python3 -m unittest discover -s perfbench -p 'test_*.py'

echo "=== correctness gate @ sf0.01 ==="
gate_sf001 /tmp/graft_gate_sf001

if [ "$MODE" = "full" ]; then
  echo "=== correctness gate @ sf0.1 ==="
  sbt -batch "runMain graft.Verify /root/testdata/sf0.1 /tmp/graft_gate_sf01"
  python3 tools/local_verify.py /root/testdata/sf0.1 /tmp/graft_gate_sf01

  echo "=== bench suite @ sf0.1 (writes bench_out.json) ==="
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.Bench"

  echo "=== plan dump (rewrites PLANS.md) ==="
  sbt -batch "runMain graft.tools.PlanDump"
fi

echo "=== artifacts ==="
git status --short bench_out.json PLANS.md || true
echo "run_all: done ($MODE)"
