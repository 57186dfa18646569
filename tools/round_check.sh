#!/usr/bin/env bash
# One-command round gate: reproduces the driver's four gates in order.
#
#   1. sbt compile                      (must stay green)
#   2. sbt test                         (every spec, incl. the shuffle
#                                        ceilings and plan guards)
#   3. Verify @ sf0.01 + DuckDB oracle  (the correctness gate: every
#                                        query hash-checked) + the
#                                        benchmark harness's smoke test
#                                        (perfbench/scala builds and
#                                        calls the library too) + a
#                                        two-query Bench smoke run
#   4. Bench @ sf0.1 + accept-gate      (DRY-RUN through
#      accept_bench_record.py — reports ACCEPT/REJECT without copying;
#      commit a record only via the tool itself, per CLAUDE.md)
#
# Usage:  tools/round_check.sh [N]          # N = round number for the
#                                           # gate-4 record name; default:
#                                           # 1 + highest committed round
#         SKIP_BENCH=1 tools/round_check.sh # gates 1-3 only (bench needs
#                                           # a sustained-idle machine;
#                                           # see the gate's load checks)
#
# Exit code is non-zero on the first failing gate. Gate 4's REJECT is a
# script failure too: an unverifiable bench number is not a result —
# retry at true idle rather than hand-committing (CLAUDE.md round-end
# checklist).
set -u -o pipefail
cd "$(dirname "$0")/.."

N="${1:-}"
if [ -z "$N" ]; then
  last=$(ls tools/bench_records/ 2>/dev/null \
    | sed -n 's/^r\([0-9]*\)_.*/\1/p' | sort -n | tail -1)
  N=$(( ${last:-0} + 1 ))
fi

echo "=== gate 1/4: compile ==="
sbt -batch compile || exit 1

echo "=== gate 2/4: test suite ==="
sbt -batch test || exit 2

echo "=== gate 3/4: Verify @ sf0.01 + DuckDB oracle + perfbench + Bench smoke ==="
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/round_check_verify" \
  || exit 3
python3 tools/check_oracle.py /tmp/round_check_verify /root/testdata/sf0.01 \
  || exit 3
python3 perfbench/test_smoke.py || exit 3
# Bench's main runs end to end even under SKIP_BENCH: the last record
# line a two-query replay at sf0.001 prints (the summary) must parse with
# failed == 0. Its durable copy goes to its own file so a real
# /tmp/bench.json capture survives.
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 \
  SPARK_GRAFT_BENCH_OUT=/tmp/round_check_bench_smoke.json \
  sbt -batch "runMain graft.Bench q16_route_count,t16_bm25_retrieval" \
  2>&1 | grep '^{"metric"' | tail -n 1 | python3 -c '
import json, sys
rec = json.loads(sys.stdin.read())
sys.exit(0 if rec["failed"] == 0 else 1)' || exit 3

if [ "${SKIP_BENCH:-0}" = "1" ]; then
  echo "=== gate 4/4: SKIPPED (SKIP_BENCH=1) ==="
  echo "round_check: gates 1-3 PASS (bench skipped)"
  exit 0
fi

echo "=== gate 4/4: Bench @ sf0.1 -> accept-gate dry-run (round r$N) ==="
echo "    (pre-run load: $(uptime))"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  sbt -batch "runMain graft.Bench" 2>&1 | grep '"metric"' \
  > /tmp/round_check_bench.json || exit 4
python3 tools/accept_bench_record.py /tmp/round_check_bench.json \
  "tools/bench_records/r${N}_default_idle.json" --dry-run || exit 4

echo "round_check: all four gates PASS (bench dry-run only — commit the"
echo "record via tools/accept_bench_record.py without --dry-run, and"
echo "capture the reps3 record separately: SPARK_GRAFT_BENCH_REPS=3)"
