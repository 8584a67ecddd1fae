#!/usr/bin/env bash
# One-command CI-style gate: pytest + the full DuckDB correctness
# harness + the bench JSON line.  Usage:
#
#   tools/gate.sh                 # sf0.01 correctness, sf0.1 bench
#   GATE_SF=sf0.001 tools/gate.sh # faster correctness pass
#
# Exits non-zero on the first failing stage; prints a per-stage summary
# so a round's claims ship with one reproducible artifact.  Stages 2-4
# keep their stderr in $out_dir/<stage>.stderr; only stdout is parsed.
#
# Stage 4 (physical-plan lint over the whole catalog, ~20 min) runs by
# default so a plan regression (CartesianProduct, row-UDF, unreviewed
# BNLJ) cannot land quietly; set GATE_SKIP_PLAN_AUDIT=1 to skip it when
# iterating.
set -uo pipefail
cd "$(dirname "$0")/.."

GATE_SF="${GATE_SF:-sf0.01}"
BENCH_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
out_dir="${GATE_OUT:-/tmp/spark_graft_gate}"
mkdir -p "$out_dir"

echo "=== gate 1/4: pytest ==="
python -m pytest tests/ -q 2>&1 | tail -2 | tee "$out_dir/pytest.txt"
test "${PIPESTATUS[0]}" -eq 0 || { echo "GATE FAIL: pytest"; exit 1; }

echo "=== gate 2/4: correctness vs DuckDB oracles (/root/testdata/$GATE_SF) ==="
python tools/check_correctness.py "/root/testdata/$GATE_SF" 2>"$out_dir/correctness.stderr" \
  | grep -aE "OK|FAIL|rows-only|failures" | tee "$out_dir/correctness.txt"
grep -q "^0 failures" "$out_dir/correctness.txt" \
  || { echo "GATE FAIL: correctness"; exit 1; }

echo "=== gate 3/4: bench ($BENCH_SF_DIR) ==="
SPARK_GRAFT_SF_DIR="$BENCH_SF_DIR" python bench.py 2>"$out_dir/bench.stderr" \
  | tail -1 | tee "$out_dir/bench.json"
python -c "import json,sys; json.load(open('$out_dir/bench.json'))" \
  || { echo "GATE FAIL: bench emitted no JSON"; exit 1; }

if [ -z "${GATE_SKIP_PLAN_AUDIT:-}" ]; then
  echo "=== gate 4/4: physical-plan lint (GATE_SKIP_PLAN_AUDIT=1 to skip) ==="
  python tools/plan_audit.py "/root/testdata/$GATE_SF" 2>"$out_dir/plan_audit.stderr" \
    | tail -2 | tee "$out_dir/plan_audit.txt"
  grep -q "^0 failing" "$out_dir/plan_audit.txt" \
    || { echo "GATE FAIL: plan audit"; exit 1; }
else
  echo "=== gate 4/4: plan lint SKIPPED (GATE_SKIP_PLAN_AUDIT set) ==="
fi

echo "GATE PASS — artifacts in $out_dir"
