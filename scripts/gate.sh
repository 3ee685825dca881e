#!/usr/bin/env bash
# Pre-ship correctness gate: the ONE command to run at HEAD before
# committing artifacts or claiming battery status.
#
#   scripts/gate.sh [sfDir] [queries...]
#
# Runs the full battery (or the named subset) through graft.Verify,
# then BOTH oracle checks:
#   - check_oracle.py  : tolerant (rtol=1e-9) value compare — catches
#                        real wrong answers with a readable diff
#   - exact_check.py   : strict stringify-hash mirror of the driver's
#                        CORRECTNESS gate — catches type/format drift
#                        (HUGEINT-vs-BIGINT, trailing zeros) that the
#                        tolerant check waves through
# Exit 0 only if both pass. This exists because round 9 shipped 7 red
# driver rows that check_oracle.py alone had green-lit.
set -euo pipefail
cd "$(dirname "$0")/.."

# Codegen-fallback tripwire: a janino compile failure is SILENT — Spark
# falls back to interpreted eval and every oracle stays green, so a 10×
# throughput regression ships invisibly (round 12 shipped the OPQ
# permute blowup exactly this way). Fail the gate on any CodeGenerator
# compile ERROR in the captured Spark logs.
codegen_tripwire() {
  local log="$1" label="$2" n
  n=$(grep -c "ERROR CodeGenerator" "$log" || true)
  if [ "${n:-0}" != "0" ]; then
    grep -m 5 "ERROR CodeGenerator\|Code grows beyond" "$log"
    echo "GATE FAIL: $n CodeGenerator compile ERROR(s) in $label —" \
      "a stage silently fell back to interpreted eval"
    exit 1
  fi
}
SF_DIR="${1:-/root/testdata/sf0.01}"
shift || true
echo "== gate: frozen bench-corpus checksum"
# round-over-round bench deltas come from frozen/ ONLY — silent drift
# there would quietly invalidate every cross-round comparison
python3 scripts/make_frozen.py --check
echo "== gate: benchmark self-tests (perfbench/tests)"
# the benchmark's own rules (a crash is never a sample, a wrong result
# exits non-zero, one seed gives one request list) are code too
PYTHONDONTWRITEBYTECODE=1 python3 -m unittest discover -s perfbench/tests \
  || { echo "GATE FAIL: perfbench self-tests"; exit 1; }
OUT_DIR="$(mktemp -d /tmp/graft_gate.XXXXXX)"
trap 'rm -rf "$OUT_DIR"' EXIT
echo "== gate: verify battery @ $SF_DIR -> $OUT_DIR"
if ! sbt -batch "runMain graft.Verify $SF_DIR $OUT_DIR $*" >"$OUT_DIR/verify.log" 2>&1; then
  # Verify names each unknown or crashed query on a VERIFY line; with
  # none, the run itself died
  n=$(grep -c '^VERIFY ' "$OUT_DIR/verify.log" || true)
  if [ "${n:-0}" = "0" ]; then
    tail -40 "$OUT_DIR/verify.log"; echo "GATE FAIL: Verify crashed"
  else
    grep '^VERIFY ' "$OUT_DIR/verify.log"
    echo "GATE FAIL: Verify: $n queries failed"
  fi
  exit 1
fi
echo "== gate: codegen tripwire (battery)"
codegen_tripwire "$OUT_DIR/verify.log" "the Verify battery"
echo "== gate: tolerant check (check_oracle.py)"
python3 scripts/check_oracle.py "$SF_DIR" "$OUT_DIR"
echo "== gate: strict driver mirror (exact_check.py)"
python3 scripts/exact_check.py "$SF_DIR" "$OUT_DIR" "$@"
if [ "${SKIP_TESTS:-0}" != "1" ]; then
  echo "== gate: full test suite (SKIP_TESTS=1 skips during iteration)"
  sbt -batch test >"$OUT_DIR/test.log" 2>&1 \
    || { tail -40 "$OUT_DIR/test.log"; echo "GATE FAIL: sbt test"; exit 1; }
  echo "== gate: codegen tripwire (test suite)"
  codegen_tripwire "$OUT_DIR/test.log" "the test suite"
  TESTS_TOTAL=$(grep -o 'Total number of tests run: [0-9]*' "$OUT_DIR/test.log" \
    | tail -1 | grep -o '[0-9]*$')
else
  TESTS_TOTAL=""
fi
echo "== gate: doc-count drift (README/COVERAGE vs HEAD)"
python3 scripts/check_counts.py "$OUT_DIR" $TESTS_TOTAL
echo "== gate: PASS"
