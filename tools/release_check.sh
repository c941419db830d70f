#!/bin/bash
# One-command release gate: everything the per-round driver checks, run
# locally BEFORE the driver ever sees the tree. Emits one PASS/FAIL JSON
# line on stdout (details on stderr) and exits non-zero on any failure —
# CI-style, so a typing mismatch or a red suite is discovered here, not
# in the round gate.
#
#   tools/release_check.sh            # tests + Verify/oracles at all 3 scales
#                                     #   + ExtractMain golden check and resume
#   tools/release_check.sh --quick    # tests + sf0.01 oracles only
#   tools/release_check.sh --scale    # full, plus one N-vs-4N scaling pair
#
# The oracle compare is tools/check_oracles.py — the driver-gate replica,
# including the type-sensitive repr lint (a missing ::BIGINT cast fails
# here exactly as it would fail the driver's hash).
set -u
cd "$(dirname "$0")/.."

QUICK=0; SCALE=0
for a in "$@"; do
  case "$a" in
    --quick) QUICK=1;;
    --scale) SCALE=1;;
    *) echo "unknown flag: $a" >&2; exit 2;;
  esac
done

declare -A RESULT
FAIL=0

step() { echo "=== $1" >&2; }

step "sbt -batch test"
if sbt -batch test >/tmp/rc_sbt_test.log 2>&1; then
  RESULT[tests]=pass
else
  RESULT[tests]=FAIL; FAIL=1
  tail -30 /tmp/rc_sbt_test.log >&2
fi

SCALES="0.001 0.01 0.1"
[ "$QUICK" = 1 ] && SCALES="0.01"
for SF in $SCALES; do
  step "Verify + oracles @ sf$SF"
  OUT=/tmp/rc_verify_$SF
  if sbt -batch "runMain graft.Verify /root/testdata/sf$SF $OUT" \
       >/tmp/rc_verify_$SF.log 2>&1 \
     && python3 tools/check_oracles.py /root/testdata/sf$SF "$OUT" \
       >/tmp/rc_oracles_$SF.log 2>&1; then
    RESULT[oracles_sf$SF]=$(tail -2 /tmp/rc_oracles_$SF.log | grep -o '^[0-9]*/[0-9]*')
  else
    RESULT[oracles_sf$SF]=FAIL; FAIL=1
    grep -E "^(MISSING|ERROR|SHAPE|VALUES|TYPING)" /tmp/rc_oracles_$SF.log | head -20 >&2
  fi
done

if [ "$QUICK" = 0 ]; then
  step "ExtractMain golden check"
  rm -rf /tmp/rc_extract
  if sbt -batch "runMain graft.ExtractMain 5000 42 /tmp/rc_extract rc --check" \
       >/tmp/rc_extract.log 2>&1 \
     && grep -q '"equalityPct":100.0' /tmp/rc_extract.log; then
    RESULT[extract_golden]=pass
  else
    RESULT[extract_golden]=FAIL; FAIL=1
    grep -E '"docs"|"goldenDocs"|Exception' /tmp/rc_extract.log | head -5 >&2
  fi
  # Idempotent resume: a second run into the same table commits nothing
  # and still reads back 100% golden-equal.
  step "ExtractMain resume into the same table"
  if sbt -batch "runMain graft.ExtractMain 5000 42 /tmp/rc_extract rc2 --check" \
       >/tmp/rc_extract_resume.log 2>&1 \
     && grep -q '"bucketsCommitted":0' /tmp/rc_extract_resume.log \
     && grep -q '"equalityPct":100.0' /tmp/rc_extract_resume.log; then
    RESULT[extract_resume]=pass
  else
    RESULT[extract_resume]=FAIL; FAIL=1
    grep -E '"docs"|"goldenDocs"|Exception' /tmp/rc_extract_resume.log | head -5 >&2
  fi
fi

if [ "$SCALE" = 1 ]; then
  step "scaling pair (one round; raw lines below — efficiency is judged on"
  step "kernel-certified quiet pairs, see BENCH/BASELINE.md)"
  tools/scaling_bench.sh 100000 1 2>&1 | grep -E "^(cal|cpus)" | tee /tmp/rc_scale.log >&2
  RESULT[scaling]=$(grep -c '^cpus' /tmp/rc_scale.log)" samples"
fi

KV=$(for k in "${!RESULT[@]}"; do printf '"%s":"%s",' "$k" "${RESULT[$k]}"; done)
STATUS=$([ "$FAIL" = 0 ] && echo PASS || echo FAIL)
echo "{${KV}\"status\":\"$STATUS\"}"
exit $FAIL
