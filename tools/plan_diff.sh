#!/bin/bash
# Compare two plan-dump directories written by graft.BenchExtra (one
# `<key>_<suffix>.txt` per catalog key; give both runs the same suffix).
# These are per-session counters, addresses or source positions, not plan
# shape, so they are normalized before the compare: expression ids
# (`#123`), exchange ids (`plan_id=123`), RDD ids (`RDD[12]`), lambda
# variable names (`lambda x_33`), the source line of a checkpointed
# RDD's call site (`Dedup.scala:282`), JVM lambda class names
# (`Lambda$12/0x…@1f2e`), and, in the streaming keys' action plans,
# per-run query UUIDs and object identity hashes (`…Write@31e4a64d`).
# Prints each differing file's diff and exits 1 on any difference or on
# a file only one side has.
#
# Usage: tools/plan_diff.sh <dirA> <dirB>
#   e.g. runMain graft.BenchExtra <sfDir> /tmp/plans_a p <keys> on one
#   tree, the same into /tmp/plans_b on the other, then
#   tools/plan_diff.sh /tmp/plans_a /tmp/plans_b
set -u
[ $# -eq 2 ] || { echo "usage: $0 <dirA> <dirB>" >&2; exit 2; }
A=$1; B=$2
[ -d "$A" ] && [ -d "$B" ] || { echo "not a directory: $A or $B" >&2; exit 2; }

norm() {
  sed -E 's/#[0-9]+/#N/g; s/plan_id=[0-9]+/plan_id=N/g;
          s/RDD\[[0-9]+\]/RDD[N]/g; s/(lambda [a-z]+)_[0-9]+/\1_N/g;
          s/\.scala:[0-9]+/.scala:N/g;
          s/Lambda\$[0-9]+\/0x[0-9a-f]+@[0-9a-f]+/Lambda/g;
          s/[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}/UUID/g;
          s/([A-Za-z0-9_$])@[0-9a-f]+\b/\1@H/g' "$1"
}

STATUS=0
for f in $( (ls "$A"; ls "$B") | sort -u); do
  if [ ! -f "$A/$f" ] || [ ! -f "$B/$f" ]; then
    echo "=== $f: only in one directory"; STATUS=1; continue
  fi
  if ! out=$(diff <(norm "$A/$f") <(norm "$B/$f")); then
    echo "=== $f"; echo "$out"; STATUS=1
  fi
done
exit $STATUS
