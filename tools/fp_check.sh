#!/usr/bin/env bash
# Plan-stability check: regenerates graft.Profile's `FP` lines (physical-
# plan node counts of every harness query, unexecuted) and diffs them
# against the committed baseline plans/FP_sf001.txt, the lines at sf0.01.
# Exits 0 when they are identical, 1 on any difference, 2 when the run
# itself fails.
#
#   tools/fp_check.sh <harness data dir>
#
# The FP lines cannot see plan changes inside a localCheckpoint; compare
# graft.Profile's counters (SPARK_GRAFT_RUNS > 0) for those.
set -uo pipefail
root=$(cd "$(dirname "$0")/.." && pwd)
sf_dir=${1:?usage: tools/fp_check.sh <harness data dir>}
baseline=$root/plans/FP_sf001.txt
log=$(mktemp)
trap 'rm -f "$log" "$log.fp"' EXIT
if ! (cd "$root" && env -u SPARK_GRAFT_ONLY SPARK_GRAFT_RUNS=0 SPARK_GRAFT_SF_DIR="$sf_dir" \
    sbt -batch "runMain graft.Profile") > "$log" 2>&1; then
  tail -n 20 "$log" >&2
  echo "fp_check: graft.Profile failed" >&2
  exit 2
fi
grep '^FP ' "$log" > "$log.fp"
if diff "$baseline" "$log.fp"; then
  echo "fp_check: $(wc -l < "$log.fp") FP lines match $baseline"
else
  echo "fp_check: FP lines differ from $baseline" >&2
  exit 1
fi
