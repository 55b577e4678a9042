#!/bin/bash
# Full-suite correctness sweep in INTEGER-CENTS output mode (r18).
#
# GRAFT_CENTS_OUT=1 changes the OUTPUT FORM of every cast_double member
# (q12/q73->q77, q13->q78, q16/q74->q79, q48/q75->q80, q23->q81, and
# q11/q30/q44/q47/q53/q55 in place): BIGINT `_c2` columns, avg columns
# omitted. Verify writes the switch-aware oracle map (oracleSqlFor), so
# every routed member compares against the HUGEINT cents oracle matching
# the form it actually emitted — this sweep proves the whole suite stays
# hash-exact with the escape flipped.
#
# Usage: tools/cents_sweep.sh [sfDir] [outDir] [artifact]
set -u
cd /root/repo
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_cents}
ART=${3:-CORRECTNESS_CENTS.json}

rm -rf "$OUT"
GRAFT_CENTS_OUT=1 SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=64g \
  sbt -batch "runMain graft.Verify $SF $OUT"
rc=$?
if [ $rc -eq 1 ]; then
  echo "cents_sweep: Verify exited 1 (dumps incomplete) — not comparing" >&2
  exit 1
fi

python3 tools/check_verify.py "$SF" "$OUT" verify_exit=$rc \
  json_out="$ART" \
  note="GRAFT_CENTS_OUT=1 full suite (cents-form dumps vs oracleSqlFor's cents oracles); verify_exit=$rc"
