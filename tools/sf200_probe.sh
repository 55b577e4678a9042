#!/bin/bash
# 64-bit wrap demo at ~sf200 (VERDICT r14 item 2, CORRECTED by its own
# first run, r15). The r14 audit narrative predicted q12's per-group charge
# sums wrap near sf175 — that figure came from the FAMILY-CEILING row
# (conservative by design: the unfiltered global charge sum, 680% of 2^63
# at sf200), not from q12's own 6-way grouping, which measures 61.3% of
# 2^63 per group at sf200 (ladder: 30.7% at sf100 — exactly linear — so
# q12's true first wrap is near sf330). What this probe's first run DID
# find at sf200:
#   1. the engine's earliest REAL 64-bit crossing is the age_sum interval
#      family (q27: worst per-type sum(max_ts - ts_us) = 573% of 2^63 at
#      sf200, past 100% near sf35) — previously UNAUDITED; r15 added the
#      audit row and swept q27 through the then-optional exact sum (xsum);
#      its narrow 64-bit form HASH-FAILED here;
#   2. a cross-engine rounding tie: q12's A/O-group charge sum lands on
#      ...685000 exactly, and round(double, 2) breaks the tie differently
#      in Spark (shortest-decimal HALF_UP -> .69) vs DuckDB (binary value
#      -> .68). Fixed r15 by deciding the cent in exact integer arithmetic
#      on BOTH sides (SparkEntry.cents2 / `(sum + k/2) // k`).
# Every grouped money/interval sum now runs through Sum128 (exact past
# 2^63), so there is no narrow leg left to fail:
#   default run     -> q12 and q27 both PASS against DuckDB HUGEINT
#   DuckDB HUGEINT  -> ground truth
# Verify may still exit 2 here: a 2^53 cast_double row (drift, not wrap)
# can cross at sf200, and that gate stays on by design.
# Results merge into BENCH_SF200.json.
#
# Lessons wired in: /dev/shm spark-local dirs are HOST MEMORY (clean before
# every stage); sbt flattens JVM exit codes to 1, so the real Verify exit
# (2 = gate tripped by design here) is parsed from the runner line; never
# run a second sbt while a stage benches.
set -u
cd /root/repo
SF_DIR=${1:-/root/repo/testdata/sf200}
QS=q12_pricing_summary,q27_age_metrics

if [ ! -d "$SF_DIR" ]; then
  echo "[sf200] generating $SF_DIR (factor 2000, ~31 GB, ~15 min)"
  python3 tools/gen_scale.py /root/testdata/sf0.1 "$SF_DIR" 2000 || exit 1
fi

runner_exit() { # parse the forked JVM's exit code out of an sbt log
  grep -oE 'Nonzero exit code returned from runner: [0-9]+' "$1" \
    | tail -1 | grep -oE '[0-9]+$' || echo 0
}

rm -rf /dev/shm/spark-local* /tmp/v_sf200
echo "[sf200] q12+q27 dump + audit"
SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=64g SPARK_GRAFT_SHUFFLE_PARTITIONS=256 \
  sbt -batch "runMain graft.Verify $SF_DIR /tmp/v_sf200 $QS" \
  > /tmp/v_sf200.log 2>&1
EXIT=$(runner_exit /tmp/v_sf200.log)
grep -E 'overflow-audit' /tmp/v_sf200.log | sed 's/^/[sf200-audit] /'
echo "[sf200] verify exit: $EXIT (0, or 2 if a 2^53 cast row crossed)"

echo "[sf200] DuckDB HUGEINT compare (both expected to PASS)"
python3 tools/check_verify.py "$SF_DIR" /tmp/v_sf200 \
  only=$QS verify_exit=$EXIT json_out=/tmp/sf200.json \
  note="default run at sf200: q27's age sums past 2^63 (573%), summed exactly" \
  | tail -5

python3 - "$EXIT" <<'EOF'
import json, sys
exit_code = int(sys.argv[1])
res = json.load(open('/tmp/sf200.json'))
audit = [l.split('overflow-audit', 1)[1].strip()
         for l in open('/tmp/v_sf200.log', errors='replace') if 'overflow-audit' in l]
out = {
    'metric': 'wrap_demo_sf200',
    'sf_dir': res['sf'],
    'finding': ('the engine\'s earliest 64-bit crossing is the age_sum interval family '
                '(q27): span x rows makes it ~quadratic in SF. Its sum, like every '
                'money sum, runs through Sum128, so the default run is exact.'),
    'verify_exit': exit_code,
    'q12': res['results'].get('q12_pricing_summary'),
    'q27': res['results'].get('q27_age_metrics'),
    'audit_rows': audit,
}
st = lambda d: (d or {}).get('status')
ok = exit_code in (0, 2) and st(out['q12']) == 'ok' and st(out['q27']) == 'ok'
out['demo_confirms'] = ok
print(json.dumps(out, indent=1))
with open('/root/repo/BENCH_SF200.json', 'w') as f:
    json.dump(out, f, indent=1)
print('wrote /root/repo/BENCH_SF200.json; demo_confirms =', ok)
EOF
