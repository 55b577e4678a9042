#!/bin/bash
# 2^53 cast-fidelity gate demo at sf300 (r16). The r16 cast_double audit
# rows watch the LAST exactness boundary — the output cast(double)/10^s —
# against 2^53 with the alarm at the TRUE 100% line. The family-ceiling
# cents (q12's charge class) measured 70% of 2^53 at sf200, so sf300
# (linear, 1.5x) reads ~105%: the first SF where the new row FIRES.
# Predicted ladder at sf300 (all linear from measured sf200 readings):
#   cast_double:cents2                 ~105%  -> gates (the exact Sum128
#       sum cannot un-round an output cast — the escape is q77's
#       integer-cents representation)
#   gate_cross_mult                    ~9.6%  -> still below its 10% line
#   q12's per-group cents ~26% of 2^53 -> its doubles still exact (the
#       family row is a deliberate ~4x-conservative bound)
# (Every money sum runs through Sum128, so no 2^63 sum row is left.)
# So the demo claims, all checked below:
#   Verify exit 2 with cast_double:cents2 gating;
#   q12 AND q77 hash-PASS vs DuckDB HUGEINT at 1.8B rows —
#   the boundary is FIDELITY, not determinism (both engines round the
#   same exact integer to the same nearest double);
#   q77's BIGINT cents equal DuckDB's exactly (the escape works where the
#   gate fires).
# Results -> BENCH_SF300.json.
set -u
cd /root/repo
SF_DIR=${1:-/root/repo/testdata/sf300}
QS=q12_pricing_summary,q77_pricing_summary_cents

if [ ! -d "$SF_DIR" ]; then
  echo "[sf300] generating $SF_DIR (factor 3000, ~47 GB, ~25 min)"
  python3 tools/gen_scale.py /root/testdata/sf0.1 "$SF_DIR" 3000 || exit 1
fi

runner_exit() {
  grep -oE 'Nonzero exit code returned from runner: [0-9]+' "$1" \
    | tail -1 | grep -oE '[0-9]+$' || echo 0
}

rm -rf /dev/shm/spark-local* /tmp/v_sf300
echo "[sf300] q12+q77 dump + audit"
SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=64g SPARK_GRAFT_SHUFFLE_PARTITIONS=256 \
  sbt -batch "runMain graft.Verify $SF_DIR /tmp/v_sf300 $QS" \
  > /tmp/v_sf300.log 2>&1
EXIT=$(runner_exit /tmp/v_sf300.log)
grep -E 'overflow-audit' /tmp/v_sf300.log | sed 's/^/[sf300-audit] /'
echo "[sf300] verify exit: $EXIT (2 expected: cast_double:cents2 fires)"

echo "[sf300] DuckDB HUGEINT compare (both expected to hash-PASS: fidelity, not determinism)"
python3 tools/check_verify.py "$SF_DIR" /tmp/v_sf300 \
  only=$QS verify_exit=2 json_out=/tmp/sf300.json \
  note="sf300: cast_double:cents2 past 100% of 2^53 (gate fires); outputs still cross-engine hash-exact" \
  | tail -5

python3 - "$EXIT" <<'EOF'
import json, re, sys
exit_code = sys.argv[1]
res = json.load(open('/tmp/sf300.json'))
audit = [l.strip() for l in open('/tmp/v_sf300.log', errors='replace')
         if 'overflow-audit' in l]
def row(fam):
    # match every state ("[CROSSED (released: ...)]" included) and an
    # exact family name
    return next((l.split('overflow-audit', 1)[1].strip() for l in audit
                 if re.search(r'\[(ok|ALARM|CROSSED[^\]]*)\] ' +
                              re.escape(fam) + r': ', l)), '')
def pct(line, ceil):
    m = re.search(r'\(([\d.]+)% of ' + re.escape(ceil) + r'\b', line)
    return float(m.group(1)) if m else None
cents_row = row('cast_double:cents2')
out = {
    'metric': 'cast_fidelity_demo_sf300',
    'sf_dir': res['sf'],
    'finding': ('the 2^53 output-cast boundary fires exactly where predicted '
                '(family-ceiling cents ~105% of 2^53 at sf300, linear from the '
                'measured 70% at sf200) and no wider sum can release it — '
                'while BOTH output forms stay hash-exact vs DuckDB at 1.8B rows: '
                'the boundary is value fidelity, not cross-engine determinism. '
                'q12 own groups sit ~4x inside the bound (first real drift '
                '~sf1150); q77 integer cents are the registered escape.'),
    'verify_exit': int(exit_code),
    'q12': res['results'].get('q12_pricing_summary'),
    'q77': res['results'].get('q77_pricing_summary_cents'),
    'audit_cast_double_cents2_row': cents_row,
    'audit_cast_double_pct_of_2e53': pct(cents_row, '2^53'),
    'audit_gate_cross_mult_row': row('gate_cross_mult'),
}
st = lambda d: (d or {}).get('status')
cents_pct = out['audit_cast_double_pct_of_2e53']
ok = (int(exit_code) == 2 and
      st(out['q12']) == 'ok' and st(out['q77']) == 'ok' and
      cents_pct is not None and cents_pct > 100.0)
out['demo_confirms'] = ok
print(json.dumps(out, indent=1))
with open('/root/repo/BENCH_SF300.json', 'w') as f:
    json.dump(out, f, indent=1)
print('wrote /root/repo/BENCH_SF300.json; demo_confirms =', ok)
EOF
