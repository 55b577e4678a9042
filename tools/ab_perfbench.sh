#!/bin/bash
# Interleaved same-host A/B of the benchmark (perfbench/run.py): a base
# commit (side A) against the working tree (side B) on one workload.
#
# Usage: tools/ab_perfbench.sh <base-commit> <workload> <pairs> <out.json>
#
# Protocol, fixed here: the base commit is exported with `git archive` into
# a temporary directory. Each tree builds its own .bench_build in place
# before any timed run (a build directory copied from another tree keeps a
# class-data archive that names the other tree's jar, so the JVM starts
# without it and setup_s reads the slower start). Pair i runs both sides on
# seed 100 + i with `--seconds 8 --trace 0`, the run length BENCHMARK.json
# declares; odd pairs run the base first, even pairs the working tree
# first, so drift and order effects fall on both sides.
#
# <out.json> gets (or has replaced) one entry for the workload: every run's
# result line, and for each end-to-end metric the median and quartiles of
# each side, the pairs the working tree won (by the metric's direction in
# BENCHMARK.json), and whether the medians differ by more than the base's
# own quartile spread. The script stops at the first run that ends without
# a result line; a run with wrong outputs is kept and counted.
#
# NO other JVM workload may run concurrently (timings poison).
set -eu
[ $# -eq 4 ] || { sed -n '5p' "$0"; exit 2; }
BASE=$1 WORKLOAD=$2 PAIRS=$3 OUT=$4
RUN_SECONDS=8 SEED0=100

HEAD_DIR=$(git rev-parse --show-toplevel)
BASE_SHA=$(git -C "$HEAD_DIR" rev-parse --short "$BASE")
WORK=$(mktemp -d "${TMPDIR:-/tmp}/ab_perfbench.XXXXXX")
trap 'rm -rf "$WORK"' EXIT
mkdir "$WORK/base"
git -C "$HEAD_DIR" archive "$BASE_SHA" | tar -x -C "$WORK/base"

(cd "$WORK/base" && python3 perfbench/build.py >/dev/null)
(cd "$HEAD_DIR" && python3 perfbench/build.py >/dev/null)

for i in $(seq 1 "$PAIRS"); do
  seed=$((SEED0 + i))
  if [ $((i % 2)) -eq 1 ]; then order="A B"; else order="B A"; fi
  for side in $order; do
    if [ "$side" = A ]; then dir=$WORK/base; else dir=$HEAD_DIR; fi
    out="$WORK/run_${i}_${side}"
    (cd "$dir" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$seed" \
      --seconds "$RUN_SECONDS" --trace 0) > "$out.txt" || true
    tail -n 1 "$out.txt" > "$out.json"
    python3 -c 'import json, sys; json.load(open(sys.argv[1]))["metrics"]' "$out.json" 2>/dev/null \
      || { echo "pair $i side $side: no result line" >&2; cat "$out.txt" >&2; exit 1; }
    echo "pair $i seed $seed side $side: $(cat "$out.json")" >&2
  done
done

python3 - "$WORK" "$HEAD_DIR/BENCHMARK.json" "$OUT" "$WORKLOAD" "$PAIRS" "$BASE_SHA" "$RUN_SECONDS" "$SEED0" <<'EOF'
import json, os, sys

work, spec, out, workload, pairs, base, secs, seed0 = sys.argv[1:]
pairs, seed0 = int(pairs), int(seed0)
metrics = json.load(open(spec))['end_to_end']


def quantile(xs, p):
    s = sorted(xs)
    pos = p * (len(s) - 1)
    i = int(pos)
    f = pos - i
    return s[i] if i + 1 >= len(s) else s[i] * (1 - f) + s[i + 1] * f


runs = []
for i in range(1, pairs + 1):
    got = {side: json.load(open(os.path.join(work, f'run_{i}_{side}.json'))) for side in 'AB'}
    runs.append({'pair': i, 'seed': seed0 + i, 'first': 'base' if i % 2 else 'head',
                 'base': got['A'], 'head': got['B']})

summary = {}
for m in metrics:
    name, lower = m['name'], m['better'] == 'lower'
    a = [r['base']['metrics'][name]['value'] for r in runs]
    b = [r['head']['metrics'][name]['value'] for r in runs]
    qa = {k: quantile(a, p) for k, p in (('q1', 0.25), ('med', 0.5), ('q3', 0.75))}
    qb = {k: quantile(b, p) for k, p in (('q1', 0.25), ('med', 0.5), ('q3', 0.75))}
    wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
    summary[name] = {
        'better': m['better'], 'base': {k: round(v, 4) for k, v in qa.items()},
        'head': {k: round(v, 4) for k, v in qb.items()},
        'head_over_base_median': round(qb['med'] / qa['med'], 4) if qa['med'] else None,
        'head_wins': wins, 'pairs': len(runs),
        'median_gap_exceeds_base_iqr': abs(qb['med'] - qa['med']) > qa['q3'] - qa['q1'],
    }
doc = json.load(open(out)) if os.path.exists(out) else {}
doc[workload] = {
    'protocol': f'tools/ab_perfbench.sh: base {base} (side A, git archive, own .bench_build) vs the working '
                f'tree; {len(runs)} pairs, pair i on seed {seed0}+i, perfbench/run.py --seconds {secs} --trace 0, '
                'odd pairs base first; quartiles linear-interpolated over the per-run values',
    'failed': {'base': sum(r['base']['failed'] for r in runs), 'head': sum(r['head']['failed'] for r in runs)},
    'attempted': {'base': sum(r['base']['attempted'] for r in runs), 'head': sum(r['head']['attempted'] for r in runs)},
    'metrics': summary,
    'runs': runs,
}
with open(out, 'w') as f:
    json.dump(doc, f, indent=1)
    f.write('\n')
for name, s in summary.items():
    print(f"{workload} {name}: base med {s['base']['med']} [{s['base']['q1']}, {s['base']['q3']}]  "
          f"head med {s['head']['med']} [{s['head']['q1']}, {s['head']['q3']}]  "
          f"head wins {s['head_wins']}/{s['pairs']}  gap>base IQR {s['median_gap_exceeds_base_iqr']}")
EOF
