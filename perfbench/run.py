#!/usr/bin/env python3
"""graft's benchmark: one seeded workload, one process, one result line.

    python3 perfbench/run.py --workload <bootstrap|tail|curate|views> \\
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds graft and the harness
(perfbench/build.py); inputs are generated per (workload, seed) outside the
timed window and cached (perfbench/gen.py). Everything is written under
.bench_build/ (or $CARGO_TARGET_DIR). The last line of standard output is
the result JSON; the exit code is non-zero when any output was wrong.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing next to the sources

import build  # noqa: E402
import gen    # noqa: E402

RUN_TIMEOUT_S = 170


def spec():
    with open(os.path.join(build.ROOT, 'BENCHMARK.json')) as f:
        return json.load(f)


def same_frame(a, b):
    """check_verify.py's comparison: sorted columns, sorted rows, values
    equal (floats within 1e-9)."""
    sc, oc = sorted(a.columns), sorted(b.columns)
    if sc != oc:
        return f'columns {sc} vs {oc}'
    a = a[sc].sort_values(sc).reset_index(drop=True)
    b = b[oc].sort_values(oc).reset_index(drop=True)
    if len(a) != len(b):
        return f'{len(a)} rows vs {len(b)}'
    for c in sc:
        av, bv = a[c], b[c]
        if av.dtype != bv.dtype:
            try:
                av, bv = av.astype('float64'), bv.astype('float64')
            except (TypeError, ValueError):
                av, bv = av.astype(str), bv.astype(str)
        if av.dtype.kind == 'f':
            if not (((av - bv).abs().fillna(0) < 1e-9).all() and (av.isna() == bv.isna()).all()):
                return f'values differ in {c}'
        elif not (av.fillna('@null@') == bv.fillna('@null@')).all():
            return f'values differ in {c}'
    return None


# n-gram pairs at or above this Jaccard must all be found: there
# Dedup.ngramJaccard's banding (32 bands of 2 rows) misses ~5e-9 of pairs;
# at its 0.5 threshold it misses ~1e-4 by design, so those misses are
# counted (operators.minhash_recall), not failed
MINHASH_FULL_RECALL_J = 0.67


def clusters(pairs):
    """Connected components of an edge list: node -> min node of its
    component (the oracles' `min(label)` over the reach closure)."""
    parent = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # the root is the component's min
    return {x: find(x) for x in parent}


def pair_check(got, want):
    """Recall-aware comparison of d04's pairs with the exact oracle: every
    found pair must be an oracle pair with the same Jaccard, and every oracle
    pair at J >= MINHASH_FULL_RECALL_J must be found. Returns (why, recall)."""
    m = want.merge(got, on=['a', 'b'], how='outer', suffixes=('_want', '_got'), indicator=True)
    extra = m[m['_merge'] == 'right_only']
    if len(extra):
        return f'{len(extra)} pairs not in the oracle', 0.0
    both = m[m['_merge'] == 'both']
    if not ((both['jaccard_want'] - both['jaccard_got']).abs() < 1e-9).all():
        return 'jaccard values differ', 0.0
    missed = m[m['_merge'] == 'left_only']
    hard = missed[missed['jaccard_want'] >= MINHASH_FULL_RECALL_J]
    if len(hard):
        return f'{len(hard)} pairs at J >= {MINHASH_FULL_RECALL_J} missed', 0.0
    if len(missed):
        sys.stderr.write(f'[check] d04_ngram_jaccard: {len(missed)} of {len(want)} pairs missed, '
                         f'J {sorted(missed["jaccard_want"].tolist())}\n')
    return None, len(both) / max(1, len(want))


def oracle_failures(outputs, inputs):
    """Operations whose output differs from its oracle, and the n-gram pair
    recall (0 when the run has no pair stage). The two connected-components
    stages are checked against components of the oracle's pairs (d06) or of
    the run's own checked pairs (d12): the oracle SQL's recursive closure is
    quadratic in a component's size, and took 7.5 s for d06 on this corpus
    and 90 s on one with a giant component."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    expected_dir = os.path.join(inputs, 'expected')
    failed = 0
    recall = 0.0

    def read(path):
        return con.sql(f"SELECT * FROM read_parquet('{path}')").df()

    for name, o in sorted(outputs.items()):
        try:
            got = read(f"{o['dir']}/*.parquet")
            if name == 'd04_ngram_jaccard':
                why, recall = pair_check(got, read(os.path.join(expected_dir, name + '.parquet')))
            elif name == 'd06_dedup_clusters':
                pairs = read(os.path.join(expected_dir, 'd07_embed_neardup_lsh.parquet'))
                cl = clusters(zip(pairs['a'], pairs['b']))
                why = same_frame(got, pd.DataFrame({'vec_id': list(cl), 'cluster_id': list(cl.values())}))
            elif name == 'd12_dedup_pipeline':
                pairs = read(f"{outputs['d04_ngram_jaccard']['dir']}/*.parquet")
                cl = clusters(zip(pairs['a'], pairs['b']))
                docs = read(os.path.join(inputs, 'corpus', 'documents.parquet'))['doc_id']
                cid = [cl.get(d, d) for d in docs]
                why = same_frame(got, pd.DataFrame({'doc_id': docs, 'cluster_id': cid,
                                                    'keep': [int(c == d) for c, d in zip(cid, docs)]}))
            else:
                why = same_frame(got, read(os.path.join(expected_dir, name + '.parquet')))
        except Exception as e:  # a missing or unreadable output is a wrong output
            why = f'compare error {e}'
        if why:
            sys.stderr.write(f'[check] {name}: MISMATCH ({why})\n')
            failed += o['ops']
    return failed, recall


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('--workload', required=True, choices=gen.WORKLOADS)
    ap.add_argument('--seed', type=int, default=1)
    ap.add_argument('--seconds', type=float, default=10)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    want = spec()['per_layer' if a.trace else 'end_to_end']
    b = build.build()
    out = build.build_dir()
    t0 = time.time()
    inputs = gen.generate(a.workload, a.seed,
                          os.path.join(out, 'inputs', f'{a.workload}-{a.seed}-{gen.version()}'), b.oracles)
    t_gen = time.time() - t0
    work = os.path.join(out, 'work', f'{a.workload}-{a.seed}-{os.getpid()}')
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = os.cpu_count() or 4
    cmd = b.java(f'-Djava.io.tmpdir={work}', 'graftbench.Main', '--workload', a.workload, '--seed', str(a.seed),
           '--seconds', str(a.seconds), '--trace', str(a.trace),
                 '--inputs', inputs, '--work', work, '--cores', str(cores))
    log = os.path.join(work, 'jvm.log')
    t0 = time.time()
    with open(log, 'w') as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = 'timeout'
    t_jvm = time.time() - t0
    result_file = os.path.join(work, 'result.json')
    if code != 0 or not os.path.exists(result_file):
        sys.stderr.write(open(log).read()[-6000:])
        sys.exit(f'benchmark JVM failed ({code}); log kept at {log}')
    res = json.load(open(result_file))
    phases = ', '.join(f'{k} {v:.1f}' for k, v in res['phases_s'].items())
    units = ' '.join(f'{u:.0f}' for u in res['unit_ms'])
    sys.stderr.write(f'[run] inputs {t_gen:.1f} s, jvm {t_jvm:.1f} s ({phases}); units ms: {units}\n')
    failed = res['failed']
    recall = 0.0
    if res['outputs']:
        bad, recall = oracle_failures(res['outputs'], inputs)
        failed += bad
    failed = min(failed, res['attempted'])
    res['metrics']['operators.minhash_recall'] = {'value': recall, 'unit': 'ratio'}

    metrics = {}
    for m in want:
        got = res['metrics'].get(m['name'])
        if got is None:
            sys.exit(f"metric {m['name']} missing from the run")
        metrics[m['name']] = {'value': got['value'], 'unit': m['unit']}
    # keep the span trace and the overhead split of a traced run
    if a.trace:
        keep = os.path.join(out, 'traces', f'{a.workload}-{a.seed}-{int(time.time())}')
        os.makedirs(keep, exist_ok=True)
        for f in ('spans.jsonl', 'trace_overhead.json', 'result.json'):
            if os.path.exists(os.path.join(work, f)):
                shutil.copy(os.path.join(work, f), keep)
    shutil.rmtree(work, ignore_errors=True)
    line = {'correct': failed == 0, 'attempted': res['attempted'], 'failed': failed, 'metrics': metrics}
    print(json.dumps(line))
    sys.exit(0 if failed == 0 else 1)


if __name__ == '__main__':
    main()
