#!/usr/bin/env python3
"""Seeded input generator for graft's benchmark.

For each workload it writes the inputs and the expected results, computed
without graft:

  bootstrap  an export directory (full export with 64 row groups, an older
             full, an incremental chain with .empty windows, a re-uploaded
             duplicate window and windows past a gap) and the latest-wins
             digest of the planned files after the row filter
  tail       a seed export for the state table, the stream's windows, and
             the latest-wins digest after every prefix of windows
  curate     a documents + embeddings corpus made by seeded replication with
             perturbation, and DuckDB results of the stage oracles (the two
             connected-components stages are checked by perfbench/run.py)
  views      TPC-H-ish tables with the testdata schema, and DuckDB results of
             the query oracles

The oracle texts come from graft's SparkEntry.oracleSql (dumped at build).
The same seed gives the same files. Usage:

    python3 perfbench/gen.py <workload> <seed> <out_dir> <oracle_sql.json>
"""
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ('bootstrap', 'tail', 'curate', 'views')

# ---------------------------------------------------------------- sizes
# bootstrap: a 64-row-group full of 3,072-row groups (197k rows), the
# row-group layout of a table export; windows of one group each
FULL_ROW_GROUPS = 64
FULL_GROUP_ROWS = 3072
GROUPS_PER_BATCH = 4          # DirectImport.run's default
CHAIN_WINDOWS = 6
CHAIN_EMPTY = (1, 4)          # chain positions written as .empty
WINDOW_ROWS = 3072
# tail: a 150k-key state merged with 1,500-row windows (100x a window)
TAIL_WINDOW_ROWS = 1500
TAIL_STATE_ROWS = 100 * TAIL_WINDOW_ROWS
TAIL_WINDOWS = 100
TAIL_EMPTY = (17, 54, 88)
# curate: about 2,000 documents and 1,050 vectors (0.4x and 0.5x the
# testdata's sf0.1 corpus)
DOC_BASES = 1100
VEC_BASES = 300
# views: a tenth of the testdata's sf0.1 tables
VIEW_ROWS = dict(customer=1500, supplier=100, part=2000, orders=15000, lineitem=60000, events=10000)

ROW_FILTER = {"$or": [{"data.kind": {"$in": ["cast", "reaction"]}}, {"data.fid": {"$lt": 300}}]}
KINDS = ['cast', 'reaction', 'link', 'verification']
WINDOW_S = 60
EXPORT_SCHEMA = pa.schema([('id', pa.int64()), ('updated_at', pa.int64()), ('fid', pa.int64()),
                           ('kind', pa.string()), ('value_c', pa.int64()), ('props', pa.string())])
MASK64 = (1 << 64) - 1


def row_hash(fields):
    line = '|'.join('\\N' if f is None else f for f in fields)
    return int.from_bytes(hashlib.sha256(line.encode()).digest()[:8], 'big')


def fmt(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return 'true' if v else 'false'
    return str(v)


# ---------------------------------------------------------------- exports
def export_rows(rng, ids, ts):
    """Rows for an export file; props mixes strict JSON and Python literals.
    Returned column-wise: a dict of lists plus the parsed props tuples."""
    n = len(ids)
    fid = rng.integers(0, 2000, n)
    kind = rng.integers(0, len(KINDS), n)
    value = rng.integers(0, 10_000_000, n)
    a = rng.integers(-1000, 100_000, n)
    a_null = rng.random(n) < 0.1
    b = rng.integers(0, 500, n)
    c = rng.random(n) < 0.5
    form = rng.random(n)
    av = [None if a_null[i] else int(a[i]) for i in range(n)]
    bv = [f'x{x}' for x in b.tolist()]
    cv = c.tolist()
    props = []
    for i in range(n):
        ai, bi, ci = av[i], bv[i], cv[i]
        if form[i] < 0.5:      # json.dumps({'a': .., 'b': .., 'c': ..})
            props.append(f'{{"a": {"null" if ai is None else ai}, "b": "{bi}", "c": {"true" if ci else "false"}}}')
        elif form[i] < 0.95:   # repr of the dict
            props.append(f"{{'a': {ai}, 'b': '{bi}', 'c': {ci}}}")
        else:                  # repr of its bytes
            props.append(f'b"{{\'a\': {ai}, \'b\': \'{bi}\', \'c\': {ci}}}"')
    return dict(id=[int(x) for x in ids], updated_at=[int(x) for x in ts], fid=fid.tolist(),
                kind=[KINDS[k] for k in kind.tolist()], value_c=value.tolist(), props=props,
                parsed=list(zip(av, bv, cv)))


def rows_of(cols):
    """The row dicts of column-wise export rows."""
    keys = list(cols)
    return [dict(zip(keys, vals)) for vals in zip(*cols.values())]


def write_export(path, cols, row_group_rows=None):
    t = pa.table({k: cols[k] for k in EXPORT_SCHEMA.names}, schema=EXPORT_SCHEMA)
    pq.write_table(t, path, row_group_size=row_group_rows or max(1, t.num_rows))


def window_rows(rng, t_start, n, live_ids, next_id):
    """n rows stamped inside [t_start, t_start + WINDOW_S): 80% updates of
    live keys, 20% new keys, 2% repeated keys (a later version in-window)."""
    n_new = n // 5
    upd = rng.choice(live_ids, n - n_new, replace=False)
    ids = np.concatenate([upd, np.arange(next_id, next_id + n_new)])
    rep = rng.choice(ids, max(1, n // 50), replace=False)
    ids = np.concatenate([ids, rep])
    span_us = WINDOW_S * 1_000_000
    ts = t_start * 1_000_000 + np.sort(rng.choice(span_us, len(ids), replace=False))
    rng.shuffle(ids)  # random ids over sorted, distinct stamps: no two versions tie
    return export_rows(rng, ids, ts), next_id + n_new


def passes_filter(r):
    return r['kind'] in ('cast', 'reaction') or r['fid'] < 300


def latest(state, rows):
    for r in rows:
        cur = state.get(r['id'])
        if cur is None or r['updated_at'] >= cur['updated_at']:
            state[r['id']] = r
    return state


def gen_bootstrap(rng, out):
    """The export directory: a full of FULL_ROW_GROUPS row groups, an older
    full, the incremental chain, a re-upload and windows past a gap. Returns
    the expectations for it."""
    groups, group_rows, win_rows = FULL_ROW_GROUPS, FULL_GROUP_ROWS, WINDOW_ROWS
    exp = os.path.join(out, 'export')
    os.makedirs(exp)
    t0 = 1_700_000_000 + int(rng.integers(0, 1000)) * WINDOW_S
    n_full = groups * group_rows
    ids = rng.permutation(n_full)
    full = export_rows(rng, ids, (t0 - 1 - rng.choice(30 * 86400, n_full, replace=False)) * 1_000_000)
    full_name = f'public-casts-0-{t0}.parquet'
    write_export(os.path.join(exp, full_name), full, group_rows)
    # an older full the plan must pass over
    old = export_rows(rng, rng.permutation(2000), (t0 - 40 * 86400 - np.arange(2000)) * 1_000_000)
    write_export(os.path.join(exp, f'public-casts-0-{t0 - 10 * WINDOW_S}.parquet'), old)

    planned = [full_name]
    planned_rows = [full]
    live = np.arange(n_full)
    next_id = n_full
    for i in range(CHAIN_WINDOWS):
        s, e = t0 + i * WINDOW_S, t0 + (i + 1) * WINDOW_S
        if i in CHAIN_EMPTY:
            name = f'public-casts-{s}-{e}.empty'
            open(os.path.join(exp, name), 'w').close()
        else:
            rows, next_id = window_rows(rng, s, win_rows, live, next_id)
            live = np.arange(next_id)
            name = f'public-casts-{s}-{e}.parquet'
            write_export(os.path.join(exp, name), rows)
            planned_rows.append(rows)
            if i == 3:
                # a shorter re-upload of this window: the plan keeps the wider one
                dup, _ = window_rows(rng, s, win_rows // 4, live, next_id + 10_000_000)
                write_export(os.path.join(exp, f'public-casts-{s}-{s + WINDOW_S // 2}.parquet'), dup)
        planned.append(name)
    # window CHAIN_WINDOWS is missing: the two after it lie past a gap
    for i in (CHAIN_WINDOWS + 1, CHAIN_WINDOWS + 2):
        s, e = t0 + i * WINDOW_S, t0 + (i + 1) * WINDOW_S
        rows, _ = window_rows(rng, s, win_rows, live, next_id + 20_000_000)
        write_export(os.path.join(exp, f'public-casts-{s}-{e}.parquet'), rows)

    state = {}
    filtered = 0
    for cols in planned_rows:
        rows = [r for r in rows_of(cols) if passes_filter(r)]
        filtered += len(rows)
        latest(state, rows)
    digest = 0
    for r in state.values():
        a, b, c = r['parsed']
        digest += row_hash([fmt(r['id']), fmt(r['updated_at']), fmt(r['fid']), r['kind'],
                            fmt(r['value_c']), fmt(a), fmt(b), fmt(c)])
    return dict(planned=planned,
                full_batches=-(-groups // GROUPS_PER_BATCH),
                digest=str(digest & MASK64), live_rows=len(state), filtered_rows=filtered,
                filter=json.dumps(ROW_FILTER))




def gen_tail(rng, out):
    seed_dir = os.path.join(out, 'seed')
    win_dir = os.path.join(out, 'windows')
    os.makedirs(seed_dir)
    os.makedirs(win_dir)
    t0 = 1_710_000_000 + int(rng.integers(0, 1000)) * WINDOW_S
    n = TAIL_STATE_ROWS
    full = export_rows(rng, rng.permutation(n), (t0 - 1 - rng.choice(30 * 86400, n, replace=False)) * 1_000_000)
    write_export(os.path.join(seed_dir, f'public-casts-0-{t0}.parquet'), full, max(1, n // 8))
    state = latest({}, rows_of(full))
    live = np.arange(n)
    next_id = n
    for i in range(3):
        s = t0 + i * WINDOW_S
        rows, next_id = window_rows(rng, s, TAIL_WINDOW_ROWS, live, next_id)
        live = np.arange(next_id)
        write_export(os.path.join(seed_dir, f'public-casts-{s}-{s + WINDOW_S}.parquet'), rows)
        latest(state, rows_of(rows))

    def h(r):
        return row_hash([fmt(r['id']), fmt(r['updated_at']), fmt(r['fid']), r['kind'],
                         fmt(r['value_c']), r['props']])
    hashes = {k: h(r) for k, r in state.items()}
    total = sum(hashes.values())
    digests, lives, names, counts = [str(total & MASK64)], [len(state)], [], []
    for i in range(TAIL_WINDOWS):
        s = t0 + (3 + i) * WINDOW_S
        if i in TAIL_EMPTY:
            name = f'public-casts-{s}-{s + WINDOW_S}.empty'
            open(os.path.join(win_dir, name), 'w').close()
            rows = []
        else:
            cols, next_id = window_rows(rng, s, TAIL_WINDOW_ROWS, live, next_id)
            live = np.arange(next_id)
            name = f'public-casts-{s}-{s + WINDOW_S}.parquet'
            write_export(os.path.join(win_dir, name), cols)
            rows = rows_of(cols)
        for r in rows:
            cur = state.get(r['id'])
            if cur is None or r['updated_at'] >= cur['updated_at']:
                total -= hashes.get(r['id'], 0)
                state[r['id']] = r
                hashes[r['id']] = h(r)
                total += hashes[r['id']]
        names.append(name)
        counts.append(len(rows))
        digests.append(str(total & MASK64))
        lives.append(len(state))
    return dict(windows=names, window_rows=counts, digests=digests, live_rows=lives)


# ---------------------------------------------------------------- corpus
VOCAB = ('key agg row scan slow fast table value part hash a merge batch spark the line sort '
         'window data column join small customer query order stream group big filter vector '
         'index shard node graph token model train eval score rank').split()
LANGS = ['en'] * 8 + ['de', 'es', 'fr', 'zh'] * 3


def spread_bases(rng, n, dim, max_cos):
    """n random unit vectors whose pairwise cosines are all below max_cos."""
    acc = np.empty((0, dim))
    while len(acc) < n:
        cand = rng.standard_normal((512, dim))
        cand /= np.linalg.norm(cand, axis=1, keepdims=True)
        if len(acc):
            cand = cand[(cand @ acc.T).max(axis=1) < max_cos]
        for c in cand:
            if len(acc) == n:
                break
            if not len(acc) or (acc @ c).max() < max_cos:
                acc = np.vstack([acc, c])
    return acc


def gen_corpus(rng, out):
    docs = []
    doc_id = 0
    for _ in range(DOC_BASES):
        toks = list(rng.choice(VOCAB, int(rng.integers(10, 101))))
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        variants = [toks]
        for _ in range(int(rng.choice([0, 0, 0, 1, 1, 2]))):
            if rng.random() < 0.4:
                variants.append(list(toks))                        # exact copy
            else:
                # near copy: one token in 20 edited. In short texts a single
                # edit lands near ngramJaccard's 0.5 threshold, where its
                # banding misses ~1e-4 of pairs by design
                v = list(toks)
                for j in rng.choice(len(v), max(1, len(v) // 20), replace=False):
                    v[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
                variants.append(v)
        for v in variants:
            text = ' '.join(v)
            r = rng.random()
            if r < 0.05:
                text = f'<p>{text}</p>'
            elif r < 0.08:
                text = f'{text} see https://x{int(rng.integers(0, 99))}.example/a contact u{int(rng.integers(0, 99))}@mail.example.com'
            elif r < 0.10:
                text = f'  {text.upper()}  '
            docs.append((doc_id, text, lang, f'src{int(rng.integers(0, 20))}', len(text)))
            doc_id += 1
    d = pa.table({'doc_id': pa.array([x[0] for x in docs], pa.int64()),
                  'text': pa.array([x[1] for x in docs], pa.string()),
                  'lang': pa.array([x[2] for x in docs], pa.string()),
                  'source': pa.array([x[3] for x in docs], pa.string()),
                  'n_chars': pa.array([x[4] for x in docs], pa.int64())})
    pq.write_table(d, os.path.join(out, 'documents.parquet'))

    # bases stay apart (cosine < 0.3 between any two) and their copies sit
    # at cosine ~0.999, so the clusters are the replica groups and the
    # connected-components stages take the same hops on every seed. Nearly
    # every pair still shares an LSH band at the 0.35 threshold, so the band
    # join's candidates grow with the square of the vector count.
    vecs, labels = [], []
    for base in spread_bases(rng, VEC_BASES, 64, 0.3):
        label = int(rng.integers(0, 10))
        vecs.append(base)
        labels.append(label)
        for _ in range(int(rng.choice([1, 2, 3, 4]))):
            v = base + rng.standard_normal(64) * 0.005
            vecs.append(v / np.linalg.norm(v))
            labels.append(label)
    order = rng.permutation(len(vecs))
    e = pa.table({'vec_id': pa.array(np.arange(len(vecs)), pa.int64()),
                  'embedding': pa.array([vecs[i].astype(np.float32).tolist() for i in order], pa.list_(pa.float32())),
                  'label': pa.array([labels[i] for i in order], pa.int32())})
    pq.write_table(e, os.path.join(out, 'embeddings.parquet'))


# ---------------------------------------------------------------- views
def gen_tables(rng, out):
    n = VIEW_ROWS

    def ts(lo_year, hi_year, k):
        lo = np.datetime64(f'{lo_year}-01-01').astype('datetime64[D]').astype(np.int64)
        hi = np.datetime64(f'{hi_year}-08-01').astype('datetime64[D]').astype(np.int64)
        return pa.array((rng.integers(lo, hi, k) * 86400 * 1_000_000).astype(np.int64), pa.timestamp('us'))

    def money(lo, hi, k):
        return np.round(rng.integers(int(lo * 100), int(hi * 100), k) / 100.0, 2)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f'{name}.parquet'))

    write('region', {'r_regionkey': pa.array(range(5), pa.int32()),
                     'r_name': ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST']})
    write('nation', {'n_nationkey': pa.array(range(25), pa.int32()),
                     'n_name': [f'NATION_{i}' for i in range(25)],
                     'n_regionkey': pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n['customer']
    write('customer', {'c_custkey': pa.array(range(c), pa.int64()),
                       'c_name': [f'Customer#{i:09d}' for i in range(c)],
                       'c_nationkey': pa.array(rng.integers(0, 25, c), pa.int32()),
                       'c_acctbal': money(-999.99, 9999.99, c),
                       'c_mktsegment': rng.choice(['MACHINERY', 'FURNITURE', 'BUILDING', 'AUTOMOBILE', 'HOUSEHOLD'], c)})
    s = n['supplier']
    write('supplier', {'s_suppkey': pa.array(range(s), pa.int64()),
                       's_name': [f'Supplier#{i:09d}' for i in range(s)],
                       's_nationkey': pa.array(rng.integers(0, 25, s), pa.int32()),
                       's_acctbal': money(-999.99, 9999.99, s)})
    p = n['part']
    adj = ['red', 'small', 'hot', 'old', 'large', 'blue']
    noun = ['plate', 'widget', 'ring', 'rod', 'bolt', 'gizmo', 'gear']
    write('part', {'p_partkey': pa.array(range(p), pa.int64()),
                   'p_name': [f'{adj[rng.integers(0, 6)]} {noun[rng.integers(0, 7)]}' for _ in range(p)],
                   'p_brand': [f'Brand#{rng.integers(1, 26)}' for _ in range(p)],
                   'p_type': rng.choice(['MEDIUM', 'STANDARD', 'LARGE', 'PROMO', 'SMALL', 'ECONOMY'], p),
                   'p_size': pa.array(rng.integers(1, 51, p), pa.int32()),
                   'p_retailprice': np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2)})
    o = n['orders']
    write('orders', {'o_orderkey': pa.array(range(o), pa.int64()),
                     'o_custkey': pa.array(rng.integers(0, c, o), pa.int64()),
                     'o_orderstatus': rng.choice(['P', 'O', 'F'], o),
                     'o_totalprice': money(1000, 500000, o),
                     'o_orderdate': ts(1995, 2001, o),
                     'o_orderpriority': rng.choice(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'], o)})
    li = n['lineitem']
    write('lineitem', {'l_orderkey': pa.array(rng.integers(0, o, li), pa.int64()),
                       'l_partkey': pa.array(rng.integers(0, p, li), pa.int64()),
                       'l_suppkey': pa.array(rng.integers(0, s, li), pa.int64()),
                       'l_linenumber': pa.array(rng.integers(1, 8, li), pa.int32()),
                       'l_quantity': rng.integers(1, 51, li).astype(np.float64),
                       'l_extendedprice': money(900, 105000, li),
                       'l_discount': rng.integers(0, 11, li) / 100.0,
                       'l_tax': rng.integers(0, 9, li) / 100.0,
                       'l_returnflag': rng.choice(['R', 'A', 'N'], li),
                       'l_linestatus': rng.choice(['O', 'F'], li),
                       'l_shipdate': ts(1995, 2001, li)})
    ev = n['events']
    base = np.datetime64('2024-01-01T00:00:00').astype('datetime64[us]').astype(np.int64)
    write('events', {'event_id': pa.array(range(ev), pa.int64()),
                     'ts': pa.array(np.sort(base + rng.integers(0, 30 * 86400 * 1_000_000, ev)), pa.timestamp('us')),
                     'user_id': pa.array(rng.integers(0, 150, ev), pa.int64()),
                     'event_type': rng.choice(['click', 'signup', 'error', 'view', 'purchase'], ev),
                     'value': money(0.01, 490.0, ev),
                     'props': [f'{{"k": {k}}}' for k in rng.integers(0, 100, ev)]})


# ---------------------------------------------------------------- oracles
TABLES = ['region', 'nation', 'customer', 'supplier', 'part', 'orders', 'lineitem',
          'events', 'documents', 'embeddings']


# checked against components of checked pairs (perfbench/run.py), not by
# their oracle SQL, whose recursive closure is quadratic in component size
CLUSTER_STAGES = ('d06_dedup_clusters', 'd12_dedup_pipeline')


def run_oracles(data_dir, names, oracle_sql, out):
    import duckdb
    con = duckdb.connect()
    con.execute('SET threads TO 2')
    con.execute('SET enable_progress_bar = false')
    for t in TABLES:
        f = os.path.join(data_dir, f'{t}.parquet')
        if os.path.exists(f):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
    os.makedirs(out)
    for q in names:
        con.execute(f"COPY ({oracle_sql[q]}) TO '{os.path.join(out, q + '.parquet')}' (FORMAT PARQUET)")


def version():
    """Hash of this generator, so cached inputs follow its changes."""
    with open(os.path.abspath(__file__), 'rb') as f:
        return hashlib.sha256(f.read()).hexdigest()[:8]


def generate(workload, seed, out, oracle_file):
    """Write the inputs for (workload, seed) under `out` unless present.
    `oracle_file` is the build's dump: oracle SQL plus the names of the
    curate stages and the views query mix."""
    if os.path.exists(os.path.join(out, '.ok')):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = np.random.default_rng([int(seed), WORKLOADS.index(workload)])
    expected = {}
    if workload == 'bootstrap':
        expected = gen_bootstrap(rng, out)
    elif workload == 'tail':
        expected = gen_tail(rng, out)
    elif workload == 'curate':
        corpus = os.path.join(out, 'corpus')
        os.makedirs(corpus)
        gen_corpus(rng, corpus)

        names = json.load(open(oracle_file))
        run_oracles(corpus, [q for q in names['curate_stages'] if q not in CLUSTER_STAGES],
                    names['oracles'], os.path.join(out, 'expected'))
    else:
        tables = os.path.join(out, 'tables')
        os.makedirs(tables)
        gen_tables(rng, tables)

        names = json.load(open(oracle_file))
        run_oracles(tables, names['views_mix'], names['oracles'], os.path.join(out, 'expected'))
    with open(os.path.join(out, 'expected.json'), 'w') as f:
        json.dump(expected, f)
    open(os.path.join(out, '.ok'), 'w').close()
    return out


if __name__ == '__main__':
    if len(sys.argv) != 5 or sys.argv[1] not in WORKLOADS:
        sys.exit(__doc__)
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4])
