#!/usr/bin/env python3
"""Driver-style correctness compare: Spark parquet output vs DuckDB oracle.

graft.Verify exit-code contract (mirrors Verify.scala's scaladoc):
  0 = dumps complete, overflow gate clear        -> compare normally
  2 = dumps complete, overflow gate TRIPPED      -> compare normally; the
      data is past an audit row's alarm line (q68's 64-bit gate, or a 2^53
      output cast) and the deployment must take that row's escape
      (q72_nation_value_wide, or GRAFT_CENTS_OUT=1)
  1 = one or more dumps FAILED                   -> do NOT trust a compare
Pass the observed code as verify_exit=<n> and this tool enforces that:
it refuses to compare after exit 1 and annotates exit 2 as gate-tripped.
"""
import duckdb, json, sys, glob, os, time

sf = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
outdir = sys.argv[2] if len(sys.argv) > 2 else '/tmp/verify_out'
# optional extra args: only=<csv> / skip=<csv> (dev iteration on big SFs),
# verify_exit=<n> (the observed graft.Verify exit code — see module doc)
only = skip = None
json_out = note = None
for arg in sys.argv[3:]:
    key, _, val = arg.partition('=')
    if key == 'only': only = set(val.split(','))
    if key == 'skip': skip = set(val.split(','))
    if key == 'json_out': json_out = val   # per-query status artifact
    if key == 'note': note = val           # free-form run label (e.g. cents mode)
    if key == 'verify_exit':
        code = int(val)
        if code == 1:
            sys.exit('verify exited 1: dumps INCOMPLETE — refusing to compare '
                     '(fix the failed dumps, do not grade partial artifacts)')
        elif code == 2:
            print('verify exited 2: overflow gate tripped (dumps valid) — '
                  'comparing normally; this data needs the audit row\'s escape '
                  'in production (q72_nation_value_wide or GRAFT_CENTS_OUT=1)')
        elif code != 0:
            sys.exit(f'verify exited {code}: unknown code — contract is 0/1/2')

con = duckdb.connect()
for t in ['region','nation','customer','supplier','part','orders','lineitem','events','documents','embeddings']:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

oracles = json.load(open(f'{outdir}/oracle_sql.json'))
ok = fail = 0
statuses = {}
for name in sorted(os.listdir(outdir)):
    d = os.path.join(outdir, name)
    if not os.path.isdir(d):
        continue
    if (only is not None and name not in only) or (skip is not None and name in skip):
        continue
    t0 = time.time()
    print(f'{name}: ...', flush=True)
    files = glob.glob(f'{d}/*.parquet')
    if not files:
        print(f'{name}: NO OUTPUT')
        statuses[name] = {'status': 'no_output'}
        fail += 1
        continue
    spark_df = con.sql(f"SELECT * FROM '{files[0]}'").df()
    if name not in oracles:
        print(f'{name}: rows-only ({len(spark_df)} rows)')
        statuses[name] = {'status': 'rows_only', 'rows': len(spark_df)}
        continue
    oracle_df = con.sql(oracles[name]).df()
    sc = sorted(spark_df.columns); oc = sorted(oracle_df.columns)
    if sc != oc:
        print(f'{name}: SCHEMA MISMATCH spark={sc} oracle={oc}')
        statuses[name] = {'status': 'schema_mismatch'}
        fail += 1
        continue
    a = spark_df[sc].sort_values(sc).reset_index(drop=True)
    b = oracle_df[oc].sort_values(oc).reset_index(drop=True)
    if len(a) != len(b):
        print(f'{name}: ROWCOUNT MISMATCH spark={len(a)} oracle={len(b)}')
        statuses[name] = {'status': 'rowcount_mismatch', 'spark_rows': len(a), 'oracle_rows': len(b)}
        fail += 1
        continue
    # dtype harmonization then value compare
    try:
        import pandas as pd
        eq = True
        for c in sc:
            av, bv = a[c], b[c]
            if av.dtype != bv.dtype:
                try:
                    av = av.astype('float64'); bv = bv.astype('float64')
                except Exception:
                    av = av.astype(str); bv = bv.astype(str)
            if av.dtype.kind == 'f':
                if not ((av - bv).abs().fillna(0) < 1e-9).all() or not (av.isna() == bv.isna()).all():
                    eq = False; bad = c; break
            else:
                if not (av.fillna('@null@') == bv.fillna('@null@')).all():
                    eq = False; bad = c; break
        if eq:
            print(f'{name}: OK ({len(a)} rows) [{time.time()-t0:.1f}s]', flush=True)
            statuses[name] = {'status': 'ok', 'rows': len(a)}
            ok += 1
        else:
            print(f'{name}: VALUE MISMATCH col={bad}')
            statuses[name] = {'status': 'value_mismatch', 'col': bad}
            merged = a[[bad]].compare(b[[bad]]) if hasattr(a[[bad]], "compare") else None
            print(a[a[bad] != b[bad]].head(3))
            print(b[a[bad] != b[bad]].head(3))
            fail += 1
    except Exception as e:
        print(f'{name}: COMPARE ERROR {e}')
        statuses[name] = {'status': 'compare_error', 'err': str(e)}
        fail += 1
print(f'\n{ok} OK, {fail} FAIL')
if json_out:
    with open(json_out, 'w') as f:
        json.dump({'sf': sf, 'outdir': outdir, 'note': note,
                   'ok': ok, 'fail': fail, 'results': statuses}, f, indent=1)
    print(f'wrote {json_out}')
