import duckdb, json, glob, sys, math, time
sf = sys.argv[1] if len(sys.argv)>1 else '/root/testdata/sf0.001'
out = sys.argv[2] if len(sys.argv)>2 else '/tmp/vout'
con = duckdb.connect()
for t in ['region','nation','customer','supplier','part','orders','lineitem','events','documents','embeddings']:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
oracle = json.load(open(f'{out}/oracle_sql.json'))
def norm(v):
    if isinstance(v, float):
        if math.isnan(v): return 'nan'
        if v == 0: v = 0.0  # collapse -0.0 vs 0.0
        return f'{v:.9g}'
    return str(v)
failures = 0
secs = {}  # DuckDB seconds per oracle
for name, sql in sorted(oracle.items()):
    try:
        t0 = time.perf_counter()
        odf = con.execute(sql).fetch_df()
        secs[name] = time.perf_counter() - t0
        sdf = con.execute(f"SELECT * FROM '{out}/{name}/*.parquet'").fetch_df()
        ocols, scols = sorted(odf.columns), sorted(sdf.columns)
        if ocols != scols:
            print(f"{name}: COLS MISMATCH {ocols} vs {scols}"); failures += 1; continue
        orows = sorted([tuple(norm(x) for x in r) for r in odf[ocols].itertuples(index=False)])
        srows = sorted([tuple(norm(x) for x in r) for r in sdf[ocols].itertuples(index=False)])
        if len(orows) != len(srows):
            print(f"{name}: ROWCOUNT {len(orows)} vs {len(srows)}"); failures += 1; continue
        if orows != srows:
            bad = [i for i,(a,b) in enumerate(zip(orows,srows)) if a!=b][:3]
            print(f"{name}: VALUES MISMATCH e.g. {[(orows[i], srows[i]) for i in bad]}"); failures += 1
        else:
            print(f"{name}: OK ({len(orows)} rows)")
    except Exception as e:
        print(f"{name}: ERROR {e}"); failures += 1

print(f"oracle time: {sum(secs.values()):.1f} s over {len(secs)} oracles; slowest:")
for name, t in sorted(secs.items(), key=lambda kv: -kv[1])[:5]:
    print(f"  {name}: {t:.1f} s")
sys.exit(1 if failures else 0)
