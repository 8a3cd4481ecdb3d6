import duckdb, json, sys, glob, hashlib
import pandas as pd

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for tbl in ['region','nation','customer','supplier','part','orders','lineitem','events','documents','embeddings']:
    con.sql(f"create view {tbl} as select * from '{sfdir}/{tbl}.parquet'")
oracle = json.load(open(f"{outdir}/oracle_sql.json"))

def canon(df):
    df = df[sorted(df.columns)]
    # normalize dtypes: ints -> int64, floats -> float64
    for c in df.columns:
        if str(df[c].dtype).startswith(('int','uint','Int')): df[c] = df[c].astype('int64')
        if str(df[c].dtype).startswith('float'): df[c] = df[c].astype('float64')
        if str(df[c].dtype) == 'bool' or str(df[c].dtype)=='boolean': df[c] = df[c].astype('bool')
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

def part_file(name):
    """The one parquet part file of query `name`'s output directory (Verify
    writes each result coalesced to one partition)."""
    parts = glob.glob(f"{outdir}/{name}/*.parquet")
    if len(parts) != 1:
        raise ValueError(f"{outdir}/{name} holds {len(parts)} parquet part files, expected exactly 1")
    return parts[0]

fails = 0
for name, sql in sorted(oracle.items()):
    try:
        spark_df = pd.read_parquet(part_file(name))
        for stmt in [s for s in sql.split(';\n') if s.strip()]:
            duck_res = con.sql(stmt)
        duck_df = duck_res.df()
        a, b = canon(spark_df), canon(duck_df)
        if list(a.columns) != list(b.columns):
            print(f"FAIL {name}: columns {list(a.columns)} vs {list(b.columns)}"); fails+=1; continue
        if len(a) != len(b):
            print(f"FAIL {name}: rows {len(a)} vs {len(b)}"); fails+=1; continue
        eq = a.equals(b)
        if not eq:
            diff = (a != b) & ~(a.isna() & b.isna())
            ndiff = diff.any(axis=1).sum()
            print(f"FAIL {name}: {ndiff}/{len(a)} rows differ")
            idx = diff.any(axis=1)
            print(pd.concat([a[idx].head(3).add_suffix('_spark'), b[idx].head(3).add_suffix('_duck')], axis=1).to_string()[:1500])
            fails += 1
        else:
            print(f"OK   {name}: {len(a)} rows")
    except Exception as e:
        print(f"ERR  {name}: {e}"); fails += 1
print("FAILS:", fails)
sys.exit(1 if fails else 0)
