#!/usr/bin/env python3
"""Driver-style oracle compare: for each query dumped by graft.Verify,
run its DuckDB oracle SQL over the testdata parquet tables and compare
row multisets (columns sorted by name, floats rounded to 6).

Usage: compare_oracle.py <sfDir> <verifyOut> [query ...]
"""
import sys, json, glob, math
import duckdb, pandas as pd

sf, out = sys.argv[1], sys.argv[2]
only = set(sys.argv[3:])

con = duckdb.connect()
for t in glob.glob(f"{sf}/*.parquet"):
    name = t.split("/")[-1].replace(".parquet", "")
    con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")

oracle = json.load(open(f"{out}/oracle_sql.json"))
fail = 0
for name in sorted(oracle):
    if only and name not in only:
        continue
    try:
        exp = con.sql(oracle[name]).df()
        got = pd.read_parquet(f"{out}/{name}")
        exp = exp[sorted(exp.columns)]
        got = got[sorted(got.columns)]
        if list(exp.columns) != list(got.columns):
            print(f"{name}: SCHEMA MISMATCH {list(exp.columns)} vs {list(got.columns)}")
            fail += 1
            continue

        def canon_obj(v):
            # NULL -> (0,), value -> (1, value): NULL sorts before every
            # value instead of making sorted() raise TypeError on a
            # None-vs-str comparison
            if v is None:
                return (0,)
            if isinstance(v, list) or type(v).__name__ == "ndarray":
                v = tuple(v)
            return (1, v)

        def canon(df):
            df = df.copy()
            for c in df.columns:
                if df[c].dtype == object:
                    df[c] = df[c].map(canon_obj)
                elif df[c].dtype.kind == "f":
                    # stringify the WHOLE column (not just NaN): a mixed
                    # str/float column would make sorted() raise TypeError
                    # on tied rows; repr(round(v, 6)) is identical on both
                    # faces iff the rounded values are
                    df[c] = df[c].round(6).map(
                        lambda v: "NaN" if isinstance(v, float) and
                        math.isnan(v) else repr(v))
                elif str(df[c].dtype).startswith("u"):
                    df[c] = df[c].astype("int64")
            return sorted(map(tuple, df.itertuples(index=False, name=None)))

        a, b = canon(exp), canon(got)
        if len(a) != len(b):
            print(f"{name}: ROWS {len(a)} oracle vs {len(b)} spark")
            fail += 1
        elif a != b:
            bad = [i for i, (x, y) in enumerate(zip(a, b)) if x != y][:3]
            print(f"{name}: CONTENT MISMATCH at sorted idx {bad}")
            for i in bad[:1]:
                print(f"  oracle: {a[i]}\n  spark : {b[i]}")
            fail += 1
        else:
            print(f"{name}: OK ({len(a)} rows)")
    except Exception as e:
        print(f"{name}: ERROR {e}")
        fail += 1
sys.exit(1 if fail else 0)
