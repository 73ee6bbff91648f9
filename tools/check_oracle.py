#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL in
DuckDB over the sf tables, load the Spark parquet dump, and compare
(row count, schema column names, sorted-values hash / allclose).

Usage: check_oracle.py [sfDir] [verifyOut] [query ...]
Query names restrict the check to those gates. The last line is
`passed N/M`; the exit code is 1 when any checked gate fails."""
import sys, json, glob
import duckdb
import pandas as pd
import numpy as np

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
only = set(sys.argv[3:])

con = duckdb.connect()
for tbl in ["region", "nation", "customer", "supplier", "part", "orders",
            "lineitem", "events", "documents", "embeddings"]:
    con.sql(f"CREATE VIEW {tbl} AS SELECT * FROM '{sf_dir}/{tbl}.parquet'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
unknown = only - oracle.keys()
if unknown:
    sys.exit(f"unknown queries: {', '.join(sorted(unknown))}")
checks = sorted((n, q) for n, q in oracle.items() if not only or n in only)
fail = 0
for name, sql in checks:
    try:
        exp = con.sql(sql).df()
        got = pd.concat([pd.read_parquet(p) for p in
                         glob.glob(f"{out_dir}/{name}/*.parquet")])
    except Exception as e:
        print(f"FAIL {name}: {type(e).__name__}: {e}")
        fail += 1
        continue
    ok = True
    msgs = []
    if sorted(exp.columns) != sorted(got.columns):
        ok = False
        msgs.append(f"cols exp={sorted(exp.columns)} got={sorted(got.columns)}")
    elif len(exp) != len(got):
        ok = False
        msgs.append(f"rows exp={len(exp)} got={len(got)}")
    else:
        cols = sorted(exp.columns)
        e = exp[cols].sort_values(cols).reset_index(drop=True)
        g = got[cols].sort_values(cols).reset_index(drop=True)
        for c in cols:
            ec, gc = e[c], g[c]
            if ec.dtype.kind in "fc" or gc.dtype.kind in "fc":
                # DRIVER SEMANTICS: values are rounded to 6 decimals and
                # hashed EXACTLY — allclose(1e-6) here once hid a
                # float32-storage mismatch (q43) the driver red-flagged.
                ev = ec.astype(float).round(6).fillna(-9e99).values
                gv = gc.astype(float).round(6).fillna(-9e99).values
                bad = ev != gv
                if bad.any():
                    ok = False
                    i = int(np.argmax(bad))
                    msgs.append(f"col {c} {bad.sum()} exact-round6 "
                                f"mismatches; first row {i}: "
                                f"exp={ev[i]!r} got={gv[i]!r}")
            else:
                if not (ec.astype(str).values == gc.astype(str).values).all():
                    ok = False
                    bad = (ec.astype(str).values != gc.astype(str).values)
                    i = int(np.argmax(bad))
                    msgs.append(f"col {c} first mismatch row {i}: "
                                f"exp={ec.iloc[i]!r} got={gc.iloc[i]!r}")
    print(("PASS" if ok else "FAIL"), name, f"rows={len(exp)}",
          "; ".join(msgs))
    fail += 0 if ok else 1
print(f"passed {len(checks) - fail}/{len(checks)}")
sys.exit(1 if fail else 0)
