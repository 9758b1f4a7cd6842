#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (dev tool only — the
shipped library has no Python dependency). For each query result parquet in
OUTDIR, run the matching oracle SQL from oracle_sql.json in DuckDB over the
testdata parquet tables and compare: row count, column names, and values
(columns sorted by name, rows in result order). Each OK/FAIL line carries
the seconds DuckDB spent on that query's oracle SQL; the five slowest are
listed before the summary line."""
import json, sys, glob, os, time
import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))

def took(name):
    return f" [oracle {oracle_s[name]:.2f}s]" if name in oracle_s else ""

ok = fail = 0
oracle_s = {}  # name -> seconds spent running its oracle SQL
for name in sorted(oracle):
    res_dir = f"{outdir}/{name}"
    files = glob.glob(f"{res_dir}/*.parquet")
    if not files:
        print(f"FAIL {name}: no result parquet"); fail += 1; continue
    try:
        got = con.execute(f"SELECT * FROM '{files[0]}'").fetchdf()
        t0 = time.monotonic()
        try:
            want = con.execute(oracle[name]).fetchdf()
        finally:
            oracle_s[name] = time.monotonic() - t0
    except Exception as e:
        print(f"FAIL {name}: {e}{took(name)}"); fail += 1; continue
    got = got[sorted(got.columns)]
    want = want[sorted(want.columns)]
    if list(got.columns) != list(want.columns):
        print(f"FAIL {name}: cols {list(got.columns)} vs {list(want.columns)}{took(name)}"); fail += 1; continue
    if len(got) != len(want):
        print(f"FAIL {name}: rows {len(got)} vs {len(want)}{took(name)}"); fail += 1; continue
    diff_cols = []
    for c in got.columns:
        a, b = got[c], want[c]
        try:
            eq = (a.astype(str).values == b.astype(str).values).all()
        except Exception:
            eq = False
        if not eq:
            diff_cols.append(c)
    if diff_cols:
        print(f"FAIL {name}: value mismatch in {diff_cols}{took(name)}")
        for c in diff_cols[:2]:
            import pandas as pd
            m = got[c].astype(str).values != want[c].astype(str).values
            idx = m.nonzero()[0][:3]
            for i in idx:
                print(f"   row {i} col {c}: spark={got[c].iloc[i]!r} oracle={want[c].iloc[i]!r}")
        fail += 1
    else:
        print(f"OK   {name} ({len(got)} rows){took(name)}"); ok += 1
print("\nslowest oracle SQL:")
for name, s in sorted(oracle_s.items(), key=lambda kv: -kv[1])[:5]:
    print(f"  {s:8.2f}s  {name}")
print(f"\n{ok} ok, {fail} fail")
sys.exit(1 if fail else 0)
