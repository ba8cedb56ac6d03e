#!/usr/bin/env python3
"""Local dev harness mirroring the driver's correctness gate:
run graft.Verify at a given SF, then compare each query's parquet output
against its DuckDB oracle (columns sorted by name, values hashed).

Usage: python3 tools/check.py [sfDir] [outDir] [queryFilter]
(Dev tooling only — the shipped library is pure Scala/Spark.)
"""
import sys, os, glob, json
import duckdb
import pandas as pd

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
flt = sys.argv[3] if len(sys.argv) > 3 else ""

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.sql(f"CREATE VIEW {t} AS FROM '{sf}/{t}.parquet'")

oracle = json.load(open(f"{out}/oracle_sql.json"))

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes for hashing: floats to repr, rest to str
    rows = []
    for col in df.columns:
        s = df[col]
        if s.dtype.kind == "f":
            rows.append(s.map(lambda v: repr(float(v)) if pd.notna(v) else "NULL"))
        else:
            rows.append(s.map(lambda v: "NULL" if v is None or (isinstance(v, float) and pd.isna(v)) else str(v)))
    return pd.concat(rows, axis=1)

ok = bad = 0
terms = [t.strip() for t in flt.split(",") if t.strip()]
neg = [t[1:] for t in terms if t.startswith("-")]
pos = [t for t in terms if not t.startswith("-")]

def selected(name):
    # same grammar as graft.NameFilter: bare terms include, "-" excludes;
    # only-negative filters run everything not excluded
    return ((not pos or any(t in name for t in pos))
            and not any(t in name for t in neg))

import re

def decimal_types(rel_sql):
    """column -> (precision, scale) for every DECIMAL column of a query."""
    d = {}
    for _, row in con.sql(f"DESCRIBE {rel_sql}").df().iterrows():
        m = re.fullmatch(r"DECIMAL\((\d+),(\d+)\)", row["column_type"])
        if m:
            d[row["column_name"].lower()] = (int(m.group(1)), int(m.group(2)))
    return d

def decimal_parity(name, spark_src, oracle_sql):
    """Spark's silent scale reduction at the precision-38 cap has shipped
    two hash-red queries (q212 in-round, q225 in r10/r11) that rows/schema
    checks can't see. ANY (precision, scale) mismatch on a decimal column
    is an instant FAIL: the driver's hash proved sensitive to the declared
    decimal TYPE (r11: bit-identical values, DECIMAL(30,8) vs (38,8),
    hash-red), not just the rendered value — precision is NOT advisory."""
    ds, do = decimal_types(f"SELECT * FROM '{spark_src}'"), decimal_types(oracle_sql)
    errs = []
    for c in sorted(set(ds) & set(do)):
        (ps, ss), (po, so) = ds[c], do[c]
        if (ps, ss) != (po, so):
            errs.append(f"{c}: spark DECIMAL({ps},{ss}) vs oracle DECIMAL({po},{so})")
    for c in sorted(set(ds) ^ set(do)):
        side = "spark" if c in ds else "oracle"
        errs.append(f"{c}: decimal on {side} side only")
    return errs

def exact_df(rel_sql):
    """Fetch a query with decimal columns cast to VARCHAR so the hash sees
    the exact decimal rendering, not duckdb.df()'s decimal->float64
    conversion (the blind spot that let q225 pass locally while driver-red
    two rounds running)."""
    dec = decimal_types(rel_sql)
    cols = [r["column_name"] for _, r in con.sql(f"DESCRIBE {rel_sql}").df().iterrows()]
    sel = ", ".join(
        f'CAST("{c}" AS VARCHAR) AS "{c}"' if c.lower() in dec else f'"{c}"'
        for c in cols)
    return con.sql(f"SELECT {sel} FROM ({rel_sql})").df()

for name in sorted(oracle):
    if not selected(name):
        continue
    files = glob.glob(f"{out}/{name}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark output"); bad += 1; continue
    try:
        spark_df = exact_df(f"SELECT * FROM '{out}/{name}/*.parquet'")
        duck_df = exact_df(oracle[name])
        dec_errs = decimal_parity(name, f"{out}/{name}/*.parquet", oracle[name])
    except Exception as e:
        print(f"FAIL {name}: {e}"); bad += 1; continue
    if dec_errs:
        print(f"FAIL {name}: decimal scale parity: " + "; ".join(dec_errs))
        bad += 1
        continue
    a, b = canon(spark_df), canon(duck_df)
    schema_ok = sorted(map(str.lower, spark_df.columns)) == sorted(map(str.lower, duck_df.columns))
    rows_ok = len(a) == len(b)
    # hash ignoring row order (sort rows)
    ha = pd.util.hash_pandas_object(a.sort_values(list(a.columns)).reset_index(drop=True), index=False).sum()
    hb = pd.util.hash_pandas_object(b.sort_values(list(b.columns)).reset_index(drop=True), index=False).sum()
    if schema_ok and rows_ok and ha == hb:
        print(f"OK   {name}  rows={len(a)}"); ok += 1
    else:
        print(f"FAIL {name}: schema_ok={schema_ok} rows {len(a)} vs {len(b)} hash_eq={ha==hb}")
        if schema_ok and rows_ok:
            merged = a.sort_values(list(a.columns)).reset_index(drop=True).compare(
                b.sort_values(list(b.columns)).reset_index(drop=True))
            print(merged.head(5))
        else:
            print(" spark cols:", sorted(spark_df.columns))
            print(" duck  cols:", sorted(duck_df.columns))
        bad += 1
print(f"\n{ok} OK, {bad} FAIL")
sys.exit(1 if bad else 0)
