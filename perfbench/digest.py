"""Canonical, row-order-free digest of a query result, in the form
tools/check.py compares: columns sorted by name, decimals as exact
strings (and their declared precision/scale), floats as repr, everything
else as str, NULL as "NULL", rows sorted, then the pandas row hash
summed. Used to pin each query's DuckDB-oracle digest (pin_digests.py)
and to check the Spark result against it (run.py)."""
import hashlib
import json
import re

import duckdb
import pandas as pd

_con = None


def con(data_dir=None):
    global _con
    if _con is None:
        _con = duckdb.connect()
    if data_dir:
        for t in ["region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"]:
            _con.sql(f"CREATE OR REPLACE VIEW {t} AS FROM '{data_dir}/{t}.parquet'")
    return _con


def _describe(sql):
    return [(r["column_name"], r["column_type"])
            for _, r in con().sql(f"DESCRIBE {sql}").df().iterrows()]


def sql_digest(sql):
    cols = _describe(sql)
    dec = {c.lower(): t for c, t in cols if re.fullmatch(r"DECIMAL\(\d+,\d+\)", t)}
    sel = ", ".join(f'CAST("{c}" AS VARCHAR) AS "{c}"' if c.lower() in dec
                    else f'"{c}"' for c, _ in cols)
    df = con().sql(f"SELECT {sel} FROM ({sql})").df()
    df = df.reindex(sorted(df.columns), axis=1)
    canon = []
    for c in df.columns:
        s = df[c]
        if s.dtype.kind == "f":
            canon.append(s.map(lambda v: repr(float(v)) if pd.notna(v) else "NULL"))
        else:
            canon.append(s.map(lambda v: "NULL" if v is None or
                               (isinstance(v, float) and pd.isna(v)) else str(v)))
    a = pd.concat(canon, axis=1) if canon else pd.DataFrame()
    h = int(pd.util.hash_pandas_object(
        a.sort_values(list(a.columns)).reset_index(drop=True), index=False).sum()) \
        if len(a.columns) else 0
    key = json.dumps([sorted(c.lower() for c in df.columns), len(df),
                      sorted(dec.items()), h])
    return hashlib.sha256(key.encode()).hexdigest()[:32]


def parquet_digest(path):
    return sql_digest(f"SELECT * FROM '{path}/*.parquet'")
