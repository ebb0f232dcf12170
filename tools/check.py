#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: run Verify's parquet
dumps against the DuckDB oracle SQL and diff rows/schema/values.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [query ...]

`connect` and `check_query` are the one compare; tools/check_parallel.py
runs the same two across worker processes.
"""
import sys, json, glob, os
import duckdb
import pyarrow.parquet as pq
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(sf_dir):
    """A DuckDB connection with one view per testdata table."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def check_query(con, oracles, out_dir, name):
    """One query's verdict: Verify's parquet dump of `name` against its
    DuckDB twin (row count, column names, then per-column values)."""
    files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
    spark_df = pd.concat([pq.read_table(f).to_pandas() for f in files])
    if name not in oracles:
        return {"rows": len(spark_df), "check": "rows-only",
                "ok": len(spark_df) > 0}
    try:
        oracle_df = con.sql(oracles[name]).df()
    except Exception as e:
        return {"ok": False, "err": f"oracle: {e}"}
    s = spark_df[sorted(spark_df.columns)].reset_index(drop=True)
    o = oracle_df[sorted(oracle_df.columns)].reset_index(drop=True)
    entry = {"spark_rows": len(s), "oracle_rows": len(o),
             "cols_match": list(s.columns) == list(o.columns)}
    if not entry["cols_match"]:
        entry["spark_cols"] = list(s.columns)
        entry["oracle_cols"] = list(o.columns)
        entry["ok"] = False
    elif len(s) != len(o):
        entry["ok"] = False
    else:
        mismatches = {}
        for c in s.columns:
            a, b = s[c], o[c]
            try:
                # normalize timestamp unit (Spark parquet read gives ns,
                # DuckDB us); a unit mismatch is not a value mismatch
                if str(a.dtype).startswith("datetime64"):
                    a = a.astype("datetime64[us]")
                if str(b.dtype).startswith("datetime64"):
                    b = b.astype("datetime64[us]")
                if a.dtype != b.dtype:
                    mismatches[c] = f"dtype {a.dtype} vs {b.dtype}"
                    continue
                eq = (a == b) | (a.isna() & b.isna())
                if not eq.all():
                    idx = (~eq).idxmax()
                    mismatches[c] = (f"{int((~eq).sum())} diffs, first@{idx}: "
                                     f"{a[idx]!r} vs {b[idx]!r}")
            except Exception as e:
                mismatches[c] = f"cmp error: {e}"
        entry["ok"] = not mismatches
        if mismatches:
            entry["mismatches"] = mismatches
    return entry


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = connect(sf_dir)
    results = {}
    for name in sorted(os.listdir(out_dir)):
        if not os.path.isdir(os.path.join(out_dir, name)):
            continue
        if only and name not in only:
            continue
        results[name] = check_query(con, oracles, out_dir, name)
    n_ok = sum(1 for r in results.values() if r.get("ok"))
    print(json.dumps(results, indent=2, default=str))
    print(f"\n{n_ok}/{len(results)} OK")

if __name__ == "__main__":
    main()
