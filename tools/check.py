#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (NOT part of the shipped
library — Scala code never depends on this). Runs each oracle_sql.json entry in
DuckDB over the sf parquet tables and compares with the Verify parquet output:
schema (column names sorted), row count, and values (exact; floats reported
with max abs diff when not bit-equal)."""
import json, sys, glob, math
import duckdb
import pyarrow.parquet as pq
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)
    return df

def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    import os
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):  # Spark-written dir (e.g. ScaleUpLayout output)
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = 0
    produced = {p.split("/")[-1] for p in glob.glob(f"{out_dir}/*") if not p.endswith(".json")}
    for name in sorted(oracle):
        if name not in produced:
            print(f"FAIL {name}: no spark output"); n_bad += 1; continue
        try:
            got = pq.read_table(glob.glob(f"{out_dir}/{name}/*.parquet")[0]).to_pandas()
        except Exception as e:
            print(f"FAIL {name}: read spark output: {e}"); n_bad += 1; continue
        try:
            exp = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: duckdb: {e}"); n_bad += 1; continue
        g, e = canon(got), canon(exp)
        if list(g.columns) != list(e.columns):
            print(f"FAIL {name}: cols {list(g.columns)} != {list(e.columns)}"); n_bad += 1; continue
        if len(g) != len(e):
            print(f"FAIL {name}: rows {len(g)} != {len(e)}"); n_bad += 1; continue
        bad_cols = []
        for c in g.columns:
            a, b = g[c], e[c]
            try:
                if a.dtype.kind == "f" or b.dtype.kind == "f":
                    af, bf = a.astype(float), b.astype(float)
                    eq = (af.values == bf.values) | (af.isna().values & bf.isna().values)
                    if not eq.all():
                        d = (af - bf).abs().max()
                        bad_cols.append(f"{c} (maxdiff={d:.3e}, n={int((~eq).sum())})")
                else:
                    av = a.astype(str).where(~a.isna(), "<NA>")
                    bv = b.astype(str).where(~b.isna(), "<NA>")
                    if not (av.values == bv.values).all():
                        n = int((av.values != bv.values).sum())
                        i = (av.values != bv.values).argmax()
                        bad_cols.append(f"{c} (n={n}, first: {av.iloc[i]!r} vs {bv.iloc[i]!r})")
            except Exception as ex:
                bad_cols.append(f"{c} (cmp error: {ex})")
        if bad_cols:
            print(f"FAIL {name}: {', '.join(bad_cols)}"); n_bad += 1
        else:
            print(f"ok   {name} ({len(g)} rows)"); n_ok += 1
    extra = produced - set(oracle)
    for name in sorted(extra):
        try:
            rows = pq.read_table(glob.glob(f"{out_dir}/{name}/*.parquet")[0]).num_rows
            print(f"ok?  {name} (no oracle, rows={rows})")
        except Exception as e:
            print(f"FAIL {name}: no oracle and unreadable: {e}"); n_bad += 1
    print(f"\n{n_ok} ok, {n_bad} fail, {len(extra)} rows-only")
    return 1 if n_bad else 0

if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    sys.exit(main(sf, out))
