#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/parity.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify), runs
the matching SQL from <verifyOutDir>/oracle_sql.json in DuckDB over the
sfDir parquet tables, sorts columns by name, sorts rows, and compares
values exactly. Prints per-query PASS/FAIL with a diff sample. Every query
Verify's manifest.json lists as `missing` (it threw, so no output dir was
written) counts as a FAIL too.
"""
import sys, os, json, glob
import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(os.listdir(out_dir)):
        d = f"{out_dir}/{name}"
        if not os.path.isdir(d):
            continue
        files = glob.glob(f"{d}/*.parquet")
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        if name not in oracle:
            print(f"  [rows-only] {name}: {len(got)} rows")
            continue
        exp = con.execute(oracle[name]).df()
        g, e = canon(got), canon(exp)
        ok = True
        if list(g.columns) != list(e.columns):
            ok = False
            print(f"FAIL {name}: columns {list(g.columns)} vs {list(e.columns)}")
        elif len(g) != len(e):
            ok = False
            print(f"FAIL {name}: rows {len(g)} vs {len(e)}")
        else:
            try:
                pd.testing.assert_frame_equal(g, e, check_dtype=True, check_exact=True)
            except AssertionError as ex:
                ok = False
                print(f"FAIL {name}: {str(ex)[:500]}")
        if ok:
            n_pass += 1
            print(f"PASS {name} ({len(g)} rows, {list(g.columns)})")
        else:
            n_fail += 1
    manifest = f"{out_dir}/manifest.json"
    missing = json.load(open(manifest))["missing"] if os.path.exists(manifest) else []
    for name in missing:
        n_fail += 1
        print(f"FAIL {name}: never dumped (listed missing in manifest.json)")
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
