#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Reads the Verify output dir (spark result parquet per query +
oracle_sql.json), runs each oracle SQL in DuckDB against the testdata
parquet tables, and compares: row count, column names, and values
(columns sorted by name, rows sorted by all columns). A key named in
Verify's failures.json fails with the error it threw, whatever output
an earlier run left in its directory.

Usage: tools/check.py <sfDir> <verifyOutDir>
"""
import sys, os, json, glob
import duckdb
import pandas as pd
import numpy as np

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonicalize dtypes for compare
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def main(sf_dir: str, out_dir: str) -> None:
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    fpath = f"{out_dir}/failures.json"
    failures = json.load(open(fpath)) if os.path.exists(fpath) else {}
    n_pass = n_fail = 0
    for name in sorted(oracle):
        sql = oracle[name]
        spark_dir = f"{out_dir}/{name}"
        files = glob.glob(f"{spark_dir}/*.parquet")
        if name in failures:
            print(f"FAIL {name}: {failures[name]}"); n_fail += 1; continue
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            got = norm(pd.read_parquet(spark_dir))
            want = norm(con.execute(sql).fetchdf())
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: cols {list(got.columns)} vs {list(want.columns)}"); n_fail += 1; continue
        # int-vs-float dtype drift: DuckDB HUGEINT (e.g. an uncast SUM of
        # BIGINT) reaches pandas as float64 while Spark writes int64. The
        # exact-value compare below would still pass (123 == 123.0) but a
        # representation-sensitive hash ("123" vs "123.0") does not — the
        # one dtype class the driver's gate rejects. Fail it here so the
        # oracle gets its CAST(... AS BIGINT) before the driver ever runs.
        drift = [c for c in got.columns
                 if pd.api.types.is_integer_dtype(got[c]) != pd.api.types.is_integer_dtype(want[c])
                 and (pd.api.types.is_numeric_dtype(got[c]) and pd.api.types.is_numeric_dtype(want[c]))]
        if drift:
            print(f"FAIL {name}: int/float dtype drift on {drift} "
                  f"(spark {[str(got[c].dtype) for c in drift]} vs oracle {[str(want[c].dtype) for c in drift]})")
            n_fail += 1; continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} vs {len(want)}"); n_fail += 1; continue
        try:
            pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=False, rtol=0, atol=0)
            print(f"PASS {name} ({len(got)} rows)"); n_pass += 1
        except AssertionError as e:
            print(f"FAIL {name}: values differ\n{str(e)[:500]}"); n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
