#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: load each Verify parquet
output, run the matching oracle SQL in DuckDB over the same sf tables, and
compare exactly (rows sorted by all columns, columns sorted by name).

A gate whose query threw in Verify (verify_errors.json, gate -> message)
fails with that message.

Usage: python3 scripts/check_oracle.py <sfDir> <verifyOutDir>
"""
import json, sys, glob, os
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    err_path = f"{out_dir}/verify_errors.json"
    errors = json.load(open(err_path)) if os.path.exists(err_path) else {}
    n_pass = n_fail = 0
    for name in sorted(oracle):
        sql = oracle[name]
        pq = f"{out_dir}/{name}"
        if name in errors:
            print(f"FAIL {name}: threw: {errors[name][:300]}"); n_fail += 1; continue
        if not os.path.isdir(pq):
            continue  # not attempted (Verify name-filter iteration run)
        if not glob.glob(f"{pq}/*.parquet"):
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            got = con.sql(f"SELECT * FROM '{pq}/*.parquet'").df()
            want = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL {name}: {str(e)[:200]}"); n_fail += 1; continue
        gc, wc = sorted(got.columns), sorted(want.columns)
        if gc != wc:
            print(f"FAIL {name}: columns {gc} != {wc}"); n_fail += 1; continue
        got = got[gc].sort_values(gc, kind="mergesort").reset_index(drop=True)
        want = want[wc].sort_values(wc, kind="mergesort").reset_index(drop=True)
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}"); n_fail += 1; continue
        diff_cols = []
        # driver-faithful compare: dtypes must agree (DuckDB HUGEINT from a
        # bare sum() surfaces as float64/object and hash-mismatches int64
        # even when values coerce equal), and values compare as the driver
        # formats them, not via pandas numeric coercion
        def fmt(v):
            if v is None or (isinstance(v, float) and v != v):
                return "NULL"
            try:
                import pandas as _pd
                if v is _pd.NaT or (hasattr(_pd, "isna") and _pd.isna(v)):
                    return "NULL"
            except Exception:
                pass
            if isinstance(v, float):
                return repr(v)
            return str(v)
        for c in gc:
            a, b = got[c], want[c]
            if a.dtype.kind != b.dtype.kind:
                diff_cols.append((c, "dtype", str(a.dtype), str(b.dtype), -1))
                continue
            fa = a.map(fmt)
            fb = b.map(fmt)
            eq = fa == fb
            if not eq.all():
                idx = (~eq).idxmax()
                diff_cols.append((c, idx, a[idx], b[idx], int((~eq).sum())))
        if diff_cols:
            print(f"FAIL {name}: value diffs {diff_cols[:3]}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
