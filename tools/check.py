#!/usr/bin/env python3
"""Local oracle checker: mirrors the driver's DuckDB compare.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [--baseline <verifyDir>] [query ...]

For each query dumped by graft.Verify, runs the oracle SQL in DuckDB over
the same parquet tables and compares (rows sorted, columns sorted by name,
exact values). Queries without oracle SQL are rows-only checked: they pass
on rows > 0. With --baseline, a rows-only query must also equal, in the
same exact compare, its dump in <verifyDir> (a Verify run of another
commit): `pass(baseline)` or `FAIL(baseline)`.
"""
import sys, json, glob, os
import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def mismatch(o, s, ref="oracle"):
    """Why frame `s` (spark) differs from the reference `o` (labelled
    `ref`), or None when they are equal: rows sorted, columns sorted by
    name, exact values."""
    o = o.sort_index(axis=1); s = s.sort_index(axis=1)
    if list(o.columns) != list(s.columns):
        return f"columns {ref}={list(o.columns)} spark={list(s.columns)}"
    o = o.sort_values(list(o.columns)).reset_index(drop=True)
    s = s.sort_values(list(s.columns)).reset_index(drop=True)
    if len(o) != len(s):
        return f"rows {ref}={len(o)} spark={len(s)}"
    bad = []
    for c in o.columns:
        oc, sc = o[c], s[c]
        if str(oc.dtype) != str(sc.dtype):
            bad.append(f"{c}: dtype {oc.dtype} vs {sc.dtype}")
            continue
        try:
            eq = (oc.values == sc.values) | (oc.isna().values & sc.isna().values)
            if not eq.all():
                i = int((~eq).argmax())
                bad.append(f"{c}: row {i} {ref}={oc.iloc[i]!r} spark={sc.iloc[i]!r}")
        except Exception as e:
            bad.append(f"{c}: compare error {e}")
    return "; ".join(bad[:4]) if bad else None


def main():
    args = sys.argv[1:]
    baseline = None
    if "--baseline" in args:
        i = args.index("--baseline")
        baseline = args[i + 1]
        del args[i:i + 2]
    sf_dir, out_dir = args[0], args[1]
    only = set(args[2:])
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):  # Spark-written directory table (e.g. sf1)
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    sqls = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for qdir in sorted(glob.glob(f"{out_dir}/*/")):
        name = qdir.rstrip("/").split("/")[-1]
        if only and name not in only:
            continue
        files = glob.glob(f"{qdir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        s = duckdb.sql(f"SELECT * FROM '{qdir}/*.parquet'").fetchdf()
        if name not in sqls:
            if not len(s):
                print(f"FAIL(empty) {name}: 0 rows"); n_fail += 1
            elif baseline is None:
                print(f"pass(rows-only) {name}: {len(s)} rows"); n_pass += 1
            elif not glob.glob(f"{baseline}/{name}/*.parquet"):
                print(f"FAIL(baseline) {name}: no baseline dump"); n_fail += 1
            else:
                b = duckdb.sql(f"SELECT * FROM '{baseline}/{name}/*.parquet'").fetchdf()
                why = mismatch(b, s, ref="baseline")
                if why:
                    print(f"FAIL(baseline) {name}: {why}"); n_fail += 1
                else:
                    print(f"pass(baseline) {name}: {len(s)} rows x {len(s.columns)} cols"); n_pass += 1
            continue
        try:
            o = con.execute(sqls[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}"); n_fail += 1; continue
        why = mismatch(o, s)
        if why:
            print(f"FAIL {name}: {why}"); n_fail += 1
        else:
            print(f"pass {name}: {len(o)} rows x {len(o.columns)} cols"); n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
