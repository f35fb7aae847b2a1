#!/usr/bin/env python3
"""Local emulation of the driver's t2 correctness gate.

Usage: python3 tools/selfcheck.py <outDir> <sfDir>

Reads each <outDir>/<name>/ parquet (written by graft.Verify), runs the
matching oracle SQL from <outDir>/oracle_sql.json in DuckDB against the
base tables in <sfDir>, sorts columns by name (the driver's protocol),
and compares cell-by-cell. Exact match required — any diff is printed.
A FAIL line is followed by the query's own exception when
<outDir>/verify_errors.json (written by graft.Verify) records one.
"""
import json
import os
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)
    return df


def main(out_dir: str, sf_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    errors_path = f"{out_dir}/verify_errors.json"
    errors = json.load(open(errors_path)) if os.path.exists(errors_path) else {}

    def note(name):
        if name in errors:
            e = errors[name]
            print(f"    verify error: {e['class']}: " + " ".join(e["message"].split())[:500])

    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        try:
            spark_df = norm(con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df())
            duck_df = norm(con.execute(sql).df())
        except Exception as e:
            print(f"FAIL {name}: load/exec error: {e}")
            note(name)
            n_bad += 1
            continue
        if list(spark_df.columns) != list(duck_df.columns):
            print(f"FAIL {name}: columns spark={list(spark_df.columns)} "
                  f"duck={list(duck_df.columns)}")
            note(name)
            n_bad += 1
            continue
        if len(spark_df) != len(duck_df):
            print(f"FAIL {name}: rows spark={len(spark_df)} duck={len(duck_df)}")
            note(name)
            n_bad += 1
            continue
        # KIND check first: the driver's hash protocol is value-FORMAT
        # sensitive (BIGINT 4045 vs DOUBLE 4045.0 hash-differ even though
        # == says equal — this exact gap let ann_int8_topk slip in r5).
        # Width may differ (int32 vs int64), but integer-vs-float or
        # numeric-vs-string kind mismatches are driver failures.
        # booleans are their own bucket: the driver hashes `true` vs `1`
        # differently, so a Spark BOOLEAN vs DuckDB BIGINT 0/1 drift must
        # fail HERE even though True == 1 value-compares equal
        KIND = {"i": "int", "u": "int", "b": "bool", "f": "float",
                "O": "obj", "M": "ts", "m": "td", "S": "obj", "U": "obj"}
        kind_bad = [
            c for c in spark_df.columns
            if KIND.get(spark_df[c].dtype.kind) != KIND.get(duck_df[c].dtype.kind)
            # all-NULL columns surface as object/float64 artifacts — skip
            and not (spark_df[c].isnull().all() or duck_df[c].isnull().all())]
        if kind_bad:
            print(f"FAIL {name}: dtype-kind mismatch (driver hash protocol "
                  f"is format-sensitive): "
                  + ", ".join(f"{c}: spark={spark_df[c].dtype} "
                              f"duck={duck_df[c].dtype}" for c in kind_bad))
            note(name)
            n_bad += 1
            continue
        # exact compare; dtypes may differ (int32 vs int64) — compare values
        diff_cols = []
        for c in spark_df.columns:
            a, b = spark_df[c], duck_df[c]
            try:
                eq = (a.astype(object).where(pd.notnull(a), None)
                      == b.astype(object).where(pd.notnull(b), None))
                # both-NULL cells compare equal (NaN == NaN is False)
                same = (eq | (pd.isnull(a) & pd.isnull(b))).all()
            except Exception:
                same = False
            if not same:
                diff_cols.append(c)
        if diff_cols:
            print(f"FAIL {name}: value diffs in {diff_cols}")
            note(name)
            for c in diff_cols[:3]:
                mask = ~(spark_df[c].astype(object).where(pd.notnull(spark_df[c]), None)
                         == duck_df[c].astype(object).where(pd.notnull(duck_df[c]), None))
                idx = list(spark_df.index[mask])[:5]
                for i in idx:
                    print(f"    row {i} col {c}: spark={spark_df[c][i]!r} "
                          f"duck={duck_df[c][i]!r}")
            n_bad += 1
        else:
            print(f"OK   {name} ({len(spark_df)} rows)")
            n_ok += 1
    print(f"\n{n_ok} ok, {n_bad} failed")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
