#!/usr/bin/env python3
"""Cross-check the analytics fingerprints against the DuckDB oracle.

The analytics workload checks every query result against a committed
fingerprint (`analytics_fingerprints.tsv`). Recording those fingerprints
also dumps the generated tables and each query's result as parquet:

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 1 \\
        --trace 1 --record perfbench/analytics_fingerprints.tsv
    python3 perfbench/crosscheck.py perfbench/analytics_fingerprints.tsv.dump

This script runs each query's `SparkEntry.oracleSql` in DuckDB over the
same tables and compares it with the dumped Spark result: columns sorted
by name, rows sorted by every column, values compared exactly. Queries
without an oracle are reported as such. Exit code 1 on any mismatch.
Needs the duckdb, pandas and pyarrow Python packages; the benchmark run
itself does not.
"""
import glob
import json
import os
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents"]


def canon(df):
    df = df[sorted(df.columns)]
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def check_scale(scale_dir, oracle):
    con = duckdb.connect()
    for t in TABLES:
        files = os.path.join(scale_dir, "data", f"{t}.parquet", "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{files}')")
    bad = 0
    for q in sorted(os.listdir(os.path.join(scale_dir, "results"))):
        tag = f"{os.path.basename(scale_dir)}/{q}"
        if q not in oracle:
            print(f"SKIP {tag}: no oracle SQL")
            continue
        files = sorted(glob.glob(os.path.join(scale_dir, "results", q, "*.parquet")))
        got = canon(pd.concat([pd.read_parquet(f) for f in files]))
        exp = canon(con.execute(oracle[q]).df())
        try:
            if list(got.columns) != list(exp.columns):
                raise AssertionError(f"columns {list(got.columns)} vs {list(exp.columns)}")
            pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=True)
            print(f"OK   {tag} ({len(got)} rows)")
        except AssertionError as e:
            print(f"FAIL {tag}: {str(e)[:400]}")
            bad += 1
    return bad


def main(dump):
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = sum(check_scale(os.path.join(dump, d), oracle)
              for d in sorted(os.listdir(dump)) if os.path.isdir(os.path.join(dump, d)))
    print(f"{bad} mismatches")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
