#!/usr/bin/env python3
"""Local driver-style correctness check (verification tooling only; the
engine itself is the Scala library).

Usage: python3 tools/check.py <outDir-from-Verify> <sfDir> [query ...]

Mimics the driver: for each query, read outDir/<name> parquet (Spark
result), run oracleSql[name] in DuckDB against the sfDir parquet tables,
sort columns by name, sort rows, and compare values. A key with no output
directory (Verify ran a subset, or the query failed there — see Verify's
stderr) prints SKIP and is counted apart; only FAIL makes the exit non-zero.
"""
import json
import math
import os
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def cells_equal(a, b) -> bool:
    # STRICT, driver-style: the driver hashes stringified values, so an
    # int64 "5" vs a float64 "5.0" (e.g. DuckDB SUM->HUGEINT->float64)
    # is a mismatch even though the numbers are equal. Mirror that.
    import numpy as np
    fa = isinstance(a, (float, np.floating))
    fb = isinstance(b, (float, np.floating))
    if fa != fb:
        return False
    if fa:
        if math.isnan(a) and math.isnan(b):
            return True
        return repr(float(a)) == repr(float(b))
    return str(a) == str(b)


def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)

    con = duckdb.connect()
    # Large-SF soaks: the default config OOM'd (qc3) and filled the cwd
    # disk with spill (qd14) at sf1. Insertion order is irrelevant here
    # (canon() sorts rows), dropping it lets DuckDB stream large
    # materializations; spill goes to GRAFT_DUCK_TMP if set (e.g. a
    # volume with headroom); GRAFT_DUCK_MEM caps/raises the memory
    # budget explicitly.
    con.execute("SET preserve_insertion_order=false")
    if os.environ.get("GRAFT_DUCK_TMP"):
        con.execute(f"SET temp_directory='{os.environ['GRAFT_DUCK_TMP']}'")
    if os.environ.get("GRAFT_DUCK_MEM"):
        con.execute(f"SET memory_limit='{os.environ['GRAFT_DUCK_MEM']}'")
    # soak runs launch one DuckDB per query on a shared box — capping
    # threads keeps the heaviest oracle (qd21's nested 3-pass chain)
    # from amplifying contention into an error
    if os.environ.get("GRAFT_DUCK_THREADS"):
        con.execute(f"SET threads={int(os.environ['GRAFT_DUCK_THREADS'])}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    n_pass = n_fail = n_skip = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        if not os.path.isdir(f"{out_dir}/{name}"):
            print(f"SKIP {name}: not run")
            n_skip += 1
            continue
        try:
            got = canon(pd.read_parquet(f"{out_dir}/{name}"))
            want = canon(con.execute(sql).fetchdf())
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}")
            n_fail += 1
            continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}")
            n_fail += 1
            continue
        bad = None
        for i in range(len(got)):
            for c in got.columns:
                if not cells_equal(got[c].iloc[i], want[c].iloc[i]):
                    bad = (i, c, got[c].iloc[i], want[c].iloc[i])
                    break
            if bad:
                break
        if bad:
            print(f"FAIL {name}: row {bad[0]} col {bad[1]}: spark={bad[2]!r} oracle={bad[3]!r}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail, {n_skip} skip ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
