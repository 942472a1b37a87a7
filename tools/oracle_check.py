#!/usr/bin/env python3
"""Dev-only tooling (NOT part of the shipped Scala library).

Replicates the driver's t2 correctness gate locally: reads each
`<out>/<name>` parquet produced by `graft.Verify`, runs the matching
DuckDB oracle SQL from `<out>/oracle_sql.json` against the same
parquet tables, sorts columns by name, and compares values. Every
operator listed in `<out>/verify_failures.json` (its Spark run raised)
counts as a FAIL.

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir>
"""
import json
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.reset_index(drop=True)


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)

    import glob
    import os
    failures = {}
    if os.path.exists(f"{out_dir}/verify_failures.json"):
        with open(f"{out_dir}/verify_failures.json") as f:
            failures = json.load(f)
    names = sorted(set(
        os.path.basename(p) for p in glob.glob(f"{out_dir}/*")
        if os.path.isdir(p)) | set(failures))
    n_fail = 0
    for name in names:
        if name in failures:
            print(f"FAIL  {name}: spark run failed: {failures[name]}")
            n_fail += 1
            continue
        try:
            got = norm(pd.read_parquet(f"{out_dir}/{name}"))
        except Exception as e:
            print(f"FAIL  {name}: cannot read spark result: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"skip  {name}: no oracle (rows={len(got)})")
            continue
        try:
            want = norm(con.execute(oracles[name]).fetchdf())
        except Exception as e:
            print(f"FAIL  {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        problems = []
        if len(got) != len(want):
            problems.append(f"rows {len(got)} vs {len(want)}")
        if list(got.columns) != list(want.columns):
            problems.append(f"cols {list(got.columns)} vs {list(want.columns)}")
        if not problems:
            if list(got.dtypes.astype(str)) != list(want.dtypes.astype(str)):
                problems.append(
                    "dtypes " + str(list(zip(got.columns,
                                             got.dtypes.astype(str),
                                             want.dtypes.astype(str)))))
            try:
                gs = got.astype(str)
                ws = want.astype(str)
                if not gs.equals(ws):
                    neq = (gs != ws)
                    bad = neq.any(axis=1)
                    idx = list(got.index[bad])[:3]
                    problems.append(
                        f"values differ in {int(bad.sum())} rows, first at "
                        f"{idx}:\n  got:  {got.loc[idx].to_dict('records')}\n"
                        f"  want: {want.loc[idx].to_dict('records')}")
            except Exception as e:
                problems.append(f"compare error: {e}")
        if problems:
            n_fail += 1
            print(f"FAIL  {name}: " + "; ".join(problems))
        else:
            print(f"ok    {name} (rows={len(got)})")
    print(f"\n{len(names) - n_fail}/{len(names)} queries match")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
