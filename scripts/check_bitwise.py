#!/usr/bin/env python3
"""Bit-level float64 comparison between Spark gate output and the DuckDB oracle.

Usage: python3 scripts/check_bitwise.py <sfDir> <outDir> [query ...]

Stricter companion to check_oracle.py: every DOUBLE column must match the
oracle bit-for-bit (numpy view as uint64), so any representation the driver's
hasher could pick (bytes, repr, struct pack) is guaranteed to agree. Run this
after changing anything about numeric output representation.
"""
import json
import sys

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    con = duckdb.connect()
    # spill-enabled: heavy oracle replays (c9's per-day brute-force chain
    # at sf1) exceed the default in-memory budget; a temp dir lets DuckDB
    # spill instead of dying on a bad allocation
    con.execute("SET temp_directory='/tmp/duck_spill'")
    con.execute("SET memory_limit='48GB'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        exp = canon(con.execute(sql).df())
        try:
            got = canon(con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df())
        except Exception as e:
            print(f"FAIL {name}: spark output missing: {e}")
            n_fail += 1
            continue
        if list(exp.columns) != list(got.columns) or exp.shape != got.shape:
            print(f"FAIL {name}: shape/columns differ exp={exp.shape} got={got.shape}")
            n_fail += 1
            continue
        bad = []
        for c in exp.columns:
            e, g = exp[c], got[c]
            if e.dtype == np.float64 or g.dtype == np.float64:
                if e.dtype != np.float64 or g.dtype != np.float64:
                    bad.append(f"{c}: dtype exp={e.dtype} got={g.dtype}")
                    continue
                eb = e.to_numpy().view(np.uint64)
                gb = g.to_numpy().view(np.uint64)
                neq = eb != gb
                if neq.any():
                    i = int(np.argmax(neq))
                    bad.append(
                        f"{c}: {int(neq.sum())} rows differ bitwise, e.g. row {i} "
                        f"exp={e.iloc[i]!r} got={g.iloc[i]!r}")
            else:
                neq = ~(e.astype(str).eq(g.astype(str)))
                if neq.any():
                    i = int(np.argmax(neq.to_numpy()))
                    bad.append(f"{c}: {int(neq.sum())} rows differ, e.g. row {i} "
                               f"exp={e.iloc[i]!r} got={g.iloc[i]!r}")
        if bad:
            print(f"FAIL {name}:")
            for b in bad:
                print(f"  {b}")
            n_fail += 1
        else:
            # flag any surviving decimal surface — the driver's hasher treats
            # decimal representation differently per reader; it should be gone
            deci = [c for c in exp.columns
                    if exp[c].dtype == object and len(exp) and
                    type(exp[c].iloc[0]).__name__ == "Decimal"]
            tag = f" [WARN decimal cols: {deci}]" if deci else ""
            print(f"PASS {name} ({len(exp)} rows, bitwise){tag}")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
