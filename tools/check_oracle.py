#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB oracle compare.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Reads each query's parquet dump and runs the matching oracle SQL in
DuckDB over the same sf tables; compares after sorting columns by name
and rows by all columns (value-level, with small float tolerance shown
separately from exact match).
"""
import json
import sys

import duckdb
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def main() -> None:
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for tbl in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents",
    ]:
        con.execute(
            f"CREATE VIEW {tbl} AS SELECT * FROM '{sf_dir}/{tbl}.parquet'"
        )
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_exact = n_close = n_fail = 0
    for name, sql in sorted(oracle.items()):
        try:
            got = pd.read_parquet(f"{out_dir}/{name}")
            want = con.execute(sql).df()
            g, w = normalize(got), normalize(want)
            if list(g.columns) != list(w.columns):
                print(f"FAIL {name}: columns {list(g.columns)} vs {list(w.columns)}")
                n_fail += 1
                continue
            if len(g) != len(w):
                print(f"FAIL {name}: rows {len(g)} vs {len(w)}")
                n_fail += 1
                continue
            if g.equals(w):
                print(f"OK   {name}: exact ({len(g)} rows)")
                n_exact += 1
                continue
            # check dtype-insensitive / tolerance equality
            ok = True
            for c in g.columns:
                a, b = g[c], w[c]
                if a.dtype.kind in "fc" or b.dtype.kind in "fc":
                    import numpy as np
                    if not np.allclose(
                        a.astype(float), b.astype(float), rtol=0, atol=0, equal_nan=True
                    ):
                        bad = (a.astype(float) - b.astype(float)).abs().max()
                        print(f"  col {c}: max abs diff {bad}")
                        ok = False
                else:
                    if not a.astype(str).equals(b.astype(str)):
                        diffs = (a.astype(str) != b.astype(str))
                        print(f"  col {c}: {diffs.sum()} differing values, e.g. "
                              f"{a[diffs].head(3).tolist()} vs {b[diffs].head(3).tolist()}")
                        ok = False
            if ok:
                print(f"OK*  {name}: value-equal, dtype differs ({len(g)} rows)")
                n_close += 1
            else:
                print(f"FAIL {name}: value mismatch")
                n_fail += 1
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            n_fail += 1
    print(f"\nexact={n_exact} value-equal={n_close} fail={n_fail}")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
