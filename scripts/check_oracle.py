#!/usr/bin/env python3
"""Local self-check of SparkEntry.queries vs their DuckDB oracles.

Mimics the driver's correctness gate: for each query result parquet in
<outDir> (written by `sbt "runMain graft.Verify <sfDir> <outDir>"`),
run the matching SQL from oracle_sql.json in DuckDB over the same
tables, then compare after sorting columns by name.

Usage: check_oracle.py <outDir> <sfDir> [query ...]
"""
import json
import sys
import glob
import os

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def load_spark(outdir, name):
    files = glob.glob(os.path.join(outdir, name, "*.parquet"))
    if not files:
        return None
    return duckdb.sql(
        "SELECT * FROM read_parquet(" + repr(files) + ")").df()


def main():
    outdir, sfdir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    with open(os.path.join(outdir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)

    n_pass = n_fail = 0
    for name, sql in sorted(oracles.items()):
        if only and name not in only:
            continue
        got = load_spark(outdir, name)
        if got is None:
            print(f"FAIL {name}: no spark result written")
            n_fail += 1
            continue
        try:
            want = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        g = got.reindex(sorted(got.columns), axis=1)
        w = want.reindex(sorted(want.columns), axis=1)
        if list(g.columns) != list(w.columns):
            print(f"FAIL {name}: columns {list(g.columns)} != {list(w.columns)}")
            n_fail += 1
            continue
        if len(g) != len(w):
            print(f"FAIL {name}: rows {len(g)} != {len(w)}")
            n_fail += 1
            continue
        bad = None
        for c in g.columns:
            a, b = g[c].reset_index(drop=True), w[c].reset_index(drop=True)
            try:
                # nullable dtypes compare NA to a value as NA, which
                # .all() would skip: count it as a mismatch
                eq = ((a == b) | (a.isna() & b.isna())).fillna(False)
                # The driver compares a hash of FORMATTED values, so
                # -0.0 vs 0.0 (equal as doubles) is a failure there;
                # reproduce that strictness here (q_embed_pool lesson).
                # is_float_dtype also covers pandas' nullable Float64.
                if pd.api.types.is_float_dtype(a) and \
                        pd.api.types.is_float_dtype(b):
                    import numpy as np
                    eq &= ~(np.signbit(a.fillna(0.0).to_numpy(float)) ^
                            np.signbit(b.fillna(0.0).to_numpy(float)))
            except Exception:
                eq = a.astype(str) == b.astype(str)
            if not eq.all():
                i = int((~eq).idxmax())
                bad = (c, i, a[i], b[i], a.dtype, b.dtype)
                break
            if str(a.dtype) != str(b.dtype):
                print(f"  note {name}.{c}: dtype {a.dtype} vs {b.dtype}")
        if bad:
            c, i, av, bv, at, bt = bad
            print(f"FAIL {name}: col {c} row {i}: spark={av!r}({at}) duck={bv!r}({bt})")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(g)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail, "
          f"{len(set(SparkQueries(outdir)) - set(oracles))} rows-only ==")


def SparkQueries(outdir):
    return [os.path.basename(d) for d in glob.glob(os.path.join(outdir, "*"))
            if os.path.isdir(d)]


if __name__ == "__main__":
    main()
