#!/usr/bin/env python3
"""Local pre-check of the driver's correctness gate.

Reads the Verify output dir (per-query parquet + oracle_sql.json), runs
each oracle SQL in DuckDB over the same sf dir, and compares: schema
(column names), row count, and values (columns sorted by name, rows
sorted by all columns). A query output with no oracle entry fails too,
so a query cannot drop out of the count unnoticed. Not the driver's exact hasher, but strictly
stronger than "probably fine".

Usage: python3 tools/check_oracle.py /root/testdata/sf0.01 /tmp/verify_out
"""
import json
import math
import os
import sys

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes: dates -> iso strings, floats stay floats
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime") or df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def values_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures = 0
    for name, sql in sorted(oracle.items()):
        try:
            got = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:
            print(f"FAIL {name}: no spark output ({e})")
            failures += 1
            continue
        try:
            exp = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle sql error: {e}")
            failures += 1
            continue
        if sorted(got.columns) != sorted(exp.columns):
            print(f"FAIL {name}: columns spark={sorted(got.columns)} oracle={sorted(exp.columns)}")
            failures += 1
            continue
        if len(got) != len(exp):
            print(f"FAIL {name}: rows spark={len(got)} oracle={len(exp)}")
            failures += 1
            continue
        # Driver-strictness dtype gate: the driver hashes FORMATTED values,
        # so a DuckDB HUGEINT (rendered float64 by the pandas bridge, e.g.
        # "308.0") against a Spark int64 ("308") hash-mismatches even when
        # the numbers are identical. Flag int-vs-float dtype splits here so
        # the local gate catches missing CAST(... AS BIGINT) in oracle SQL.
        dtype_bad = None
        for c in got.columns:
            gk = str(got[c].dtype)
            ek = str(exp[c].dtype)
            g_int = gk.startswith("int") or gk.startswith("Int")
            e_float = ek.startswith("float")
            if g_int and e_float:
                dtype_bad = (c, gk, ek)
                break
        if dtype_bad:
            c, gk, ek = dtype_bad
            print(f"FAIL {name}: dtype split col={c} spark={gk} oracle={ek} "
                  f"(likely DuckDB HUGEINT - add CAST(... AS BIGINT) to the oracle)")
            failures += 1
            continue
        g, e = canon(got), canon(exp)
        bad = None
        for c in g.columns:
            gv, ev = g[c].tolist(), e[c].tolist()
            for i, (x, y) in enumerate(zip(gv, ev)):
                if not values_equal(x, y):
                    bad = (c, i, x, y)
                    break
            if bad:
                break
        if bad:
            c, i, x, y = bad
            print(f"FAIL {name}: value mismatch col={c} row={i} spark={x!r} oracle={y!r}")
            failures += 1
        else:
            print(f"OK   {name}: {len(got)} rows")
    orphans = sorted(n for n in os.listdir(out_dir)
                     if n != "oracle_sql.json" and n[0] not in "._"
                     and n not in oracle)
    for name in orphans:
        print(f"FAIL {name}: spark output has no oracle_sql.json entry")
    failures += len(orphans)
    total = len(oracle) + len(orphans)
    print(f"\n{total - failures}/{total} queries match")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
