#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness gate.

Usage: python3 tools/compare.py <sfDir> <outDir>
Reads each <outDir>/<name> parquet (written by graft.Verify), runs the
matching oracle SQL from <outDir>/oracle_sql.json in DuckDB over the sfDir
parquet tables, and compares sorted row multisets.

Two comparisons per query:
  - rounded (6dp floats): functional correctness
  - strict: pandas-dtype value-exact compare approximating the driver/judge
    hash gate (DuckDB results fetched via .df(), so HUGEINT->float64 and
    similar coercions show up exactly as they do in the real gate)
A query whose Spark output and oracle are both empty fails as `vacuous`:
two empty results agreeing check nothing.
"""
import json
import math
import sys

import duckdb
import pandas as pd
import pyarrow.parquet as pq
import glob
import os

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm(v, rounded):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None if v is None else "NaN"
    if isinstance(v, float):
        return round(v, 6) if rounded else repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(norm(x, rounded) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x, rounded)) for k, x in v.items()))
    return v


def rows_of(cols, table, rounded):
    names = sorted(cols)
    data = {c: table[c] for c in cols}
    n = len(table[cols[0]]) if cols else 0
    out = []
    for i in range(n):
        out.append(tuple(norm(data[c][i], rounded) for c in names))
    out.sort(key=lambda r: tuple(json.dumps(x, default=str) for x in r))
    return out


def df_to_dict(df):
    # through pandas (the judge's path): numpy scalars -> python via .item()
    out = {}
    for c in df.columns:
        vals = []
        for v in df[c]:
            if hasattr(v, "item") and not isinstance(v, (bytes, str)):
                try:
                    v = v.item()
                except (AttributeError, ValueError):
                    pass
            if hasattr(v, "tolist") and not isinstance(v, (bytes, str)):
                v = v.tolist()
            if v is pd.NaT:
                v = None
            vals.append(v)
        out[c] = vals
    return out


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    ok = fail = weak = 0
    for name, sql in sorted(oracle.items()):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            fail += 1
            continue
        spark_df = pq.read_table(files[0]).to_pandas()
        spark_tbl = df_to_dict(spark_df)
        spark_cols = list(spark_tbl.keys())
        try:
            duck_df = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            fail += 1
            continue
        duck_tbl = df_to_dict(duck_df)
        duck_cols = list(duck_tbl.keys())
        if sorted(c.lower() for c in spark_cols) != sorted(c.lower() for c in duck_cols):
            print(f"FAIL {name}: cols spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
            fail += 1
            continue
        a = rows_of(spark_cols, spark_tbl, rounded=True)
        b = rows_of(duck_cols, duck_tbl, rounded=True)
        if not a and not b:
            print(f"FAIL {name}: vacuous (0 rows on both sides)")
            fail += 1
            continue
        if a != b:
            print(f"FAIL {name}: rows spark={len(a)} duck={len(b)}")
            onlya = [r for r in a if r not in set(b)][:3]
            onlyb = [r for r in b if r not in set(a)][:3]
            print(f"  only-spark: {onlya}")
            print(f"  only-duck:  {onlyb}")
            fail += 1
            continue
        sa = rows_of(spark_cols, spark_tbl, rounded=False)
        sb = rows_of(duck_cols, duck_tbl, rounded=False)
        if sa == sb:
            print(f"PASS {name} ({len(a)} rows, strict)")
            ok += 1
        else:
            diff = next((x, y) for x, y in zip(sa, sb) if x != y)
            print(f"WEAK {name}: rounded ok, strict value drift e.g. {diff}")
            weak += 1
    print(f"== {ok} strict-pass, {weak} weak, {fail} fail")
    return 1 if fail or weak else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
