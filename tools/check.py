#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: run DuckDB on each
oracle_sql.json entry against the sf parquet tables and compare with the
Verify-dumped parquet (rows sorted, columns sorted by name, exact values).

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [--json OUT.json]

--json writes a per-query machine-readable artifact (the committed
CORRECTNESS_SF01_r{N}.json shape: pass flag + row count + error note).

Exits 1 if any query fails, or if oracle_sql.json names no query at all.
"""
import json
import sys
import warnings

warnings.filterwarnings("ignore")
import glob
import duckdb
import pandas as pd
import numpy as np

sf_dir, out_dir = sys.argv[1], sys.argv[2]
json_out = None
if "--json" in sys.argv:
    json_out = sys.argv[sys.argv.index("--json") + 1]
results = {}

con = duckdb.connect()
for p in glob.glob(f"{sf_dir}/*.parquet"):
    name = p.split("/")[-1].removesuffix(".parquet")
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

n_pass = n_fail = 0
for name, sql in sorted(oracle.items()):
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark output")
        results[name] = {"pass": False, "rows": None, "err": "no spark output"}
        n_fail += 1
        continue
    try:
        got = canon(pd.concat([pd.read_parquet(f) for f in files]))
        want = canon(con.execute(sql).fetchdf())
    except Exception as e:
        print(f"FAIL {name}: {e}")
        results[name] = {"pass": False, "rows": None, "err": str(e)[:300]}
        n_fail += 1
        continue
    if list(got.columns) != list(want.columns):
        print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}")
        results[name] = {"pass": False, "rows": len(got), "err": "schema mismatch"}
        n_fail += 1
        continue
    if len(got) != len(want):
        print(f"FAIL {name}: rows {len(got)} != {len(want)}")
        results[name] = {"pass": False, "rows": len(got),
                         "err": f"rows {len(got)} != {len(want)}"}
        n_fail += 1
        continue
    ok = True
    for c in got.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        try:
            same = (pd.Series(a).astype(object).fillna("<NA>") ==
                    pd.Series(b).astype(object).fillna("<NA>")).all()
        except Exception:
            same = False
        if not same:
            ok = False
            mism = [(i, a[i], b[i]) for i in range(len(a))
                    if (a[i] != b[i]) and not (pd.isna(a[i]) and pd.isna(b[i]))][:3]
            print(f"FAIL {name}: col {c} (dtypes {got[c].dtype}/{want[c].dtype}) e.g. {mism}")
    if ok:
        n_pass += 1
        print(f"PASS {name} ({len(got)} rows)")
        results[name] = {"pass": True, "rows": len(got), "err": None}
    else:
        n_fail += 1
        results[name] = {"pass": False, "rows": len(got), "err": "value mismatch"}

print(f"\n{n_pass} pass / {n_fail} fail")
checked = n_pass + n_fail
if not checked:
    print(f"FAIL: {out_dir}/oracle_sql.json names no query, nothing was checked")
if json_out:
    with open(json_out, "w") as f:
        json.dump({"sf_dir": sf_dir, "n_pass": n_pass, "n_fail": n_fail,
                   "queries": results}, f, indent=1, sort_keys=True)
sys.exit(1 if n_fail or not checked else 0)
