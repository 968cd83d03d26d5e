"""Local simulation of the driver's correctness gate: run each
queries()[name] on Spark and oracle_sql()[name] on DuckDB at sf0.01,
compare row count, column names, and order-insensitive exact values.

Usage: python scripts/oracle_check.py [name ...]
"""

from __future__ import annotations

import math
import sys

sys.path.insert(0, ".")

import duckdb

import __spark_entry__ as entry_mod
from ocr_poc_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return [cols[i] for i in order], out


def main(names=None):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    spark = get_spark("oracle_check")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = names or list(qs)
    n_fail = 0
    for name in names:
        df = qs[name](spark, SF_DIR)
        srows = df.collect()
        scols = df.columns
        if name not in oracles:
            print(f"{name:24s} rows-only: {len(srows)} rows")
            continue
        try:
            res = con.execute(oracles[name])
            drows = res.fetchall()
            dcols = [d[0] for d in res.description]
        except Exception as e:
            print(f"{name:24s} ORACLE SQL ERROR: {e}")
            n_fail += 1
            continue
        sc, sr = norm_rows(scols, [tuple(r) for r in srows])
        dc, dr = norm_rows(dcols, drows)
        ok_cols = sc == dc
        ok_count = len(sr) == len(dr)
        ok_vals = sr == dr
        status = "OK" if (ok_cols and ok_count and ok_vals) else "MISMATCH"
        if status != "OK":
            n_fail += 1
            print(f"{name:24s} {status} cols={ok_cols} count={len(sr)}/{len(dr)} vals={ok_vals}")
            if not ok_cols:
                print(f"  spark cols: {sc}\n  duck  cols: {dc}")
            if ok_cols:
                for a, b in zip(sr, dr):
                    if a != b:
                        print(f"  first diff:\n   spark={a}\n   duck ={b}")
                        break
                if len(sr) != len(dr):
                    sset = set(map(repr, sr)); dset = set(map(repr, dr))
                    only_s = list(sset - dset)[:2]; only_d = list(dset - sset)[:2]
                    print(f"   only-spark={only_s}\n   only-duck ={only_d}")
        else:
            print(f"{name:24s} OK ({len(sr)} rows)")
    print(f"failures: {n_fail}")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main(sys.argv[1:] or None)
