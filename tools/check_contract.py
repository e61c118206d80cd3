"""Local mirror of the driver's correctness gate: run every queries()
entry through Spark AND its oracle_sql() through DuckDB at sf0.01,
compare row count + (order-insensitive) value content with columns
sorted by name. Usage: python tools/check_contract.py [sf_dir] [name...]
"""

from __future__ import annotations

import sys

import duckdb
import pandas as pd

sys.path.insert(0, ".")

import __spark_entry__ as entrymod
from course_scraper_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(9)
        elif "datetime" in str(df[c].dtype):
            df[c] = df[c].astype(str)
        elif df[c].dtype == bool or str(df[c].dtype) == "boolean":
            df[c] = df[c].astype(str)
        else:
            try:
                df[c] = df[c].astype("int64")
            except (ValueError, TypeError):
                df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="contract-check")
    try:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

        qs, oracles = entrymod.queries(), entrymod.oracle_sql()
        n_pass = n_fail = n_rowsonly = 0
        for name, fn in qs.items():
            if only and name not in only:
                continue
            try:
                got = fn(spark, sf_dir).toPandas()
            except Exception as e:
                print(f"FAIL {name}: spark error {type(e).__name__}: {str(e)[:200]}")
                n_fail += 1
                continue
            if name not in oracles:
                print(f"ROWS {name}: {len(got)} rows (no oracle)")
                n_rowsonly += 1
                continue
            try:
                ref = con.execute(oracles[name]).df()
            except Exception as e:
                print(f"FAIL {name}: duckdb error {type(e).__name__}: {str(e)[:200]}")
                n_fail += 1
                continue
            if len(got) != len(ref):
                print(f"FAIL {name}: rowcount {len(got)} vs {len(ref)}")
                n_fail += 1
                continue
            cg, cr = canon(got), canon(ref)
            if list(cg.columns) != list(cr.columns):
                print(f"FAIL {name}: columns {list(cg.columns)} vs {list(cr.columns)}")
                n_fail += 1
                continue
            if not cg.equals(cr):
                diff_mask = ~(cg == cr).all(axis=1)
                print(f"FAIL {name}: {int(diff_mask.sum())}/{len(cg)} rows differ")
                print("  spark:", cg[diff_mask].head(3).to_dict("records"))
                print("  duckdb:", cr[diff_mask].head(3).to_dict("records"))
                n_fail += 1
                continue
            print(f"PASS {name}: {len(got)} rows")
            n_pass += 1
        print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    finally:
        spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
