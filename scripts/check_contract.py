"""Mimic the driver's correctness check: run each queries() entry on Spark
and its oracle_sql() on DuckDB at sf0.01; compare rows/schema/values."""
import math, os, sys
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from ocr_obsidian_spark.session import build_session

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
only = sys.argv[2].split(",") if len(sys.argv) > 2 else None

spark = build_session("contract-check", "local[8]", shuffle_partitions=16)
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

qs = entrymod.queries()
oracles = entrymod.oracle_sql()

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif "datetime" in str(df[c].dtype):
            df[c] = df[c].astype(str)
        elif df[c].dtype.kind == "f":
            df[c] = df[c].astype("float64").round(6)
        elif df[c].dtype.kind in "iu":
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype).startswith(("Int", "UInt")):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)

fails = []
for name, fn in qs.items():
    if only and name not in only:
        continue
    try:
        sdf = fn(spark, SF).toPandas()
    except Exception as e:
        fails.append((name, f"SPARK ERROR: {type(e).__name__}: {str(e)[:200]}"))
        print(f"[FAIL-spark] {name}: {str(e)[:200]}")
        continue
    if name not in oracles:
        print(f"[rows-only] {name}: {len(sdf)} rows, cols={sorted(sdf.columns)}")
        if len(sdf) == 0 and name != "noop":
            fails.append((name, "rows-only query returned 0 rows"))
        continue
    try:
        odf = con.execute(oracles[name]).fetchdf()
    except Exception as e:
        fails.append((name, f"ORACLE ERROR: {str(e)[:200]}"))
        print(f"[FAIL-oracle] {name}: {str(e)[:200]}")
        continue
    a, b = canon(sdf), canon(odf)
    if list(a.columns) != list(b.columns):
        fails.append((name, f"schema: spark={list(a.columns)} duck={list(b.columns)}"))
        print(f"[FAIL-schema] {name}: spark={list(a.columns)} duck={list(b.columns)}")
        continue
    if len(a) != len(b):
        fails.append((name, f"rowcount: spark={len(a)} duck={len(b)}"))
        print(f"[FAIL-rows] {name}: spark={len(a)} duck={len(b)}")
        continue
    if not a.equals(b):
        neq = (a != b) & ~(a.isna() & b.isna())
        bad = neq.any(axis=1)
        n_bad = int(bad.sum())
        print(f"[FAIL-vals] {name}: {n_bad}/{len(a)} rows differ")
        print("  spark:", a[bad].head(3).to_dict("records"))
        print("  duck :", b[bad].head(3).to_dict("records"))
        fails.append((name, f"{n_bad} rows differ"))
        continue
    print(f"[OK] {name}: {len(a)} rows")

print()
print("FAILURES:" if fails else "ALL MATCH")
for n, m in fails:
    print(" -", n, ":", m)
spark.stop()
sys.exit(1 if fails else 0)
