"""Spark-vs-DuckDB correctness gate: every OPS builder against its oracle.

Usage: python tools/oracle_check.py [sf_dir] [op ...]
Exits 1 when any op fails or mismatches its DuckDB oracle.
"""
import os, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
import pandas as pd

from trek_spark.spark.session import get_spark
from trek_spark.spark.ops import OPS

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
only = sys.argv[2:] or None

spark = get_spark("oracle-check", master="local[8]")
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)

fails = []
for name, (fn, sql) in OPS.items():
    if only and name not in only: continue
    t0 = time.time()
    try:
        sdf = fn(spark, SF_DIR).toPandas()
    except Exception as e:
        print(f"{name:28s} SPARK-ERROR {repr(e)[:160]}")
        fails.append(name); continue
    t1 = time.time()
    if sql is None:
        print(f"{name:28s} rows-only  rows={len(sdf)}  {t1-t0:.1f}s")
        continue
    try:
        odf = con.sql(sql).df()
    except Exception as e:
        print(f"{name:28s} ORACLE-ERROR {repr(e)[:160]}")
        fails.append(name); continue
    a, b = canon(sdf), canon(odf)
    ok_shape = a.shape == b.shape and list(a.columns) == list(b.columns)
    ok = ok_shape and a.equals(b)
    if not ok and ok_shape:
        # tolerant numeric compare
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, rtol=1e-9, atol=1e-9)
            ok = True
        except Exception:
            ok = False
    status = "OK " if ok else "MISMATCH"
    print(f"{name:28s} {status} spark_rows={len(sdf)} oracle_rows={len(odf)}  {t1-t0:.1f}s")
    if not ok:
        fails.append(name)
        if ok_shape:
            neq = (a != b) & ~(a.isna() & b.isna())
            cols = [c for c in a.columns if neq[c].any()]
            print("   diff cols:", cols[:5])
            for c in cols[:2]:
                idx = neq[c].idxmax()
                print("   e.g.", c, "spark=", a[c][idx], "oracle=", b[c][idx])
        else:
            print("   spark cols:", list(a.columns), "oracle cols:", list(b.columns))
print("FAILS:", fails if fails else "none")
spark.stop()
sys.exit(1 if fails else 0)
