"""Simulate the driver's correctness pass EXACTLY over the exposed
queries()/oracle_sql() window: run each entry in queries() order at
sf0.01, compare against the DuckDB oracle where one exists (rows +
schema + sorted-value hash convention), record rows-only otherwise,
and time everything — the local rehearsal of CORRECTNESS_r{N}.json."""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
import pandas as pd

import __spark_entry__ as E
from trek_spark.spark.session import get_spark

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

spark = get_spark("driver-sim", master="local[8]")
con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")


def canon(df: pd.DataFrame) -> pd.DataFrame:
    # the driver hashes SORTED STRINGIFIED values (columns sorted by
    # name), so dtype width (int32 vs int64) is invisible but a float64
    # rendering of an integer ("5.0" vs "5") flips the hash — stringify
    # everything to reproduce exactly that sensitivity
    df = df.reindex(sorted(df.columns), axis=1)
    out = df.astype(str)
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


qs = E.queries()
oracles = E.oracle_sql()
t_start = time.time()
record = {}
fails = []
for name, fn in qs.items():
    t0 = time.time()
    try:
        sdf = fn(spark, SF_DIR).toPandas()
    except Exception as exc:  # noqa: BLE001 — the record must be complete
        print(f"{name:32s} SPARK-ERROR {exc!r}"[:160])
        fails.append(name)
        record[name] = {"err": repr(exc)[:200]}
        continue
    dt = time.time() - t0
    if name not in oracles:
        record[name] = {"rows": len(sdf), "sec": round(dt, 1)}
        print(f"{name:32s} rows-only rows={len(sdf):6d} {dt:6.1f}s")
        continue
    odf = con.sql(oracles[name]).df()
    a, b = canon(sdf), canon(odf)
    ok = (a.shape == b.shape and list(a.columns) == list(b.columns)
          and a.equals(b))
    record[name] = {"rows": len(sdf), "ok": ok, "sec": round(dt, 1)}
    print(f"{name:32s} {'OK ' if ok else 'MISMATCH'} rows={len(sdf):6d} "
          f"{dt:6.1f}s")
    if not ok:
        fails.append(name)
total = time.time() - t_start
print(f"\n{len(qs)} entries, {len(fails)} failures, "
      f"{total:.0f}s total window cost")
print("FAILS:", fails or "none")
with open("/tmp/driver_sim.json", "w") as fh:
    json.dump(record, fh, indent=1)
sys.exit(1 if fails else 0)
