"""Known-answer + cross-engine tests for the burstiness op.
"""

import datetime as dt

import duckdb
import pytest

from trek_spark.spark import ops as O
from trek_spark.spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("pytest-seq", master="local[4]", shuffle_partitions=8)
    yield s


def _write(spark, path, table, schema, rows):
    (spark.createDataFrame(rows, schema)
     .write.mode("overwrite").parquet(f"{path}/{table}.parquet"))


def _cross_check(spark, path, name, tables):
    fn, sql = O.OPS[name]
    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{path}/{t}.parquet/*.parquet'")
    a = fn(spark, str(path)).toPandas()
    b = con.sql(sql).df()
    a = a.reindex(sorted(a.columns), axis=1).astype(str)
    b = b.reindex(sorted(b.columns), axis=1).astype(str)
    a = a.sort_values(by=list(a.columns)).reset_index(drop=True)
    b = b.sort_values(by=list(b.columns)).reset_index(drop=True)
    assert a.equals(b), f"{name}: Spark vs DuckDB mismatch\n{a}\n{b}"
    return a


def test_burstiness_constant_vs_bursty(spark, tmp_path):
    """Constant daily counts → Fano numerator 0; a bursty type (counts
    1 and 9 over two days) → num = 2·82 − 100 = 64, den = 2·10."""
    rows = []
    eid = 0
    for day in (1, 2):
        for _ in range(3):
            eid += 1
            rows.append((eid, dt.datetime(2024, 1, day), 1, "flat", 1.0))
    for day, n in ((1, 1), (2, 9)):
        for _ in range(n):
            eid += 1
            rows.append((eid, dt.datetime(2024, 1, day), 1, "bursty", 1.0))
    _write(spark, tmp_path, "events",
           "event_id long, ts timestamp, user_id long, "
           "event_type string, value double", rows)
    out = _cross_check(spark, tmp_path, "events_burstiness", ["events"])
    got = {r["event_type"]: (int(r["n_days"]), int(r["fano_num"]),
                             int(r["fano_den"]))
           for _, r in out.iterrows()}
    assert got == {"flat": (2, 0, 12), "bursty": (2, 64, 20)}
