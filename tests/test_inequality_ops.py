"""Known-answer + cross-engine tests for batch 28: conditional bigram
entropy (frozen-log exactness) and the Gini pair (uniform → 0,
concentrated → near (n−1)/n).
"""

import datetime as dt

import duckdb
import pytest

from trek_spark.spark import ops as O
from trek_spark.spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("pytest-ineq", master="local[4]", shuffle_partitions=8)
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


def test_conditional_entropy_known_values(spark, tmp_path):
    """'a b a c' ×1: after 'a' the next word is b or c (1 bit); the
    other contexts are deterministic. c12: (a,b)=1,(b,a)=1,(a,c)=1 →
    c1(a)=2, c1(b)=1. Terms: (a,b): 1·(flog2−flog1)=1000; (a,c):
    1000; (b,a): 0 → nh = 2000 over 3 bigrams → 666 mb/bigram.
    A fully deterministic corpus ('x y x y') pins H = 0."""
    _write(spark, tmp_path, "documents",
           "doc_id long, text string",
           [(1, "a b a c")])
    out = _cross_check(spark, tmp_path, "terms_conditional_entropy",
                       ["documents"])
    r = out.iloc[0]
    assert (int(r["n_bigrams"]), int(r["nh_millibits"]),
            int(r["h_mb_per_bigram"])) == (3, 2000, 666)

    _write(spark, tmp_path, "documents",
           "doc_id long, text string", [(1, "x y x y x y")])
    out2 = _cross_check(spark, tmp_path, "terms_conditional_entropy",
                        ["documents"])
    assert int(out2.iloc[0]["nh_millibits"]) == 0


def test_gini_uniform_zero_and_concentrated(spark, tmp_path):
    """Four equal values → gini_num 0. One holder of everything
    (values 0,0,0,12): num = 2·48 − 5·12 = 36, den = 48 → G = 0.75 =
    (n−1)/n — the single-holder maximum."""
    rows = [(i, dt.datetime(2024, 1, 1), 1, "flat", 5.0)
            for i in range(1, 5)]
    rows += [(10, dt.datetime(2024, 1, 1), 1, "conc", 0.0),
             (11, dt.datetime(2024, 1, 1), 1, "conc", 0.0),
             (12, dt.datetime(2024, 1, 1), 1, "conc", 0.0),
             (13, dt.datetime(2024, 1, 1), 1, "conc", 0.12)]
    _write(spark, tmp_path, "events",
           "event_id long, ts timestamp, user_id long, "
           "event_type string, value double", rows)
    out = _cross_check(spark, tmp_path, "events_gini_concentration",
                       ["events"])
    got = {r["event_type"]: (int(r["n"]), int(r["gini_num"]),
                             int(r["gini_den"]))
           for _, r in out.iterrows()}
    assert got["flat"][1] == 0
    n, num, den = got["conc"]
    assert (n, num, den) == (4, 36, 48)
