"""Known-answer + cross-engine tests for the train/test split-leakage
audit and MAD robust outliers.
"""

import datetime as dt

import duckdb
import pytest

from trek_spark.spark import ops as O
from trek_spark.spark.session import get_spark

_T0 = dt.datetime(2024, 1, 1)


@pytest.fixture(scope="module")
def spark():
    s = get_spark("pytest-median-leakage", master="local[4]",
                  shuffle_partitions=8)
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


# ----------------------------------------------------- split_leakage_audit

def test_split_leakage_flags_cross_split_neardups(spark, tmp_path):
    """doc 0 is train, doc 8 is test (md5-tick precomputed); both
    carry identical text (J=1) -> one cross-split pair. docs 1,2
    (both train) share another text -> one same-split pair with
    n_cross=0. A singleton doc must produce nothing."""
    dup_a = "the quick brown fox jumps over the lazy dog again today"
    dup_b = "pack my box with five dozen liquor jugs every single day"
    rows = [(0, dup_a, "en", "web", len(dup_a)),
            (8, dup_a, "en", "web", len(dup_a)),
            (1, dup_b, "en", "web", len(dup_b)),
            (2, dup_b, "en", "web", len(dup_b)),
            (3, "completely unrelated text about volcanic geology",
             "en", "web", 48)]
    _write(spark, tmp_path, "documents",
           "doc_id long, text string, lang string, source string, "
           "n_chars long", rows)
    out = _cross_check(spark, tmp_path, "split_leakage_audit",
                       ["documents"])
    got = {(r["split_lo"], r["split_hi"]): (r["n_pairs"], r["n_cross"])
           for _, r in out.iterrows()}
    assert got == {("test", "train"): ("1", "1"),
                   ("train", "train"): ("1", "0")}


# ------------------------------------------------------ events_anomaly_mad

def test_mad_flags_planted_outlier_zscore_misses(spark, tmp_path):
    """Type 'a': cents 998,1000,1000,1002,9999 -> med=1000 (k=3),
    devs sorted 0,0,2,2,8999 -> MAD=2, gate dev>6 flags ONLY the
    9999 row. The outlier itself participates in both medians (no
    peeking) — robustness is what keeps med/MAD pinned."""
    vals = [9.98, 10.00, 10.00, 10.02, 99.99]
    rows = [(i, _T0, 1, "a", vals[i], None) for i in range(5)]
    _write(spark, tmp_path, "events",
           "event_id long, ts timestamp, user_id long, "
           "event_type string, value double, props string", rows)
    out = _cross_check(spark, tmp_path, "events_anomaly_mad", ["events"])
    assert len(out) == 1
    r = out.iloc[0]
    assert (r["cents"], r["med"], r["mad"]) == ("9999", "1000", "2")


def test_mad_zero_degeneracy_flags_any_deviation(spark, tmp_path):
    """Constant distribution (5,5,5) plus one 7: MAD=0, so ANY
    nonzero deviation is an outlier — the known MAD degeneracy, and
    the behaviour both engines must share exactly."""
    vals = [0.05, 0.05, 0.05, 0.07]
    rows = [(i, _T0, 1, "b", vals[i], None) for i in range(4)]
    _write(spark, tmp_path, "events",
           "event_id long, ts timestamp, user_id long, "
           "event_type string, value double, props string", rows)
    out = _cross_check(spark, tmp_path, "events_anomaly_mad", ["events"])
    assert len(out) == 1
    assert out.iloc[0]["cents"] == "7"
