"""Known-answer + cross-engine tests for batch 22: exact-rational gap
interpolation (with the deterministic gap injection), lag
autocorrelation and out-of-orderness.
"""

import datetime as dt

import duckdb
import pytest

from trek_spark.spark import ops as O
from trek_spark.spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("pytest-frontier", master="local[4]",
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


def test_gap_interpolation_exact_rationals(spark, tmp_path):
    """Observed days x=0 (100c), x=3 (dropped by the %7 injection —
    its 99999 value must NOT leak into the series), x=4 (500c):
    interpolated days 1,2,3 carry num/den = (800,4),(1200,4),(1600,4)
    — the exact line through the KEPT endpoints."""
    rows = [(1, dt.datetime(1995, 1, 1), 1, "click", 1.00),   # x=0
            (2, dt.datetime(1995, 1, 4), 1, "click", 999.99),  # x=3: dropped
            (3, dt.datetime(1995, 1, 5), 1, "click", 5.00)]   # x=4
    _write(spark, tmp_path, "events",
           "event_id long, ts timestamp, user_id long, "
           "event_type string, value double", rows)
    out = _cross_check(spark, tmp_path, "events_gap_interpolation",
                       ["events"])
    got = {int(r["day_idx"]): (int(r["interp_num"]), int(r["interp_den"]))
           for _, r in out.iterrows()}
    assert got == {1: (800, 4), 2: (1200, 4), 3: (1600, 4)}


def test_autocorrelation_perfect_period2(spark, tmp_path):
    """Daily counts alternating 1,3,1,3,1,3: lag-2 pairs are identical
    series (r=+1: num² = vx·vy, num>0); lag-1 pairs anti-align (r=−1).
    Exact integers make the ±1 cases verifiable without float sqrt:
    num_k² == var_x·var_y at both lags with opposite signs."""
    import datetime as dt
    rows = []
    eid = 0
    for day in range(6):
        n = 1 if day % 2 == 0 else 3
        for _ in range(n):
            eid += 1
            rows.append((eid, dt.datetime(1995, 1, 1 + day), 1,
                         "click", 1.0))
    _write(spark, tmp_path, "events",
           "event_id long, ts timestamp, user_id long, "
           "event_type string, value double", rows)
    out = _cross_check(spark, tmp_path, "events_autocorrelation",
                       ["events"])
    byk = {int(r["k"]): (int(r["n_pairs"]), int(r["pearson_num"]),
                         int(r["var_x"]), int(r["var_y"]))
           for _, r in out.iterrows()}
    n1, num1, vx1, vy1 = byk[1]
    assert n1 == 5 and num1 < 0 and num1 * num1 == vx1 * vy1   # r = -1
    n2, num2, vx2, vy2 = byk[2]
    assert n2 == 4 and num2 > 0 and num2 * num2 == vx2 * vy2   # r = +1
    assert set(byk) == {1, 2, 3, 4, 5}  # lags 6,7 have no pairs


def test_out_of_orderness_brute_force(spark, tmp_path):
    """Pure-Python brute force of the same spec (md5-permuted arrival,
    footrule, running-max lateness) over a small planted set — the
    third implementation besides Spark and DuckDB."""
    import datetime as dt
    import hashlib
    rows = [(eid, dt.datetime(2024, 1, 1, 0, eid % 60), eid % 2, "c", 1.0)
            for eid in range(1, 21)]
    _write(spark, tmp_path, "events",
           "event_id long, ts timestamp, user_id long, "
           "event_type string, value double", rows)
    out = _cross_check(spark, tmp_path, "events_out_of_orderness",
                       ["events"])
    got = {int(r["user_id"]): (int(r["footrule"]),
                               int(r["max_lateness_s"]), int(r["n_late"]))
           for _, r in out.iterrows()}

    from collections import defaultdict
    byu = defaultdict(list)
    for eid, ts, uid, _t, _v in rows:
        byu[uid].append((eid, int(ts.timestamp())))
    for uid, evs in byu.items():
        arr = sorted(evs, key=lambda e: (
            hashlib.md5(str(e[0]).encode()).hexdigest(), e[0]))
        tim = sorted(evs, key=lambda e: (e[1], e[0]))
        r_arr = {e[0]: i for i, e in enumerate(arr)}
        r_tim = {e[0]: i for i, e in enumerate(tim)}
        footrule = sum(abs(r_arr[k] - r_tim[k]) for k in r_arr)
        run_max, max_late, n_late = None, 0, 0
        for eid, t in arr:
            if run_max is not None and run_max > t:
                late = run_max - t
                max_late = max(max_late, late)
                n_late += 1
            run_max = t if run_max is None else max(run_max, t)
        assert got[uid] == (footrule, max_late, n_late), uid
