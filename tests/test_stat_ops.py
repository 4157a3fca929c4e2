"""Known-answer + cross-engine tests for the statistical-testing and
semantics-parity batch: exact Mann–Whitney rank-sum, chi-square
independence and NULL aggregate semantics.
All expectations are hand-computed.
"""

import datetime as dt

import duckdb
import pytest

from trek_spark.spark import ops as O
from trek_spark.spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("pytest-stat", master="local[4]", shuffle_partitions=8)
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


_EV_SCHEMA = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double")


# -------------------------------------------------------- events_rank_sum

def test_rank_sum_tie_averaged_ranks(spark, tmp_path):
    """click = {1, 2, 2}, view = {2, 3}. Sorted [1,2,2,2,3]: the tie
    group at 2 takes average rank 3, so R_click = 1+3+3 = 7 (doubled
    14), R_view = 3+5 = 8 (doubled 16). U2_click = 14 − 3·4 = 2,
    U2_view = 16 − 2·3 = 10, and 2 + 10 = 2·3·2 (identity holds)."""
    rows = [(1, dt.datetime(2024, 1, 1), 1, "click", 1.0),
            (2, dt.datetime(2024, 1, 1), 1, "click", 2.0),
            (3, dt.datetime(2024, 1, 1), 1, "click", 2.0),
            (4, dt.datetime(2024, 1, 1), 1, "view", 2.0),
            (5, dt.datetime(2024, 1, 1), 1, "view", 3.0),
            (6, dt.datetime(2024, 1, 1), 1, "error", 9.0)]
    _write(spark, tmp_path, "events", _EV_SCHEMA, rows)
    out = _cross_check(spark, tmp_path, "events_rank_sum", ["events"])
    r = out.iloc[0]
    assert (int(r["n1"]), int(r["n2"]), int(r["u2_click"]),
            int(r["u2_view"]), int(r["identity_ok"])) == (3, 2, 2, 10, 1)


# ----------------------------------------------- events_chi2_independence

def test_chi2_known_2x2(spark, tmp_path):
    """2×2 with counts A:(30,10), B:(10,30) over Monday/Tuesday:
    every cell's term is (2400−1600)²/(80·40·40) = 5.0 → chi2_e6 =
    4·5,000,000 = 20,000,000, dof = 1. 2024-01-01 is a Monday (wd 0
    under the fixed-epoch arithmetic)."""
    rows = []
    eid = 0
    for ttype, wd_counts in (("A", (30, 10)), ("B", (10, 30))):
        for wd, cnt in enumerate(wd_counts):
            for _ in range(cnt):
                eid += 1
                rows.append((eid, dt.datetime(2024, 1, 1 + wd), 1,
                             ttype, 1.0))
    _write(spark, tmp_path, "events", _EV_SCHEMA, rows)
    out = _cross_check(spark, tmp_path, "events_chi2_independence",
                       ["events"])
    r = out.iloc[0]
    assert (int(r["chi2_e6"]), int(r["n_cells"]), int(r["dof"])) == (
        20_000_000, 4, 1)


def test_chi2_independent_is_zero(spark, tmp_path):
    """Perfectly proportional table → every O·N = R·C → chi2 0."""
    rows = []
    eid = 0
    for ttype, base in (("A", 2), ("B", 4)):
        for wd in (0, 1):
            for _ in range(base * (wd + 1)):
                eid += 1
                rows.append((eid, dt.datetime(2024, 1, 1 + wd), 1,
                             ttype, 1.0))
    _write(spark, tmp_path, "events", _EV_SCHEMA, rows)
    out = _cross_check(spark, tmp_path, "events_chi2_independence",
                       ["events"])
    assert int(out.iloc[0]["chi2_e6"]) == 0


# --------------------------------------------------- events_null_semantics

def test_null_group_and_skipped_nulls(spark, tmp_path):
    """user_id 4 lands in the NULL group (its own group, not dropped);
    value 0.30 → cents 30 → v = nullif(30 % 10, 0) = NULL, skipped by
    sum/min/max/count(v)/distinct but counted by count(*)."""
    rows = [
        (1, dt.datetime(2024, 1, 1), 0, "click", 0.03),   # nk 0, v 3
        (2, dt.datetime(2024, 1, 1), 0, "click", 0.30),   # nk 0, v NULL
        (3, dt.datetime(2024, 1, 1), 0, "click", 0.13),   # nk 0, v 3 (dup)
        (4, dt.datetime(2024, 1, 1), 4, "click", 0.07),   # nk NULL, v 7
        (5, dt.datetime(2024, 1, 1), 9, "click", 0.20),   # nk NULL, v NULL
    ]
    _write(spark, tmp_path, "events", _EV_SCHEMA, rows)
    out = _cross_check(spark, tmp_path, "events_null_semantics",
                       ["events"])
    byk = {str(r["nk"]): r for _, r in out.iterrows()}
    assert len(byk) == 2
    k0 = [v for k, v in byk.items() if k in ("0", "0.0")][0]
    knull = [v for k, v in byk.items() if k not in ("0", "0.0")][0]
    assert (int(k0["n_all"]), int(k0["n_nonnull"]),
            int(float(k0["sum_v"])), int(k0["n_distinct"])) == (3, 2, 6, 1)
    assert (int(knull["n_all"]), int(knull["n_nonnull"]),
            int(float(knull["sum_v"]))) == (2, 1, 7)
