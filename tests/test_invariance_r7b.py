"""Partitioning-invariance checks for this session's order-sensitive
op batches (the test_closing_ops pattern, extended): statistical tests
built on ordered-cumsum windows, the KN/Zipf term pipelines, native
session windows, and the embedding-curation argmins must not shift
when the shuffle width changes arrival order.
"""

import pytest

from trek_spark.spark import ops as O
from trek_spark.spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("pytest-inv7b", master="local[4]", shuffle_partitions=8)
    yield s


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


@pytest.mark.parametrize("name", [
    "events_ks_drift",
    "events_rank_sum",
    "events_chi2_independence",
    "events_session_window_native",
    "terms_kn_bigram_probs",
    "terms_zipf_slope",
    "events_linreg_exact",
    "semantic_dedup_medoid",
    "embedding_label_noise",
])
def test_partitioning_invariance_r7b(spark, name):
    """Shuffle width 1 vs 7: grouping and arrival order change, the
    result must not (integer sums, total-order windows, deterministic
    tiebreaks — every claim these ops' docstrings make)."""
    fn = O.OPS[name][0]
    sf = "/root/testdata/sf0.001"
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        a = _canon(fn(spark, sf).toPandas())
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        b = _canon(fn(spark, sf).toPandas())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert a.equals(b), f"{name} shifted under a different shuffle width"


@pytest.mark.parametrize("name", [
    "docs_duplicate_ngram_fraction",
    "ccnet_perplexity_buckets",
    "transcript_pack_masked",
    "dedup_keep_best_quality",
    "quality_classifier",
    "train_export_manifest",
    "transcript_cross_conv_echo",
    "quality_classifier_eval",
    "sft_export_manifest",
])
def test_partitioning_invariance_r8_late(spark, name):
    """The r8 late-wave ops under shuffle width 1 vs 7: hashed-gram df
    joins, tercile cuts, shard-local packing windows, cluster winner
    windows and the frozen-threshold classifier must all be pure
    functions of the data, not of arrival order."""
    fn = O.OPS[name][0]
    sf = "/root/testdata/sf0.001"
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        a = _canon(fn(spark, sf).toPandas())
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        b = _canon(fn(spark, sf).toPandas())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert a.equals(b), f"{name} shifted under a different shuffle width"
