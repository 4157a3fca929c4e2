"""Record-window contract for __spark_entry__ (SURVEY §11).

The recording harness keeps AT MOST 50 queries() entries per run (empirical:
r5 recorded 50 of 54, r6 recorded 50 of 63 — a count cap, not a time
budget). ``queries()`` exposes exactly the explicit ``_WINDOW`` list, in
order. Every other OPS entry must have a caller: a job, a bench, a
non-ops module, a job-parity test, or a kept op whose source names it.
An op with none of these is dead code and must be removed, not parked.
The one exception is ``_AWAITING_RETIREMENT``: uncalled ops that still
carry their own unit tests and leave in a later change. That list may
only shrink.
"""
import ast
import glob
import os
import re

import __spark_entry__ as E
from trek_spark.spark.ops import OPS

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_OPS_PY = os.path.join(_ROOT, "trek_spark", "spark", "ops.py")
# Files whose mention of an op (by name or q_* function) makes it a caller
# root.
_CALLER_GLOBS = ("jobs/*.py", "bench.py", "bench_extra.py",
                 "perfbench/**/*.py", "trek_spark/**/*.py")
# Ops a job-parity test (tests/test_train_export_job.py) compares a job's
# output against.
_PARITY_REFERENCES = {"train_export_manifest"}
# Ops with no caller that are kept, with their unit tests, until a later
# change retires them; the tier-1 suite may lose only a few tests per
# change. Nothing may be added here: a new op needs a caller.
_AWAITING_RETIREMENT = {
    # event-stream exhibits
    "events_anomaly_mad", "events_burstiness", "events_changepoint_cusum",
    "events_gap_interpolation", "events_out_of_orderness",
    "events_rolling_median", "events_salted_topk",
    "events_seasonal_naive_error", "events_two_step_transitions",
    # statistical-test and LM-smoothing exhibits
    "events_autocorrelation", "events_chi2_independence",
    "events_gini_concentration", "events_ks_drift", "events_linreg_exact",
    "events_rank_sum", "lineitem_benford", "terms_conditional_entropy",
    "terms_continuation_counts", "terms_good_turing",
    "terms_kn_bigram_probs", "terms_zipf_slope",
    # Spark-4 surface demos
    "docs_chunks_udtf", "events_hll_merge", "events_median_by_type",
    "events_null_semantics", "events_session_window_native",
    "events_string_agg", "events_transpose", "events_try_arithmetic",
    "events_xml_parse", "orders_pipe_syntax", "orders_shuffle_hash_join",
    "part_collated_brands",
    # audit-only dedup, embedding and curation ops
    "docs_column_profile", "docs_inverted_index", "embedding_near_dup",
    "quality_classifier_eval", "referential_integrity_audit",
    "source_mix_sample", "tables_fingerprint", "transcript_cross_conv_echo",
}


def _words(text):
    return set(re.findall(r"\b[A-Za-z_]\w*\b", text))


def _kept_ops():
    """Caller roots plus every op reachable from a kept op's source."""
    src = open(_OPS_PY).read()
    lines = src.splitlines(keepends=True)
    tree = ast.parse(src)
    segments = {}
    ops_node = None
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names = [node.name]
        elif isinstance(node, ast.Assign):
            names = [n.id for t in node.targets for n in ast.walk(t)
                     if isinstance(n, ast.Name)]
        elif isinstance(node, ast.AnnAssign):
            names = [node.target.id]
        else:
            continue
        first = min([node.lineno] + [d.lineno for d in
                                     getattr(node, "decorator_list", [])])
        for name in names:
            segments[name] = (segments.get(name, "")
                              + "".join(lines[first - 1:node.end_lineno]))
        if names == ["OPS"]:
            ops_node = node
    uses = {name: _words(seg) & segments.keys() - {"OPS"}
            for name, seg in segments.items()}
    op_defs = {key.value: {n.id for n in ast.walk(value)
                           if isinstance(n, ast.Name)}
               for key, value in zip(ops_node.value.keys,
                                     ops_node.value.values)}
    assert set(op_defs) == set(OPS)

    caller_text = set()
    for pattern in _CALLER_GLOBS:
        for path in glob.glob(os.path.join(_ROOT, pattern), recursive=True):
            if os.path.abspath(path) != _OPS_PY:
                caller_text |= _words(open(path).read())
    kept = set(E._WINDOW) | _PARITY_REFERENCES | {
        op for op, defs in op_defs.items()
        if op in caller_text or defs & caller_text}
    while True:
        reached, stack = set(), [d for op in kept for d in op_defs[op]]
        while stack:
            name = stack.pop()
            if name not in reached:
                reached.add(name)
                stack.extend(uses.get(name, ()))
        grown = kept | {op for op, defs in op_defs.items() if defs & reached}
        if grown == kept:
            return kept
        kept = grown


def test_queries_fit_driver_record_cap():
    q = E.queries()
    assert len(q) <= E._DRIVER_RECORD_CAP


def test_window_is_the_50_oldest_parked_ops_in_order():
    """The window keeps the 50 names of the former oldest-parked list, in
    the same order, now spelled out as ``_WINDOW``."""
    names = list(E.queries())
    assert names == E._WINDOW
    assert len(names) == E._DRIVER_RECORD_CAP
    assert names[0] == "pii_redact"  # job-wired gates lead


def test_window_ops_all_registered_with_oracles():
    o = E.oracle_sql()
    for name in E.queries():
        assert name in OPS and OPS[name][1] is not None
        assert name in o


def test_every_op_is_a_caller_root_or_reached_from_one():
    """No dead ops: each OPS entry is in the window, named by a job, a
    bench or a non-ops module, a job-parity reference, or named in the
    source of another kept op (transitively through helpers). Ops
    awaiting retirement are exempt, but only while they stay uncalled."""
    uncalled = set(OPS) - _kept_ops()
    dead = sorted(uncalled - _AWAITING_RETIREMENT)
    assert not dead, f"{len(dead)} op(s) without a caller: {dead}"
    stale = sorted(_AWAITING_RETIREMENT - uncalled)
    assert not stale, f"drop from _AWAITING_RETIREMENT: {stale}"


def test_oracle_keys_subset_of_queries():
    q = E.queries()
    o = E.oracle_sql()
    assert set(o) <= set(q)
    for name in q:
        if name in OPS and OPS[name][1] is not None:
            assert name in o
        else:
            assert name not in o


def test_rows_only_entries_kept_importable_for_r10():
    for name, fn in E._ROWS_ONLY_RECORDED.items():
        assert callable(fn), name
    for name, fn in E._R8_ROWS_ONLY.items():
        assert callable(fn), name
