"""Physical-plan audit: prints .explain("formatted") for the headline ops
and greps each plan for the properties the 100 TB design depends on
(pushed filters, pruned schemas, broadcast joins, single-shuffle aggs,
no Python row UDFs outside the fused extraction).

Writes BENCH/PLANS.md. Run: python tools/explain_audit.py [sf_dir]
"""

import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

AUDITS = {
    # op -> list of (required substring, why)
    "pricing_summary": [
        ("HashAggregate", "partial (map-side) aggregation before the shuffle"),
        ("PushedFilters: [IsNotNull(l_shipdate)",
         "date predicate pushed to the scan"),
    ],
    "region_revenue": [
        ("BroadcastHashJoin", "dims broadcast"),
    ],
    "latest_order_per_customer": [
        ("Window", "single window over one shuffle on the partition key"),
    ],
    "orders_rollup": [
        ("Expand", "grouping-set expansion inside ONE aggregation — no "
                   "per-subtotal extra pass"),
        ("Exchange", "single shuffle for all rollup levels"),
    ],
    "dedup_ngram_jaccard": [
        ("HashAggregate", "bucket-local pair generation (no self-join)"),
        ("Window", "hot-key cap is a window count (spill-safe) before "
                   "any collect_list"),
        ("Generate", "exactly 3 explodes — one shingle explode feeding "
                     "the window cap + two pair-gen explodes, all in one "
                     "linear chain: the hot-key cap re-evaluates nothing "
                     "(the extra scans are the tiny column-pruned sizes "
                     "branches for the id_a/id_b joins)", 3),
    ],
    "dedup_prefix_filter": [
        ("CartesianProduct", "candidate generation is an EQUI-join on "
                             "the prefix (df, shingle) struct (BHJ at "
                             "test SF, SMJ at scale) — never a "
                             "cartesian", 0),
        ("BroadcastNestedLoopJoin", "the p=p key is a join KEY, not a "
                                    "post-cross filter", 0),
        ("greatest(n", "length filter (5*min >= 4*max) inside the join "
                       "condition, pruning before the distinct shuffle"),
        ("ObjectHashAggregate", "one collect_list aggregate feeds "
                                "prefix AND verify sides (exchange "
                                "reuse dedupes it at runtime)"),
    ],
    "dedup_minhash_lsh": [
        ("Window", "hot-bucket cap before collect_list"),
        ("Scan parquet", "md5 signatures evaluated once", 1),
    ],
    "dedup_simhash_pairs": [
        ("Window", "hot-bucket cap before collect_list"),
        ("BroadcastHashJoin", "candidate pairs join signatures; "
                              "bands are equi-join buckets"),
    ],
    "ann_topk_ivf": [
        ("BroadcastHashJoin", "query set broadcast; probe is an equi-join"),
    ],
    "ann_topk_ivf_mp": [
        ("BroadcastHashJoin",
         "multi-probe cells broadcast; probe stays an equi-join"),
    ],
    "token_counts": [
        ("* Project", "codegen'd projection (the * prefix marks "
                      "whole-stage codegen) — JVM-side, no Python UDF"),
    ],
    "events_asof_join": [
        ("Window", "union-tag + running last(non-null) — the scalable "
                   "as-of: ONE shuffle on the key, no per-row subquery, "
                   "no range explosion"),
        ("Union", "both fact streams union before the single keyed "
                  "window (neither side broadcasts or re-shuffles)"),
    ],
    "events_sessionize": [
        ("Window", "lag + running sum number sessions in one keyed "
                   "window; the session rollup reuses the partitioning"),
        ("HashAggregate", "per-session aggregate is map-side partial "
                          "after the window"),
    ],
    "docs_repetition_ratio": [
        ("Scan parquet", "pure per-row column expressions over one "
                         "scan; the only exchange is _t_wide's "
                         "scale-adaptive map widening (no-op on a "
                         "properly split input)"),
    ],
    "ann_topk_ivf_kmeans": [
        ("BroadcastHashJoin", "trained-cell probe stays an equi-join with "
                              "broadcast queries"),
        ("Scan parquet", "two scans total — corpus + the pruned/pushed "
                         "query side (same shape as the other IVF ops); "
                         "literal-centroid assignment adds NO extra scan "
                         "and no shuffle", 2),
    ],
    "render_conversations": [
        ("FlatMapGroupsInPandas", "conversation assembly renders in one "
                                  "Arrow batch per group"),
        ("Exchange", "EXACTLY one shuffle (conv_id) — turn ordering is an "
                     "in-batch sort, not a second window exchange", 1),
    ],
    "stratified_sample": [
        ("Scan parquet", "pure-function sample = ONE codegen'd filter "
                         "over one scan — no sampling pass, no shuffle",
         1),
        ("* Filter", "the md5-tick keep decision runs inside whole-stage "
                     "codegen (JVM, no Python)"),
    ],
    "benchmark_contamination": [
        ("BroadcastHashJoin", "benchmark shingles broadcast (eval sets "
                              "are small); corpus shingles never shuffle "
                              "against each other"),
        ("Window", "hot-shingle cap before the join"),
    ],
    "tfidf_top_terms": [
        ("BroadcastNestedLoopJoin", "the 1-row doc-count scalar is "
                                    "broadcast — computed once, not per "
                                    "row"),
        ("Window", "df via a window count on the term shuffle plus the "
                   "per-doc top-k rank — no df join-back", 2),
        ("WindowGroupLimit", "the rank<=3 filter is pushed into the "
                             "sort as a group-limit (partial + final)", 2),
        ("SortMergeJoin", "the former df-table join-back is gone", 0),
    ],
    "pii_redact": [
        ("Exchange", "pure per-row regexp scrub: ZERO shuffle — the "
                     "token_counts shape", 0),
        ("Scan parquet", "one scan; counts and redaction share it", 1),
    ],
    "dedup_boilerplate_lines": [
        ("BroadcastHashJoin", "the tiny boilerplate-line set broadcasts "
                              "back onto the line stream — no wide "
                              "shuffle keyed on hot lines"),
        ("HashAggregate", "line-df count-distinct with map-side partials"),
    ],
    "pack_token_budget": [
        ("Window", "running token sum per (lang, shard) partition"),
        ("rangepartitioning", "no GLOBAL sort: the window partitions on "
                              "(lang, shard), so ordering is local to "
                              "each shard", 0),
    ],
    "transcript_pack_masked": [
        ("Window", "running conv-token sum per shard partition"),
        ("rangepartitioning", "no GLOBAL sort: the packing window "
                              "partitions on shard, ordering is local",
         0),
    ],
    "docs_duplicate_ngram_fraction": [
        ("CartesianProduct", "gram df join is a hash equi-join on the "
                             "48-bit gram hash — never all-pairs", 0),
        ("BroadcastNestedLoopJoin", "ditto — no nested-loop fallback", 0),
    ],
    "ccnet_perplexity_buckets": [
        ("BroadcastExchange", "the tercile cuts (1 row) and the "
                              "4,096-bucket surprisal model broadcast "
                              "onto the corpus — the corpus itself "
                              "never re-sorts or re-shuffles for "
                              "bucketing"),
        ("rangepartitioning", "no global NTILE: bucket assignment is a "
                              "per-row CASE against broadcast cuts", 0),
    ],
    "dsir_importance": [
        ("BroadcastHashJoin", "the 1,024-row bucket-weight table "
                              "broadcasts onto the bigram stream — no "
                              "shuffle keyed on raw n-grams"),
        ("CartesianProduct", "never a cartesian", 0),
    ],
    "quality_classifier": [
        # the returned plan is the SCORING stage (training already ran
        # at build time through the bounded 4,096-bucket aggregation):
        # weights are a frozen literal array, so scoring is one codegen
        # stage over one scan
        ("Exchange", "scoring is a pure per-row JVM expression against "
                     "the frozen literal weight array: ZERO shuffle — "
                     "no join, no groupBy, nothing keyed on raw "
                     "tokens", 0),
        ("Scan ExistingRDD", "the returned frame reads the ONE "
                             "localCheckpointed scoring materialization "
                             "(r8 verdict advisory #1: train, threshold "
                             "and output share a single corpus pass)", 1),
        ("Scan parquet", "no second corpus scan in the output plan", 0),
        ("BatchEvalPython", "no Python anywhere — aggregate() over the "
                            "feature array is JVM-side", 0),
    ],
    "graph_pagerank": [
        ("CartesianProduct", "contribution routing is equi-joins on "
                             "node ids only", 0),
        ("HashAggregate", "per-iteration contributions combine map-side "
                          "before the dst shuffle"),
    ],
    "char_trigram_perplexity": [
        ("BroadcastHashJoin", "the 4,096-row trigram model broadcasts "
                              "back onto the trigram stream — no shuffle "
                              "keyed on raw trigrams"),
        ("CartesianProduct", "never a cartesian", 0),
    ],
    "within_doc_dedup_lines": [
        ("Exchange", "pure per-row array higher-order fns: ZERO "
                     "shuffle, ZERO join", 0),
        ("Scan parquet", "one scan feeds lines, dupes, and the cleaned "
                         "hash", 1),
    ],
    "lang_consistency_chunks": [
        ("Generate", "chunk explode (<=16 chunks/doc)"),
        ("CartesianProduct", "never a cartesian", 0),
        ("Window", "plurality pick is a greatest()+CASE cascade inside "
                   "the aggregate — no window, no second shuffle", 0),
    ],
    "gopher_quality_rules": [
        ("Exchange", "pure per-row column expressions: all five rules "
                     "in ONE codegen stage, zero shuffle", 0),
        ("Scan parquet", "one scan feeds every rule", 1),
    ],
    "dedup_passage_windows": [
        ("HashAggregate", "the (hash, doc) pre-group combines map-side "
                          "before its shuffle"),
        ("CartesianProduct", "never a cartesian", 0),
        ("Window", "cross-doc frequency is ONE window count on the "
                   "hash shuffle (r9: replaced the model join-back "
                   "that re-evaluated the md5/window subtree)", 1),
        ("SortMergeJoin", "no join anywhere — the model join-back is "
                          "gone", 0),
    ],
    "orders_unpivot": [
        ("Expand", "unpivot is a constant 3-way Expand — no join, no "
                   "UDF"),
        ("CartesianProduct", "never a cartesian", 0),
    ],
    "events_interval_self_join": [
        ("BroadcastNestedLoopJoin", "bucketing turns the interval "
                                    "theta-join into an EQUI-join — "
                                    "never a nested loop", 0),
        ("CartesianProduct", "never a cartesian", 0),
        ("Generate", "constant 2x probe-side bucket explode"),
    ],
    "orders_grouping_sets": [
        ("Expand", "both grouping sets expand in ONE pass (never one "
                   "scan per set)"),
        ("CartesianProduct", "never a cartesian", 0),
    ],
    "events_funnel": [
        ("Exchange", "three stacked window-mins + the rollup all reuse "
                     "ONE user_id partitioning — a single shuffle for "
                     "the whole funnel", 1),
        ("SortMergeJoin", "no join-back per stage", 0),
        ("BroadcastHashJoin", "no join-back per stage", 0),
    ],
    "embedding_random_projection": [
        ("Exchange", "md5-derived sign matrix is a pure function — "
                     "nothing broadcast, nothing joined, zero shuffle", 0),
        ("Scan parquet", "one scan, 8x64 multiply-adds per row in one "
                         "codegen stage", 1),
    ],
    "events_retention_cohorts": [
        ("Exchange", "window-min cohorting + the (cohort, offset) "
                     "rollup: exactly two shuffles, no per-user "
                     "join-back", 2),
        ("SortMergeJoin", "no join-back of a per-user table", 0),
        ("CartesianProduct", "never a cartesian", 0),
    ],
    "docs_bm25_search": [
        ("BroadcastHashJoin", "the 6-row query table and the 1-row "
                              "N/avgdl scalar broadcast onto the tf "
                              "stream"),
        ("CartesianProduct", "never a cartesian against the corpus", 0),
    ],
    "events_hopping_counts": [
        ("Expand", "F.window's constant 2x hop fan-out — no join, no "
                   "range comparison"),
        ("CartesianProduct", "never a cartesian", 0),
        ("SortMergeJoin", "hops come from Expand, not a window-table "
                          "join", 0),
    ],
    "bpe_pair_counts": [
        ("TakeOrderedAndProject", "rank<=32 over the global window is "
                                  "rewritten by the window-group-limit "
                                  "rule to a top-k — no full sort of "
                                  "the pair vocabulary"),
        ("Exchange", "two shuffles, both on bounded-vocabulary keys "
                     "(word freq, then pair counts)", 2),
    ],
    "events_value_percentiles": [
        ("Window", "percent_rank and cume_dist evaluated in ONE window "
                   "pass", 1),
        ("Exchange", "single shuffle on event_type", 1),
    ],
    "domain_doc_cap": [
        ("Exchange", "the rank window and the per-source aggregate "
                     "share the source partitioning — one shuffle "
                     "total", 1),
    ],
    "lineitem_quantiles_approx": [
        ("ObjectHashAggregate", "percentile_approx is a mergeable "
                                "sketch: partial-aggregated map-side "
                                "like any sum"),
        ("BroadcastHashJoin", "the 9-row probe set broadcasts back "
                              "over lineitem for the rank check"),
        ("CartesianProduct", "never a cartesian", 0),
    ],
    "dedup_reach_hops": [
        ("UnionLoop", "the recursive CTE executes as an iterative "
                      "union loop with the explicit depth guard"),
        ("LogicalRDD", "each recursion level joins the "
                       "localCheckpointed pair RDD (two refs per leg "
                       "since r9 materializes the pair list BEFORE the "
                       "symmetrizing union)"),
        ("Scan parquet", "the shingle job is never re-run per "
                         "recursion level: zero parquet scans anywhere "
                         "in the recursive plan", 0),
    ],
    "dedup_lsh_eval": [
        ("LeftSemi", "true positives via a semi join on the pair key"),
        ("CartesianProduct", "the single-row metric combine is "
                             "broadcast, never a cartesian", 0),
    ],
    "transcript_tool_runs": [
        ("Exchange", "both islands windows and both aggregations reuse "
                     "the conv_id partitioning — one shuffle total", 1),
    ],
    "events_variant_buckets": [
        ("variant_get(static_invoke", "VARIANT extraction is a JVM "
                                      "static invoke — no Python, no "
                                      "per-access JSON re-parse"),
        ("Exchange", "one shuffle for the bucket aggregation", 1),
    ],
    "dedup_containment": [
        ("Window", "hot-shingle document-frequency cap before any "
                   "collect_list (shared machinery with the jaccard "
                   "op)", 1),
        ("CartesianProduct", "pairs come from bucket-local explode, "
                             "never a cartesian", 0),
    ],
    "graph_kcore": [
        ("Exchange", "per-round lineage truncated by localCheckpoint: "
                     "the final plan is ONE degree aggregation over "
                     "the last peeled edge RDD (un-truncated, 3 "
                     "rounds showed 53 Exchanges — O(2^rounds) plan "
                     "doubling)", 1),
        ("Scan ExistingRDD", "reads the checkpointed survivor edges "
                             "once", 1),
    ],
    "orders_range_frame": [
        ("Window", "RANGE frame evaluates as one sliding-accumulator "
                   "window pass", 1),
        ("Exchange", "single shuffle on o_custkey", 1),
    ],
    "transcript_context_trim": [
        ("Exchange", "turn-ordering window, suffix-sum window and the "
                     "packing aggregate all reuse the conv_id "
                     "partitioning — one shuffle total", 1),
        ("Window", "two window passes (turn_idx, suffix sum) inside "
                   "that one exchange", 2),
    ],
    "embedding_power_iteration": [
        ("Scan ExistingRDD", "per-iteration localCheckpoint truncates "
                             "lineage: the final plan reads the "
                             "converged 64-row direction once", 1),
    ],
    "transcript_role_transitions": [
        ("Window", "turn_idx row_number (shared _transcript_turns "
                   "derivation) + the LAG pass — both inside the SAME "
                   "conv_id shuffle", 2),
        ("Exchange", "one conv_id shuffle feeding both windows + the "
                     "bounded 16-cell transition aggregation "
                     "(map-side partials)", 2),
    ],
    "docs_readability": [
        ("Exchange", "per-row integer scoring — Exchange-FREE like "
                     "text_quality", 0),
        ("Scan parquet", "one scan", 1),
    ],
    "events_value_zscores": [
        ("BroadcastHashJoin", "the |types|-row stats table broadcasts "
                              "back over the event stream for the "
                              "outlier gate"),
        ("CartesianProduct", "never a cartesian", 0),
    ],
    "events_window_distinct": [
        ("Window", "one running collect_set pass inside the "
                   "event_type shuffle", 1),
        ("Exchange", "single shuffle on event_type", 1),
        ("Filter", "the event_id decimation stays ABOVE the window "
                   "(the running set must see every row) but below "
                   "nothing else — exactly the scan's IsNotNull + "
                   "the post-window mod filter"),
    ],
    "dataset_split": [
        ("HashAggregate", "partial (map-side) aggregation before the "
                          "shuffle — the md5 tick is computed per row "
                          "pre-shuffle"),
        ("Exchange", "single shuffle on (source, split)", 1),
        ("Scan parquet", "one scan", 1),
    ],
    "events_scd2_intervals": [
        ("Window", "lag() and lead() are separate passes (lead runs "
                   "over the change rows only)", 2),
        ("Exchange", "both windows share ONE user_id shuffle — the "
                     "second window's partitioning is satisfied by "
                     "the first's", 1),
    ],
    "events_time_weighted": [
        ("Window", "one lead() pass inside the user_id shuffle", 1),
        ("Exchange", "window and groupBy share the user_id "
                     "partitioning — one shuffle total", 1),
    ],
    "events_bitmap_distinct": [
        ("HashAggregate", "both the word fold and the per-type sum "
                          "are map-side combinable"),
        ("Exchange", "two bounded shuffles: (type, word) then type — "
                     "never a distinct-value shuffle", 2),
    ],
    "events_type_sequence": [
        ("Exchange", "sort-inside-aggregate: ONE user_id shuffle, no "
                     "window pass", 1),
        ("Window", "no window operator at all", 0),
    ],
    "source_lang_entropy": [
        ("Exchange", "two bounded aggregations ((source,lang) then "
                     "source)", 2),
        ("Scan parquet", "one scan reading only (source, lang)", 1),
    ],
    "dedup_shingle_novelty": [
        ("HashAggregate", "distinct pairs, min-doc, and per-doc fold "
                          "all partial-aggregate"),
        ("Join Inner", "the shingle join is an equi-join on the "
                       "content key — bucket-by-content, never "
                       "all-pairs (broadcast at this SF; AQE picks "
                       "SMJ once the min-doc side outgrows the "
                       "threshold)"),
        ("CartesianProduct", "never a cartesian", 0),
    ],
    "events_locf": [
        ("Window", "the fill is ONE running-last window pass — no "
                   "self-join, no grid", 1),
        ("Exchange", "one user_id shuffle", 1),
        ("Scan parquet", "one scan, projection pruned to 5 columns", 1),
    ],
    "events_interval_merge": [
        ("Window", "running-max flag pass + running-sum island pass", 2),
        ("Exchange", "both windows AND the island groupBy share ONE "
                     "user_id shuffle (hash(user_id) satisfies the "
                     "(user_id, island) clustering)", 1),
        ("HashAggregate", "the island collapse partial-aggregates "
                          "inside the window stage"),
    ],
    "events_resample_daily": [
        ("WindowGroupLimit", "the daily-last rn=1 filter pushes down "
                             "as a group-limit below the shuffle — "
                             "never materializes full ranks"),
        ("hashpartitioning(user_id", "grid agg and daily window "
                                     "shuffle on user-keys only"),
        ("PushedFilters: [IsNotNull(user_id)",
         "the %3 user decimation reaches the scan"),
        ("CartesianProduct", "the grid is built per-user by sequence(), "
                             "never a cross join", 0),
    ],
    "terms_freq_of_freqs": [
        ("HashAggregate", "term-count and count-histogram aggregates "
                          "both partial-aggregate map-side"),
        ("Exchange", "two bounded-key shuffles (vocabulary, then "
                     "distinct frequencies)", 2),
        ("Window", "no window, no sort of the corpus", 0),
    ],
    "vocab_growth": [
        ("HashAggregate", "per-term min(doc_id) is map-side "
                          "combinable"),
        ("CartesianProduct", "checkpoint fan-out is a literal-array "
                             "explode, never a cross join", 0),
    ],
    "docs_stable_ids": [
        ("hashpartitioning(band", "the per-doc ranking window is "
                                  "PARTITIONED by band — the corpus "
                                  "never funnels through one task"),
        ("SinglePartition", "the only single-partition exchange is "
                            "the tiny band directory (offsets "
                            "window), downstream of the band-count "
                            "aggregate — never the corpus"),
        ("BroadcastHashJoin", "band offsets broadcast back"),
    ],
    "events_salted_topk": [
        ("hashpartitioning(event_type", "phase-2 re-rank shuffles "
                                        "only the pruned survivors "
                                        "on the bare key"),
        ("hashpartitioning(event_type", "phase-1 local rank runs on "
                                        "(event_type, salt) — the "
                                        "hot key fans over 16 "
                                        "slices"),
        ("WindowGroupLimit", "both rank<=5 filters push down as "
                             "group-limits"),
    ],
    "referential_integrity_audit": [
        ("LeftAnti", "every FK edge is an anti-join, never a "
                     "row-multiplying outer join"),
        ("Union", "one action validates all four edges"),
        ("CartesianProduct", "never a cartesian", 0),
    ],
    "events_rolling_median": [
        ("Window", "one frame-bounded collect per row — the array is "
                   "capped at 11 elements BY THE FRAME", 1),
        ("Exchange", "one user_id shuffle", 1),
        ("PushedFilters: [IsNotNull(user_id)",
         "the %5 user decimation reaches the scan"),
    ],
    "docs_column_profile": [
        ("Scan parquet", "all eight statistics come from ONE scan", 1),
        ("Expand", "count_distinct over multiple columns plans as a "
                   "single Expand pass, not per-column rescans"),
    ],
    "split_leakage_audit": [
        # r9: the near-dup op carries each doc's set size through the
        # exploded shingle stream, so the pair stage has NO join at all
        # (the former sizes equi-join legs are gone); the audit inherits
        # that join-free bucket-by-content shape
        ("Window", "inherits the near-dup op's spill-safe hot-shingle "
                   "document-frequency cap"),
        ("Join", "join-free: sizes ride the shingle stream, pairs come "
                 "from the grouped explode", 0),
        ("CartesianProduct", "never a cartesian", 0),
        ("HashAggregate", "the split tag is a per-row expression — "
                          "the audit adds one bounded aggregate, no "
                          "membership join"),
    ],
    "events_anomaly_mad": [
        ("Scan parquet", "ONE events scan (r9: both medians attach as "
                         "conditional window-maxes — no rn-selection "
                         "tables joined back)", 1),
        ("Exchange", "one event_type shuffle carries both median "
                     "phases", 1),
        ("BroadcastHashJoin", "no joins left", 0),
        ("CartesianProduct", "never a cartesian", 0),
    ],
    "events_changepoint_cusum": [
        ("Exchange", "prefix/total/argmax windows all share ONE "
                     "user_id shuffle", 1),
        ("Window", "running sums, whole-partition totals, and the "
                   "argmax pick are separate passes — all inside the "
                   "one shuffle", 3),
        ("WindowGroupLimit", "the argmax pick is pruned by a "
                             "group-limit first", 1),
        ("PushedFilters: [IsNotNull(user_id)",
         "the %7 decimation reaches the scan"),
    ],
    "terms_continuation_counts": [
        ("HashAggregate", "distinct bigrams, continuation counts, "
                          "and raw counts all partial-aggregate"),
        ("CartesianProduct", "bigrams come from a per-doc array "
                             "transform, never a self-join", 0),
    ],
    "customer_lateral_top2": [
        ("WindowGroupLimit", "the per-customer ORDER BY/LIMIT lateral "
                             "decorrelates into a group-limit pushed "
                             "even below the shuffle — NOT a per-outer-"
                             "row subquery"),
        ("BroadcastNestedLoopJoin", "the correlation is an equi-join "
                                    "key", 0),
        ("CartesianProduct", "never a cartesian", 0),
    ],
    "orders_pipe_syntax": [
        ("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate",
         "pipe-syntax |> WHERE lowers to the same pushed predicate "
         "as the classic form — the |> stages don't fence pushdown"),
        ("HashAggregate", "|> AGGREGATE partial-aggregates map-side"),
    ],
    "events_ks_drift": [
        ("Window", "one ordered cumsum over DISTINCT values only"),
        ("In(event_type, [click,view])",
         "the two-slice IN filter reaches the events scan"),
        ("CartesianProduct", "the totals/max joins are one-row "
                             "broadcasts, never a real cartesian", 0),
    ],
    "lineitem_benford": [
        ("HashAggregate", "9-key aggregate collapses map-side"),
        ("Exchange", "exactly one tiny shuffle", 1),
    ],
    "events_rank_sum": [
        ("Window", "ordered cumsum over DISTINCT values only"),
        ("In(event_type, [click,view])",
         "slice filter reaches the events scan"),
    ],
    "semantic_dedup_medoid": [
        ("BroadcastHashJoin", "k medoid rows broadcast back to "
                              "members"),
        ("Window", "medoid selection is one window on cell"),
        ("CartesianProduct", "centroid assignment is a literal map, "
                             "not a join", 0),
    ],
    "embedding_label_noise": [
        ("Window", "top-3 neighbors via window rank"),
        ("CartesianProduct", "in-cell self-join is an equi-join on "
                             "cell", 0),
    ],
    "orders_shuffle_hash_join": [
        ("ShuffledHashJoin", "the shuffle_hash hint actually plans a "
                             "hash join (a silently-degraded hint is "
                             "worse than none)"),
        ("SortMergeJoin", "no SMJ double-sort", 0),
    ],
    "events_autocorrelation": [
        ("BroadcastHashJoin", "the lag equi-join broadcasts the "
                              "7-row lag directory side or the tiny "
                              "day directory"),
        ("CartesianProduct", "lags attach via broadcast, not a "
                             "cartesian", 0),
    ],
}


def _count_nodes(plan: str, op: str) -> int:
    """Number of distinct plan nodes of type ``op`` in a formatted explain
    (counts the detail headers, e.g. ``(3) Scan parquet``). The node name
    must match whole: ``Window`` does not count ``WindowGroupLimit``.
    Terms that are not node headers (e.g. ``rangepartitioning``, which
    only appears in an Exchange's argument line) fall back to a count over
    the whole plan text so count-0 absence checks still bite."""
    import re
    name = rf"{re.escape(op)}(?!\w)"
    n = len(re.findall(rf"^\(\d+\) {name}", plan, re.M))
    return n if n else len(re.findall(name, plan))


def main():
    from trek_spark.spark.ops import OPS
    from trek_spark.spark.session import get_spark

    spark = get_spark("explain-audit", master="local[4]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    out = ["# Physical-plan audit (generated by tools/explain_audit.py)",
           "", f"sf_dir: {SF_DIR}", ""]
    failures = []
    try:
        for name, checks in AUDITS.items():
            fn, _ = OPS[name]
            df = fn(spark, SF_DIR)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
            out.append(f"## {name}")
            out.append("")
            for check in checks:
                needle, why = check[0], check[1]
                if len(check) == 3:  # exact node-count check (single scan)
                    got = _count_nodes(plan, needle)
                    ok = got == check[2]
                    why = f"{why} (nodes: {got}, required {check[2]})"
                else:
                    ok = needle in plan
                mark = "PASS" if ok else "FAIL"
                out.append(f"- [{mark}] `{needle[:60]}` — {why}")
                if not ok:
                    failures.append((name, needle))
            # plans are long; keep the physical-plan section only
            phys = plan.split("\n\n")[0]
            out.append("")
            out.append("```")
            out.append(phys.strip()[:4000])
            out.append("```")
            out.append("")
    finally:
        spark.stop()

    with open(os.path.join(ROOT, "BENCH", "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote BENCH/PLANS.md; {len(failures)} check(s) failed")
    for name, needle in failures:
        print(f"FAIL {name}: missing {needle!r}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
