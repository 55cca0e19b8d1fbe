"""Physical-plan audit: dump `.explain("formatted")` for representative
queries and check the plan properties that matter at 100 TB —
filter/column pushdown into the parquet scan, broadcast joins for small
dims, whole-stage codegen coverage, AQE enabled. Writes PLANS.md.

Usage: python tools/explain_audit.py [--sf /root/testdata/sf0.01]
                                     [--only name1,name2]

`--only` audits the named checks and rewrites just their `## <name>`
sections of PLANS.md in place; every other section stays byte-identical.
"""

from __future__ import annotations

import argparse
import io
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

# (query, required plan substrings, forbidden plan substrings)
CHECKS = {
    "f2_scope_same_source": (["PushedFilters: [", "ReadSchema:"], []),
    "w3_global_topk": (["TakeOrderedAndProject"], ["rangepartitioning("]),
    "j2_dim_join": (["BroadcastHashJoin"], ["SortMergeJoin"]),
    "j1_seen_anti_join": (["LeftAnti"], []),
    "a2_distinct_dedup": (["HashAggregate"], []),
    "dd3_minhash_lsh": ([], ["BatchEvalPython"]),       # zero row-at-a-time Python
    # formatted mode marks codegen with "[codegen id : N]", not the node name
    "tx1_lang_id": (["[codegen id :"], ["BatchEvalPython", "ArrowEvalPython"]),
    "an1_cosine_topk": ([], ["CartesianProduct"]),      # broadcast NL, not cartesian
    "an4_lsh_ann": (["BroadcastHashJoin"], ["SortMergeJoin"]),  # bucket probe broadcast
    "dd6_embedding_neardup": ([], ["CartesianProduct"]),
    # scalar stream-frontier broadcast, not a cartesian/shuffled join
    "rc1_recrawl_due": (["HashAggregate"], ["CartesianProduct", "SortMergeJoin"]),
    # line dedup: anti-join against the dup-line set, all-codegen
    "dd9_line_dedup": (["LeftAnti"], ["BatchEvalPython", "CartesianProduct"]),
    # PII scrub: pure regexp codegen, no Python evaluation of any kind
    "tx6_pii_scrub": (["[codegen id :"],
                      ["BatchEvalPython", "ArrowEvalPython"]),
    # repetition signals: per-row algebra + two-level agg, no Python
    "tx7_repetition": (["HashAggregate"],
                       ["BatchEvalPython", "ArrowEvalPython"]),
    # two count-distincts -> Expand + partial aggs before each exchange
    # (SortAggregate, not Hash — the min(string) buffer is not mutable-fixed)
    "g2_anchor_agg": (["Expand", "partial_count"], ["BatchEvalPython"]),
    # composed cleaning pipeline: gates evaluated map-side under the union,
    # exactly the dedup-groupBy shuffle, no Python evaluation anywhere
    # (AQE-wrapped plan: codegen ids are not annotated pre-execution, so
    # assert structure — partial agg before the single Exchange)
    "px1_corpus_pipeline": (["Union", "partial_min"],
                            ["BatchEvalPython", "ArrowEvalPython",
                             "CartesianProduct", "SortMergeJoin"]),
    # interleave stats: pure per-row HOF algebra — NO exchange of any kind
    "px2_interleave_stats": ([], ["Exchange", "BatchEvalPython",
                                  "ArrowEvalPython"]),
    # distributed prefix sum: block-local windows + broadcast offset join;
    # forbid the single-task global-window shape (a Window whose required
    # distribution is all-rows => Exchange SinglePartition over the CORPUS;
    # the tiny offset table's own SinglePartition sort is over n_blocks
    # rows and is the design) — assert the broadcast join is present
    "px3_sequence_pack": (["Window", "BroadcastHashJoin"],
                          ["BatchEvalPython", "ArrowEvalPython",
                           "SortMergeJoin"]),
    # unrolled wave-admission loop. Since the eager per-wave barrier
    # (matching run_crawl's own loop shape), the FINAL plan holds only the
    # last wave's fragment: the rank windows + broadcast joins are visible,
    # but the seen anti-join sits behind the wave-2 checkpoint and cannot
    # appear here — its plan shape is audited by j1_seen_anti_join, and
    # w4's VALUES (which the anti-join determines) are under the driver's
    # hash gate. Still forbid any Python and cartesian shapes.
    "w4_wave_admission": (["Window", "BroadcastHashJoin"],
                          ["BatchEvalPython", "ArrowEvalPython",
                           "CartesianProduct", "SortMergeJoin"]),
    # --- round 3 ---
    # weighted sample: per-partition heaps, never a global sort
    "px4_weighted_sample": (["TakeOrderedAndProject"],
                            ["rangepartitioning(",
                             "BatchEvalPython", "ArrowEvalPython"]),
    # substring repeats: two-phase agg on the window hash; no Python,
    # no cartesian (the repeated-set join is broadcast/SMJ on rh)
    "dd11_substring_repeats": (["partial_count"],
                               ["BatchEvalPython", "ArrowEvalPython",
                                "CartesianProduct"]),
    # unigram logprob: partial+final aggs; the corpus-total is a broadcast
    # scalar (nested-loop over ONE row), never a cartesian over data
    "tx10_unigram_logprob": (["HashAggregate", "partial_count"],
                             ["BatchEvalPython", "ArrowEvalPython",
                              "CartesianProduct"]),
    # sliding windows: the 4-window fan-out is map-side (explode of window
    # starts) feeding one partial+final agg
    "st4_sliding_window": (["HashAggregate"],
                           ["BatchEvalPython", "ArrowEvalPython"]),
    # SQ8 two-stage ANN: stats + query batch broadcast, no cartesian
    "an6_sq_rerank": ([], ["CartesianProduct", "BatchEvalPython",
                           "ArrowEvalPython"]),
    # decode algebra: the kernel is Arrow-batched mapInPandas BY DESIGN
    # (that is the surface under test); forbid row-at-a-time Python
    "mm5_decode_algebra": (["MapInPandas"], ["BatchEvalPython"]),
    # HITS: iterative plan is cut per-iteration (localCheckpoint), so the
    # final plan is the last join over checkpointed scans; the per-iter
    # scalar normalization is a broadcast over ONE row — forbid cartesian
    # over data and any Python
    "g4_hits": ([], ["CartesianProduct", "BatchEvalPython",
                     "ArrowEvalPython"]),
    # BM25: term filter must reach BEFORE the tf aggregation (pre-shuffle
    # corpus cut); df and the N/avgdl scalar join back as broadcasts
    "tx11_bm25": (["HashAggregate", "BroadcastHashJoin"],
                  ["SortMergeJoin", "BatchEvalPython", "ArrowEvalPython",
                   "CartesianProduct"]),
    # --- round 3, late additions ---
    # bigram LM: map-side HOF bigram generation feeding partial+final aggs;
    # the count joins may legitimately sort-merge (big x big), but no
    # Python and no cartesian anywhere
    "tx12_bigram_logprob": (["HashAggregate", "partial_count"],
                            ["BatchEvalPython", "ArrowEvalPython",
                             "CartesianProduct"]),
    # temperature mixing: the rate table must come back as a BROADCAST onto
    # the corpus (the corpus itself never shuffles pre-filter); N and Z are
    # one-row broadcast scalars, never a data cartesian
    "px5_temperature_mix": (["BroadcastHashJoin"],
                            ["SortMergeJoin", "BatchEvalPython",
                             "ArrowEvalPython", "CartesianProduct"]),
    # snapshot diff: ONE full-outer join on the key and nothing else
    "rc3_snapshot_diff": (["FullOuter"],
                          ["BatchEvalPython", "ArrowEvalPython",
                           "CartesianProduct"]),
    # WARC round-trip: the record splitter is Arrow-batched mapInPandas BY
    # DESIGN (the surface under test); render side is pure JVM — forbid
    # row-at-a-time Python
    "wc1_warc_roundtrip": (["MapInPandas"], ["BatchEvalPython"]),
    # BFS hop distance: iterative plan cut per hop (localCheckpoint) — the
    # returned frame IS the final checkpoint (a plain RDD scan, like
    # g4_hits); the per-hop expand/anti-join shape is audited by j1.
    # Forbid Python/cartesian in whatever fragment remains.
    "g5_hop_distance": ([], ["BatchEvalPython", "ArrowEvalPython",
                             "CartesianProduct"]),
    # boilerplate strip: pure per-row HOF algebra — NO exchange, NO Python
    "ex1_boilerplate_strip": ([], ["Exchange", "BatchEvalPython",
                                   "ArrowEvalPython"]),
    # as-of join: union-and-window — there must be NO join operator of any
    # kind in the plan (the whole point: no inequality pair blow-up)
    "j6_asof_join": (["Window", "Union"],
                     ["SortMergeJoin", "BroadcastHashJoin",
                      "BroadcastNestedLoopJoin", "CartesianProduct",
                      "BatchEvalPython", "ArrowEvalPython"]),
    # range join: bucket expansion must yield a broadcast EQUI-join —
    # never the nested-loop/cartesian a plain inequality join plans
    "j7_range_join": (["BroadcastHashJoin"],
                      ["BroadcastNestedLoopJoin", "CartesianProduct",
                       "SortMergeJoin", "BatchEvalPython",
                       "ArrowEvalPython"]),
    # hypertable rollup: all three granularities in ONE pass — a single
    # Expand feeding partial/final aggs, never three scans
    "st5_hypertable_rollup": (["Expand", "partial_count"],
                              ["BatchEvalPython", "ArrowEvalPython"]),
    # KMV sketch: distinct is partial-agged; no Python anywhere
    "ks1_kmv_distinct": (["HashAggregate"],
                         ["BatchEvalPython", "ArrowEvalPython",
                          "CartesianProduct"]),
    # redirect resolution: per-round checkpoints leave the final round's
    # self-join + the terminal-marker join; both at edge cardinality —
    # forbid Python/cartesian
    "g6_redirect_resolve": ([], ["BatchEvalPython", "ArrowEvalPython",
                                 "CartesianProduct"]),
    # time-window correlation: bucketized EQUI-join — the per-key
    # inequality cartesian/nested-loop must never appear
    "j8_time_window_join": ([], ["BroadcastNestedLoopJoin",
                                 "CartesianProduct", "BatchEvalPython",
                                 "ArrowEvalPython"]),
    # Count-Min: tiny cell table broadcast back onto the key set
    "ks2_countmin": (["BroadcastHashJoin", "HashAggregate"],
                     ["CartesianProduct", "BatchEvalPython",
                      "ArrowEvalPython"]),
    # --- round 3, closing additions ---
    # span-sequence stats: ONE let-bound struct fold per row — no exchange,
    # no Python of any kind
    "mm6_span_stats": ([], ["Exchange", "BatchEvalPython",
                            "ArrowEvalPython"]),
    # media-asset dedup: map-side explode feeding partial+final aggs (the
    # count-distinct plans its own Expand), keys-only shuffle
    "mm7_media_dedup": (["HashAggregate"],
                        ["BatchEvalPython", "ArrowEvalPython",
                         "CartesianProduct", "SortMergeJoin"]),
    # exact quantiles: the distinct-value compression (partial_count) must
    # precede the per-group window — the sort runs at distinct-value
    # cardinality, never raw-row
    "ks3_exact_quantile": (["HashAggregate", "partial_count", "Window"],
                           ["BatchEvalPython", "ArrowEvalPython",
                            "CartesianProduct"]),
    # triangle counting: the (degree, id) rank table joins back as a
    # BROADCAST; the wedge join may legitimately sort-merge (edge x edge)
    # but never a cartesian/nested-loop
    "g7_triangle_count": (["BroadcastHashJoin"],
                          ["BroadcastNestedLoopJoin", "CartesianProduct",
                           "BatchEvalPython", "ArrowEvalPython"]),
    # stratified split: one hash exchange on the stratum key + window;
    # never a global range sort
    "px6_stratified_split": (["Window"],
                             ["rangepartitioning(",
                              "BatchEvalPython", "ArrowEvalPython",
                              "CartesianProduct"]),
    # containment: dd4's two-stage shape — capped candidate buckets then
    # verify joins; no Python, no cartesian
    "dd12_containment": ([], ["BatchEvalPython", "ArrowEvalPython",
                              "CartesianProduct"]),
    # watermark replay: distributed prefix MAX (block windows + broadcast
    # offsets) — same audit as px3: the broadcast join must be present,
    # no corpus-wide single-partition window
    "st6_late_data_policy": (["Window", "BroadcastHashJoin"],
                             ["BatchEvalPython", "ArrowEvalPython",
                              "SortMergeJoin"]),
    # degree histogram: two keys-only aggs + union; no joins of any kind
    "g8_degree_histogram": (["HashAggregate", "Union"],
                            ["BatchEvalPython", "ArrowEvalPython",
                             "CartesianProduct", "SortMergeJoin",
                             "BroadcastHashJoin"]),
    # URL template mining: map-side regex + keys-only two-phase agg.
    # SortAggregate, not Hash — the min(string) buffer is not
    # mutable-fixed (same shape note as g2); the partial aggs must sit
    # before the exchange
    "f9_url_template_mining": (["partial_count", "partial_min"],
                               ["BatchEvalPython", "ArrowEvalPython",
                                "CartesianProduct", "SortMergeJoin"]),
    # LSH recall eval: pair joins may sort-merge (pairs x pairs); the
    # n_cand scalar is a one-row broadcast, never a data cartesian
    "dd13_lsh_recall": ([], ["BatchEvalPython", "ArrowEvalPython",
                             "CartesianProduct"]),
    # frame-sampler twin: Arrow-batched mapInPandas 1->N BY DESIGN (the
    # surface under test); forbid row-at-a-time Python
    "mm8_frame_algebra": (["MapInPandas"], ["BatchEvalPython"]),
    # INTERSECT plans as a distinct + left-semi join, keys only
    "so4_intersect": (["LeftSemi"],
                      ["BatchEvalPython", "ArrowEvalPython",
                       "CartesianProduct"]),
    # pivot with an explicit value list: ONE pass (no distinct-discovery
    # job), pivot aggregates inside a partial+final hash agg
    "a7_metrics_pivot": (["HashAggregate", "partial_count"],
                         ["BatchEvalPython", "ArrowEvalPython",
                          "CartesianProduct", "SortMergeJoin"]),
    # distributed global rank: block windows + broadcast offsets (px3's
    # audit); the n-row scalar is a one-row broadcast NL, never a data
    # cartesian
    "w5_frontier_sharding": (["Window", "BroadcastHashJoin"],
                             ["BatchEvalPython", "ArrowEvalPython",
                              "SortMergeJoin", "CartesianProduct"]),
    # crawl-delay budget: keys-only agg + map-side arithmetic, no joins
    "rc4_crawl_delay_budget": (["HashAggregate"],
                               ["BatchEvalPython", "ArrowEvalPython",
                                "CartesianProduct", "SortMergeJoin",
                                "BroadcastHashJoin"]),
    # minhash estimate: candidate-bounded verify joins over the shared
    # checkpointed shingle/signature projections; no Python, no cartesian
    "dd14_minhash_estimate": ([], ["BatchEvalPython", "ArrowEvalPython",
                                   "CartesianProduct"]),
    # lag quantiles: st6's prefix max + ks3's distinct compression — the
    # quantile window must sit on a partial-agged input
    "st7_arrival_lag_quantiles": (["Window", "partial_count"],
                                  ["BatchEvalPython", "ArrowEvalPython",
                                   "CartesianProduct"]),
    # HLL: register max and integer harmonic sum must both partial-agg
    # map-side (the whole point: <= 256 rows per partition reach the
    # shuffle); exact-count join is broadcast
    "ks4_hll_distinct": (["partial_max", "partial_sum(shiftleft",
                          "BroadcastHashJoin"],
                         ["BatchEvalPython", "ArrowEvalPython",
                          "CartesianProduct", "SortMergeJoin"]),
    # lexical diversity: two-level partial+final agg, zero joins
    "tx13_ttr_hapax": (["HashAggregate", "partial_count"],
                       ["BatchEvalPython", "ArrowEvalPython",
                        "BroadcastHashJoin", "SortMergeJoin",
                        "CartesianProduct"]),
    # epoch shuffle: PARTITIONED window (distribute-by shard), never the
    # single-task global sort
    "px8_epoch_shuffle": (["Window"],
                          ["SinglePartition", "BatchEvalPython",
                           "ArrowEvalPython", "CartesianProduct"]),
    # EWMA: per-key state built by partial collect into the one key
    # shuffle; the fold itself is codegen HOF algebra, no Python
    "st8_ewma_rate": (["ObjectHashAggregate", "partial_collect_list"],
                      ["BatchEvalPython", "ArrowEvalPython",
                       "CartesianProduct", "SortMergeJoin"]),
    # reciprocity: reversed-key LEFT SEMI self-join, host-cardinality aggs
    "g10_reciprocal_links": (["LeftSemi"],
                             ["BatchEvalPython", "ArrowEvalPython",
                              "CartesianProduct", "SortMergeJoin"]),
    # CDC chunking: map-side HOF chunker, one partial-agged chunk-hash
    # shuffle, broadcast join back (sort-merge at corpus scale)
    "dd15_cdc_chunks": (["BroadcastHashJoin", "partial_count"],
                        ["BatchEvalPython", "ArrowEvalPython",
                         "CartesianProduct", "SortMergeJoin"]),
    # lastmod priority: rank-pushdown (WindowGroupLimit prunes to top-k
    # BEFORE the shuffle — the map-side politeness pre-prune for free)
    "rc5_lastmod_priority": (["WindowGroupLimit"],
                             ["BatchEvalPython", "ArrowEvalPython",
                              "BroadcastHashJoin", "SortMergeJoin",
                              "CartesianProduct"]),
    # k-means: the post-loop plan (past the centroid localCheckpoints)
    # must show the distance rollup partial-agged and the codebook join
    # broadcast — the corpus never shuffles against centroids
    "km1_ivf_codebook": (["BroadcastHashJoin", "partial_sum"],
                         ["BatchEvalPython", "ArrowEvalPython",
                          "CartesianProduct", "SortMergeJoin"]),
    # PQ encode: km1's audit shape + the final per-vector code pivot as
    # one partial+final hash agg
    "an7_pq_encode": (["BroadcastHashJoin", "partial_sum", "partial_max"],
                      ["BatchEvalPython", "ArrowEvalPython",
                       "CartesianProduct", "SortMergeJoin"]),
    # ADC search: corpus scanned by codes only, LUT broadcast; the rank
    # window rides a per-query partition, never a corpus sort
    "an8_adc_search": (["BroadcastHashJoin", "Window"],
                       ["BatchEvalPython", "ArrowEvalPython",
                        "CartesianProduct", "SortMergeJoin"]),
    # perplexity buckets: tx10's partial-agged shuffles + ONE per-language
    # window; the broadcast scalar total must stay a one-row broadcast NL,
    # never a data cartesian
    "tx15_perplexity_buckets": (["Window", "partial_count"],
                                ["BatchEvalPython", "ArrowEvalPython",
                                 "SortMergeJoin"]),
    # adaptive delay: ONE host-keyed shuffle (fold + counts in the same
    # grouped pass), budget arithmetic map-side — no joins at all
    "rc6_adaptive_delay": (["ObjectHashAggregate", "partial_collect_list"],
                           ["BatchEvalPython", "ArrowEvalPython",
                            "BroadcastHashJoin", "SortMergeJoin",
                            "CartesianProduct"]),
    # JSON property extraction: codegen get_json_object inside the scan
    # stage; column pruning must reach the reader (props + type only)
    "p6_json_props": (["ReadSchema: struct<event_type:string,props:string>",
                       "HashAggregate"],
                      ["BatchEvalPython", "ArrowEvalPython",
                       "BroadcastHashJoin", "SortMergeJoin"]),
    # k-core: the final plan sits past the per-round localCheckpoint
    # barriers (same audit shape as dd7's CC) — assert the closing
    # degree rollup is a hash agg and nothing Python leaked in
    "g9_kcore": (["HashAggregate"],
                 ["BatchEvalPython", "ArrowEvalPython",
                  "CartesianProduct"]),
    # OPIC: host-cardinality joins per iteration; the dangling pot is a
    # one-row broadcast. The final plan sits past the per-iteration
    # localCheckpoint barriers (g9's audit shape) — the returned frame is
    # a projection over the checkpointed state, so assert only that
    # nothing Python/cartesian leaked into the closing stage.
    "g11_opic": ([],
                 ["BatchEvalPython", "ArrowEvalPython", "CartesianProduct"]),
    # DSIR: ONE conditional-agg shuffle builds both distributions; the
    # 64-row log-ratio dim broadcasts back; per-doc rollup partial-aggs
    "tx16_dsir": (["BroadcastHashJoin", "partial_count"],
                  ["BatchEvalPython", "ArrowEvalPython", "SortMergeJoin"]),
    # theta set ops: raw sets are never joined — the only joins are over
    # the <=k retained samples (broadcast) and the exact-intersection
    # rider (LeftSemi); distinct is partial-agged
    "ks5_theta_setops": (["LeftSemi", "partial_count"],
                         ["BatchEvalPython", "ArrowEvalPython",
                          "CartesianProduct"]),
    # funnel: conditional min-aggs + joins at user cardinality; no window
    # over raw events, no per-user sort
    "st9_funnel": (["partial_min"],
                   ["Window", "BatchEvalPython", "ArrowEvalPython"]),
    # cohort retention: single count-distinct -> two-phase HashAggregate
    # (no Expand — that is the multi-distinct shape); one user-cardinality
    # broadcast join; the event stream is never sorted; column pruning
    # must reach the reader (ts + user_id only)
    "a8_cohort_retention": (["HashAggregate", "partial_min",
                             "ReadSchema: struct<ts:timestamp_ntz,"
                             "user_id:bigint>"],
                            ["Window", "BatchEvalPython", "ArrowEvalPython"]),
    # DUST rules: rule extraction is map-side let-bound folds; the only
    # exchange is the keys-only rule rollup — no joins at all
    "f10_url_alias_rules": (["HashAggregate", "partial_count"],
                            ["BroadcastHashJoin", "SortMergeJoin",
                             "BatchEvalPython", "ArrowEvalPython"]),
    # personalized pagerank: g1/g11's audit shape — the returned frame
    # projects over per-iteration checkpointed state, so assert only
    # that the closing stage is Python-free and never cartesian
    "g12_personalized_pagerank": ([],
                                  ["BatchEvalPython", "ArrowEvalPython",
                                   "CartesianProduct"]),
    # LSH band planner: 16-row-histogram partial agg; the 5-row literal
    # config rides a broadcast cross (BroadcastNestedLoop over literals
    # is the design at this cardinality — a CartesianProduct or any
    # Python is not)
    "dd16_lsh_band_planner": (["HashAggregate", "partial_count"],
                              ["CartesianProduct", "BatchEvalPython",
                               "ArrowEvalPython"]),
    # bow-tie: three capped BFS legs behind per-hop lineage cuts;
    # closing classification joins at host cardinality
    "g13_bowtie": ([], ["BatchEvalPython", "ArrowEvalPython",
                        "CartesianProduct"]),
    # bloom membership: the <=m-position bits table broadcasts to the
    # exploded probe side (the production bitset-broadcast analog);
    # per-candidate match count partial-aggs map-side
    "ks6_bloom_membership": (["BroadcastHashJoin", "partial_sum"],
                             ["SortMergeJoin", "BatchEvalPython",
                              "ArrowEvalPython"]),
    # LPA: per-round edge join + partial agg + degree-bounded window sit
    # behind lineage cuts; closing stage Python-free, never cartesian
    "g14_lpa_communities": ([], ["BatchEvalPython", "ArrowEvalPython",
                                 "CartesianProduct"]),
    # conditional revalidation through the production ConditionalFetcher:
    # validator lookup + simulated-page join, all column algebra
    "rc7_revalidation": ([], ["BatchEvalPython", "ArrowEvalPython",
                              "CartesianProduct"]),
    # CDX index: offsets via the per-file prefix-sum window — the only
    # exchange is the per-file hash partition; forbid the single-task
    # global-window shape and any Python
    "wc2_cdx_index": (["Window"], ["Exchange SinglePartition",
                                   "BatchEvalPython", "ArrowEvalPython"]),
    # incremental-archive chooser: pure map-side record render — no
    # shuffle of any kind, no joins, no Python
    "wc3_warc_revisit": ([], ["Exchange", "SortMergeJoin",
                              "BroadcastHashJoin", "BatchEvalPython",
                              "ArrowEvalPython"]),
    # inverted index: explode map-side, (term,doc) tf shuffle with
    # map-side combine, term rollup — no joins, no Python
    "ix1_inverted_index": (["HashAggregate", "partial_count"],
                           ["SortMergeJoin", "BroadcastHashJoin",
                            "BatchEvalPython", "ArrowEvalPython"]),
    # conjunctive search: IN-list filter BEFORE the shuffle (no join
    # against the query set), partial-agged intersection count
    "ix2_conjunctive_search": (["HashAggregate", "partial_count"],
                               ["SortMergeJoin", "BroadcastHashJoin",
                                "BatchEvalPython", "ArrowEvalPython"]),
    # phrase search: coverage-count formulation — candidate-start agg +
    # occurrence agg, both partial; NO join of any kind (the offset
    # table is literal column algebra) and no Python
    "ix3_phrase_search": (["HashAggregate", "partial_count"],
                          ["SortMergeJoin", "BroadcastHashJoin",
                           "CartesianProduct",
                           "BatchEvalPython", "ArrowEvalPython"]),
    # vocab ids: range-partitioned block-local windows + broadcast
    # offset join; forbid the sort-merge shape and Python. The offset
    # table's own SinglePartition window is n_parts rows (the design).
    "ix4_vocab_ids": (["Window", "BroadcastHashJoin"],
                      ["SortMergeJoin",
                       "BatchEvalPython", "ArrowEvalPython"]),
    # Mercator queues: host-partitioned window + keyed_global_rank
    # (block-local ranks, per-key tiny offset cumsum, broadcast join) —
    # no K=8 giant-partition window, no sort-merge, no Python
    "w6_mercator_queues": (["Window", "BroadcastHashJoin"],
                           ["SortMergeJoin",
                            "BatchEvalPython", "ArrowEvalPython"]),
    # HyperANF: per-round estimates are partial-agged rollups over the
    # checkpointed long-form register states (the propagation joins ran
    # at checkpoint time; j1-shape audited there) — no Python anywhere
    "g16_hyperanf": (["Union", "HashAggregate", "partial_count"],
                     ["BatchEvalPython", "ArrowEvalPython",
                      "CartesianProduct"]),
    # BPE training: the returned plan is the union of the k pinned
    # 1-row argmax rounds (each round's agg ran at checkpoint time);
    # forbid Python anywhere in it
    "tk1_bpe_train": (["Union"],
                      ["BatchEvalPython", "ArrowEvalPython"]),
    # BPE-aware packing: encode partial agg + px3's block windows +
    # broadcast offset join; forbid the sort-merge shape and Python
    "px9_bpe_pack": (["Window", "BroadcastHashJoin", "partial_sum"],
                     ["SortMergeJoin",
                      "BatchEvalPython", "ArrowEvalPython"]),
    # BPE encode: literal chained replaces map-side + ONE partial-agged
    # per-doc sum; no joins (the merges are bounded-collected literals)
    "tk2_bpe_encode": (["HashAggregate", "partial_sum"],
                       ["SortMergeJoin", "BroadcastHashJoin",
                        "CartesianProduct",
                        "BatchEvalPython", "ArrowEvalPython"]),
    # SALSA: final plan joins the two checkpointed host-cardinality
    # score tables (the per-round degree-weighted shuffles ran at
    # checkpoint time, same audit story as g4/g16); no Python anywhere
    "g17_salsa": ([], ["BatchEvalPython", "ArrowEvalPython",
                       "CartesianProduct"]),
    # perceptron scoring: pure codegen projection over the checkpointed
    # feature table — training's per-epoch aggregates ran eagerly; the
    # returned plan moves NOTHING (no exchange, no Python)
    "tx17_perceptron_quality": (["[codegen id :"],
                                ["Exchange", "BatchEvalPython",
                                 "ArrowEvalPython"]),
    # HyperBall statistics: partial-agged rollups/pivots over the
    # checkpointed register rounds; no Python
    "g18_harmonic_centrality": (["HashAggregate"],
                                ["BatchEvalPython", "ArrowEvalPython",
                                 "CartesianProduct"]),
    "g19_effective_diameter": (["HashAggregate"],
                               ["BatchEvalPython", "ArrowEvalPython",
                                "CartesianProduct"]),
    # CLIP gate: the media tower is the Arrow-batched mapInPandas decode
    # kernel (the designed Python island); the text tower + gate are
    # column algebra — forbid only row-at-a-time Python
    "mm9_clip_gate": (["MapInPandas"],
                      ["BatchEvalPython", "CartesianProduct"]),
    # fertility: map-side literal-replace encode + two partial-agged
    # aggregates + one doc->lang join; no Python
    "tk3_fertility": (["HashAggregate", "partial_sum"],
                      ["BatchEvalPython", "ArrowEvalPython",
                       "CartesianProduct"]),
    # WET extract: render/extract all codegen, Content-Length-framed
    # re-parse is the mapInPandas splitter; no row-at-a-time Python
    "wc4_wet_extract": (["MapInPandas"],
                        ["BatchEvalPython", "CartesianProduct"]),
    # Zipf fit: ix4's two-phase distributed rank (block windows +
    # broadcast offset join) + one global partial agg; no single-task
    # corpus window, no sort-merge, no Python
    "tx19_zipf_slope": (["Window", "BroadcastHashJoin", "partial_sum"],
                        ["SortMergeJoin", "BatchEvalPython",
                         "ArrowEvalPython"]),
    # Heaps curve: one vocabulary aggregate + two broadcast-threshold
    # conditional counts; the quartile table must broadcast, never
    # sort-merge against the corpus; no Python
    "tx20_vocab_growth": (["BroadcastNestedLoopJoin", "HashAggregate"],
                          ["SortMergeJoin", "BatchEvalPython",
                           "ArrowEvalPython"]),
    # loss-mask pack: per-doc span fold is codegen, packing reuses
    # px3's block-window + broadcast-offset prefix sum; no global
    # single-task window over the corpus, no Python
    "px10_loss_mask": (["Window", "HashAggregate"],
                       ["BatchEvalPython", "ArrowEvalPython",
                        "CartesianProduct"]),
    # co-citation: in-bucket pair generation — ONE groupBy(src) then
    # explode; the pair list must NOT come from an edge self-join
    # (forbid both join strategies outright) and no Python
    "g20_cocitation": (["HashAggregate", "Generate"],
                       ["SortMergeJoin", "BroadcastHashJoin",
                        "CartesianProduct", "BatchEvalPython",
                        "ArrowEvalPython"]),
    # spam mass: final plan joins the two checkpointed rank tables and
    # broadcasts the 2-scalar total; no Python, no cartesian
    "g21_spam_mass": (["BroadcastNestedLoopJoin"],
                      ["BatchEvalPython", "ArrowEvalPython",
                       "CartesianProduct"]),
    # postings gaps: per-term lag window + two partial-agged aggs,
    # NO joins of any kind, no arrays collected, no Python
    "ix6_postings_gaps": (["Window", "HashAggregate", "Generate"],
                          ["BatchEvalPython", "ArrowEvalPython",
                           "CartesianProduct", "SortMergeJoin",
                           "BroadcastHashJoin"]),
    # MIME sniff: pure map-side codegen over the binary column — the
    # plan must carry NO exchange and no Python at all
    "mm10_mime_sniff": (["[codegen id :"],
                        ["Exchange", "BatchEvalPython",
                         "ArrowEvalPython"]),
    # water-filling: rank/prefix-sum now from the pure-expression
    # blocking (_det_block_expr, r5 port off the racy partition-id
    # pattern); the full/cum projection still sits under one lazy
    # checkpoint, so the returned plan shows the RDD scan + the 1-row
    # scalar rollup + its broadcast cross join; no Python
    "w7_waterfill_budget": (["BroadcastNestedLoopJoin", "HashAggregate"],
                            ["BatchEvalPython", "ArrowEvalPython",
                             "CartesianProduct", "SortMergeJoin"]),
    # Brier decomposition: bucket-cardinality rollup (partial+final) +
    # broadcast 1-row scalar; <=10-row fold — no corpus-wide join/sort
    "a13_brier_decomposition": (["HashAggregate", "partial_count"],
                                ["BatchEvalPython", "ArrowEvalPython",
                                 "CartesianProduct", "SortMergeJoin"]),
    # WAND bounds: (term, doc) partial-agged tf shuffle + term rollup;
    # (n, avgdl) broadcast scalar; no Python, no cartesian
    "ix14_wand_bounds": (["HashAggregate", "partial_count"],
                         ["BatchEvalPython", "ArrowEvalPython",
                          "CartesianProduct", "SortMergeJoin"]),
    # packing-efficiency report: px3's pack (block windows + broadcast
    # offsets) -> seq-cardinality rollup + broadcast 2-value scalar
    "px16_packing_efficiency": (["Window", "BroadcastHashJoin",
                                 "HashAggregate"],
                                ["BatchEvalPython", "ArrowEvalPython",
                                 "CartesianProduct", "SortMergeJoin"]),
    # PageRank residual: g1's iteration shape above lazy-checkpoint
    # boundaries + one host-keyed join and a scalar rollup; no Python
    "g32_pagerank_residual": (["HashAggregate"],
                              ["BatchEvalPython", "ArrowEvalPython",
                               "CartesianProduct"]),
    # token-budget curve: corpus rollup to score-histogram cardinality;
    # the descending cumsum window runs over <= 1001 rows BY DESIGN
    # (resolution-bounded, the a11 pattern) — so the SinglePartition
    # window is acceptable here and we assert the partial agg instead
    "px17_token_budget_curve": (["HashAggregate", "partial_count",
                                 "Window"],
                                ["BatchEvalPython", "ArrowEvalPython",
                                 "CartesianProduct", "SortMergeJoin"]),
    # Kneser-Ney: map-side HOF bigram gen; type-cardinality rollups with
    # two-phase count-distinct (single distinct col -> partial-distinct
    # group agg, no Expand needed); T broadcast; no Python anywhere
    "tx31_kneser_ney": (["HashAggregate", "partial_count"],
                        ["BatchEvalPython", "ArrowEvalPython",
                         "CartesianProduct"]),
    # SCC: the labels are checkpointed inside the constraint-propagation
    # guard, so the returned plan is one RDD scan; no Python, no cartesian
    "g33_scc_decomposition": (["Scan ExistingRDD"],
                              ["BatchEvalPython", "ArrowEvalPython",
                               "CartesianProduct"]),
    # substring runs: window-hash shuffle w/ partial aggs; the per-doc
    # interval fold is map-side array algebra; the Rabin-Karp scan is the
    # dd11 Arrow kernel (ArrowEvalPython is that one vectorized scan, by
    # design); forbid row-at-a-time Python and cartesian shapes
    "dd20_dup_substring_runs": (["HashAggregate", "partial_count"],
                                ["BatchEvalPython", "CartesianProduct"]),
    # condensation: label joins + pair rollup past the SCC checkpoints
    "g34_scc_condensation": (["HashAggregate", "partial_count"],
                             ["BatchEvalPython", "ArrowEvalPython",
                              "CartesianProduct"]),
    # PR curve: histogram rollup + tiny descending window (score grid,
    # <= 1001 rows by design) + broadcast scalar; no Python
    "a14_pr_curve": (["HashAggregate", "Window"],
                     ["BatchEvalPython", "ArrowEvalPython",
                      "SortMergeJoin"]),
    # modality transitions: HOF pair-gen map-side, 4-row-bounded rollup
    "mm16_modality_transitions": (["HashAggregate", "partial_count"],
                                  ["BatchEvalPython", "ArrowEvalPython",
                                   "SortMergeJoin"]),
    # export manifest: ONE partial-agged rollup on the 16-row shard key,
    # pure codegen digests, no joins, no Python
    "px19_export_manifest": (["HashAggregate", "partial_count"],
                             ["BatchEvalPython", "ArrowEvalPython",
                              "Join"]),
    # gap histogram: one per-user lag window, bounded histogram + tiny
    # cumulative window; integer/string bucket math, no libm, no Python
    "st14_session_gap_histogram": (["Window", "HashAggregate"],
                                   ["BatchEvalPython", "ArrowEvalPython",
                                    "SortMergeJoin"]),
    # condensation levels: checkpointed inside the constraint-propagation
    # guard like g33 — one RDD scan, no Python
    "g35_condensation_levels": (["Scan ExistingRDD"],
                                ["BatchEvalPython", "ArrowEvalPython",
                                 "CartesianProduct"]),
    # recall curve: keyed windows over probed rows (the broadcast scoring
    # joins sit behind the scored branch's lineage-cut checkpoint and are
    # audited via an15's entry); no row-at-a-time Python
    "an16_ivf_recall_curve": (["Window"],
                              ["BatchEvalPython", "ArrowEvalPython"]),
    # NDCG: top-k via global sort-limit (TakeOrderedAndProject), rank
    # windows over the k selected rows only; no corpus window, no Python
    "ix15_ndcg": (["TakeOrderedAndProject", "Window"],
                  ["BatchEvalPython", "ArrowEvalPython",
                   "CartesianProduct"]),
    # Poisson bootstrap: one 16x-expanded map pass, one 16-key partial
    # agg, broadcast summary join; no Python, no corpus sort
    "a16_poisson_bootstrap_ci": (["HashAggregate", "partial_sum"],
                                 ["BatchEvalPython", "ArrowEvalPython",
                                  "SortMergeJoin", "rangepartitioning("]),
    # confusion matrix: one cells rollup + broadcast margins, no Python
    "a17_langid_confusion": (["HashAggregate", "BroadcastHashJoin"],
                             ["BatchEvalPython", "ArrowEvalPython",
                              "SortMergeJoin"]),
    # farthest-first: final frame is the driver-built k-row table (the
    # traversal's per-round broadcast distance passes + global top-1s
    # run eagerly inside the operator); only forbid Python shapes
    "km3_farthest_first": ([],
                           ["BatchEvalPython", "ArrowEvalPython"]),
    # symmetric difference: two LeftAnti over distinct keys, unioned
    "so5_symdiff": (["LeftAnti", "Union"],
                    ["BatchEvalPython", "ArrowEvalPython",
                     "CartesianProduct"]),
    # change rate: one fingerprint equi-join + stratum partial agg
    "rc8_change_rate": (["HashAggregate", "partial_count"],
                        ["BatchEvalPython", "ArrowEvalPython",
                         "CartesianProduct"]),
    # sampled quantiles: per-type rank shuffle (w2 top-k shape) + tiny
    # per-type arrays; exact side compresses to distinct values first
    "ks11_sampled_quantiles": (["Window", "HashAggregate"],
                               ["BatchEvalPython", "ArrowEvalPython",
                                "CartesianProduct"]),
    # McNemar: one map-side pass + one global partial agg; no joins
    "a18_mcnemar": (["HashAggregate", "partial_sum"],
                    ["BatchEvalPython", "ArrowEvalPython", "Join",
                     "Exchange hashpartitioning"]),
    # readability: pure map-side codegen (let-bound word split + two
    # regexp_counts) — NO exchange, no joins, no Python
    "tx21_readability": (["[codegen id :"],
                         ["Exchange", "BatchEvalPython",
                          "ArrowEvalPython"]),
    # IP apportionment: per-IP windows (bounded by virtual-host
    # fan-out) + broadcast totals join; exact integer DIV; no Python
    "w8_ip_apportion": (["Window", "HashAggregate"],
                        ["BatchEvalPython", "ArrowEvalPython",
                         "CartesianProduct"]),
    # resize algebra: the designed Arrow Python island (MapInPandas) +
    # map-side md5 reduction; forbid row-at-a-time Python and shuffles
    "mm11_resize_algebra": (["MapInPandas"],
                            ["BatchEvalPython", "Exchange",
                             "CartesianProduct"]),
    # assortativity: degree joins at host cardinality + one scalar
    # moment rollup; no Python, no cartesian
    "g23_assortativity": (["HashAggregate", "partial_sum"],
                          ["BatchEvalPython", "ArrowEvalPython",
                           "CartesianProduct"]),
    # code detect: map-side codegen only (let-bound line split + regex
    # counts) — NO exchange, no joins, no Python
    "tx23_code_detect": (["[codegen id :"],
                         ["Exchange", "BatchEvalPython",
                          "ArrowEvalPython"]),
    # length buckets: per-bucket pack_sequences (block windows +
    # broadcast offsets) + one partial-agged rollup; no Python
    "px11_length_buckets": (["Window", "HashAggregate"],
                            ["BatchEvalPython", "ArrowEvalPython",
                             "CartesianProduct", "SortMergeJoin"]),
    # MRL recall: broadcast-query brute force on both sides (no corpus
    # self-join -> no SMJ on the corpus), window top-k, no Python
    "an9_mrl_recall": (["BroadcastNestedLoopJoin", "Window"],
                       ["BatchEvalPython", "ArrowEvalPython",
                        "CartesianProduct"]),
    # WAT metadata: map-side JSON render + 20-file groupBy + the
    # Content-Length splitter (the designed mapInPandas island)
    "wc5_wat_metadata": (["MapInPandas"],
                         ["BatchEvalPython", "CartesianProduct"]),
    # LM ranking: corpus filtered to query terms pre-shuffle; ctf/C
    # broadcast scalars (BNLJ); fixed-order 3-term log sum; no Python
    "ix7_lm_ranking": (["BroadcastNestedLoopJoin", "HashAggregate"],
                       ["BatchEvalPython", "ArrowEvalPython",
                        "CartesianProduct"]),
    # span audit: pure per-row HOF algebra over the span arrays — NO
    # exchange, no joins, no Python
    "mm12_span_audit": (["[codegen id :"],
                        ["Exchange", "BatchEvalPython",
                         "ArrowEvalPython"]),
    # soft-404: map-side regex+length signals into one partial-agged
    # host rollup; zero joins, zero exchanges beyond the final agg,
    # zero Python
    "f11_soft404": (["HashAggregate", "partial_sum"],
                    ["Join", "BatchEvalPython", "ArrowEvalPython"]),
    # clustering coeff: degree-ordered wedge joins with broadcast rank
    # tables; never a cartesian pair generator
    "g26_clustering_coeff": (["BroadcastHashJoin"],
                             ["CartesianProduct", "BatchEvalPython"]),
    # mirror detection: df-cap is a broadcast semi filter; exact verify
    # joins the collect_set arrays — no cartesian, no Python
    "g24_mirror_hosts": (["BroadcastHashJoin"],
                         ["CartesianProduct", "BatchEvalPython",
                          "ArrowEvalPython"]),
    # tf-idf keywords: df/N join back broadcast; per-doc window (the
    # corpus never range-partitions globally)
    "tx24_tfidf_keywords": (["BroadcastHashJoin", "Window"],
                            ["SortMergeJoin", "BatchEvalPython",
                             "Exchange SinglePartition"]),
    # script mix: strip-and-subtract integer algebra, map-side only
    "tx26_script_detect": (["[codegen id :"],
                           ["Exchange", "BatchEvalPython",
                            "ArrowEvalPython"]),
    # FIM transform: md5-coin string algebra, map-side only
    "px12_fim_transform": (["[codegen id :"],
                           ["Exchange", "BatchEvalPython",
                            "ArrowEvalPython"]),
    # SCD2: ONE hash exchange on the key; both windows share the sort;
    # never a global single-partition window
    "st10_scd2_intervals": (["Window"],
                            ["Exchange SinglePartition",
                             "BatchEvalPython", "Join"]),
    # proximity: per-term running maxes share one per-doc sort; no
    # position self-joins
    "ix9_proximity_rank": (["Window"],
                           ["SortMergeJoin", "CartesianProduct",
                            "BatchEvalPython"]),
    # simrank: per-round lineage cuts mean the FINAL plan reads the
    # last checkpoint — assert the cut happened (ExistingRDD scan)
    "g25_simrank": (["Scan ExistingRDD"],
                    ["CartesianProduct", "BatchEvalPython"]),
    # UCB: one partial-agged host rollup + scalar broadcast (the
    # top-k window over hosts is host-cardinality by design)
    "w9_ucb_host_select": (["HashAggregate", "partial_count"],
                           ["BatchEvalPython", "SortMergeJoin"]),
    # CEP sequence: lead() columns over ONE per-key Exchange+Sort
    "st11_event_sequence": (["Window"],
                            ["Exchange SinglePartition", "Join",
                             "BatchEvalPython"]),
    # katz: per-round lineage cuts — final plan reads the checkpoint
    "g27_katz": (["Scan ExistingRDD"],
                 ["CartesianProduct", "BatchEvalPython"]),
    # char entropy: sorted-fold HOF algebra, map-side only
    "tx25_char_entropy": (["[codegen id :"],
                          ["Exchange", "BatchEvalPython",
                           "ArrowEvalPython"]),
    # blocked ED-join: prefix-key equi-join (shuffle on blk), Levenshtein
    # verify codegen-side on candidates only — never a cartesian
    "dd17_edit_distance": (["levenshtein"],
                           ["CartesianProduct", "BatchEvalPython",
                            "ArrowEvalPython"]),
    # MIPS: broadcast query batch over one corpus scan (BNLJ, no cartesian)
    "an11_mips_topk": (["BroadcastNestedLoopJoin"],
                       ["CartesianProduct", "BatchEvalPython"]),
    # kNN graph: mutual flag joins EDGES (n*k rows, key-shuffled — NOT
    # broadcast: at 10^10 nodes the edge list dwarfs the driver), and the
    # all-pairs scorer is the broadcast-NL corpus scan, never a cartesian
    # brute kNN edges: dense Arrow kernel (broadcast matrix inside
    # MapInPandas) — the n^2 pair join/window no longer exists; mutual
    # flag remains an edge-list equi-join (no cartesian anywhere)
    "an12_knn_graph": (["MapInPandas"],
                       ["CartesianProduct", "BatchEvalPython"]),
    # interval-overlap: two-sided bucket-expansion EQUI-join — the per-key
    # inequality nested-loop/cartesian must never appear (j8 discipline)
    "j9_interval_overlap": ([], ["BroadcastNestedLoopJoin",
                                 "CartesianProduct", "BatchEvalPython",
                                 "ArrowEvalPython"]),
    # CUBE marginals: ONE Expand + one partial-agged exchange, not four
    # scans of the corpus; never Python
    "a9_metrics_cube": (["Expand", "partial_count"],
                        ["BatchEvalPython", "ArrowEvalPython", "Join"]),
    # range search: broadcast query batch over ONE corpus scan (BNLJ is
    # the broadcast form), never a shuffled cartesian
    "an10_range_search": (["BroadcastNestedLoopJoin"],
                          ["CartesianProduct", "BatchEvalPython"]),
    # dHash buckets: decode island is the shared mapInPandas kernel; the
    # bit algebra + bucket window are JVM-side (no per-row Python)
    "mm13_dhash_buckets": (["MapInPandas", "Window"],
                           ["BatchEvalPython"]),
    # meta robots: pure token algebra over one split — map-side only
    "f13_meta_robots": (["[codegen id :"],
                        ["Exchange", "BatchEvalPython", "ArrowEvalPython"]),
    # rel=canonical collapse: pointer doubling's final plan reads the
    # per-round lineage cuts; cluster rollup is one keyed window
    "p8_rel_canonical": (["Window"],
                         ["CartesianProduct", "BatchEvalPython",
                          "ArrowEvalPython"]),
    # n-gram novelty: per-doc-distinct grams map-side, ONE partial-agged
    # df shuffle, gram-keyed join back; never a window or cartesian
    "tx27_ngram_novelty": (["HashAggregate", "partial_count"],
                           ["BatchEvalPython", "ArrowEvalPython",
                            "Window", "CartesianProduct"]),
    # bloom-pruned join: probe is codegen bit algebra (packed-mask
    # literal), survivors agg then broadcast-join the dim — no Python,
    # no shuffle join, no cartesian
    "j10_bloom_prune_join": (["BroadcastHashJoin"],
                             ["BatchEvalPython", "ArrowEvalPython",
                              "CartesianProduct", "SortMergeJoin"]),
    # curriculum: distributed global_rank (range-partitioned block
    # windows + broadcast offsets) — the oracle's global ORDER BY window
    # must never appear as a single-partition data window
    "px13_curriculum": (["Window", "BroadcastHashJoin"],
                        ["BatchEvalPython", "ArrowEvalPython",
                         "SortMergeJoin"]),
    # modularity: labels come from checkpointed LPA rounds (ExistingRDD
    # scan); scalar m is a one-row broadcast, never a data cartesian
    "g28_modularity": (["Scan ExistingRDD"],
                       ["BatchEvalPython", "ArrowEvalPython",
                        "CartesianProduct"]),
    # aspect buckets: keyed_global_rank block windows + broadcast
    # offsets; the few-huge-buckets regime must never plan one task per
    # bucket key over the data (no single-partition exchange)
    "mm14_aspect_buckets": (["Window", "BroadcastHashJoin"],
                            ["BatchEvalPython", "ArrowEvalPython",
                             "Exchange SinglePartition",
                             "SortMergeJoin"]),
    # trap gate: let-bound HOF algebra over one split — map-side only
    "f14_trap_segments": (["[codegen id :"],
                          ["Exchange", "BatchEvalPython",
                           "ArrowEvalPython"]),
    # MMR: greedy rounds end in a checkpointed union (ExistingRDD); the
    # shortlist/pair tables are broadcast-scale joins, never cartesian
    "an13_mmr_rerank": (["Scan ExistingRDD"],
                        ["BatchEvalPython", "ArrowEvalPython",
                         "CartesianProduct"]),
    # RRF: each run's top-k via per-partition heaps (TakeOrdered), rank
    # windows k-bounded by the preceding limit; fusion joins k-row sets
    "ix10_rrf_fusion": (["TakeOrderedAndProject"],
                        ["BatchEvalPython", "ArrowEvalPython",
                         "CartesianProduct"]),
    # MERGE apply: ONE changelog-keyed window + one key join — never a
    # global single-partition window, never Python
    "st12_changelog_merge": (["Window"],
                             ["Exchange SinglePartition",
                              "BatchEvalPython", "ArrowEvalPython",
                              "CartesianProduct"]),
    # inertia: km1's checkpointed assignment + one partial-agged rollup
    "an14_ivf_inertia": (["Scan ExistingRDD", "partial_count"],
                         ["BatchEvalPython", "ArrowEvalPython",
                          "CartesianProduct"]),
    # scene cuts: the shared mapInPandas decode island; all windows are
    # per-video keyed, never a global single-partition window
    "mm15_scene_cuts": (["MapInPandas", "Window"],
                        ["Exchange SinglePartition", "BatchEvalPython"]),
    # chunking: split/sequence/posexplode/slice entirely map-side — the
    # plan must carry NO exchange of any kind and no Python
    "px14_rag_chunks": (["Generate"],
                        ["Exchange", "BatchEvalPython", "ArrowEvalPython",
                         "CartesianProduct"]),
    # two-pass frequent items: Arrow-batch candidate pass + broadcast
    # semi-join exact pass; by-key shuffle carries candidates only
    "ks7_heavy_hitters": (["MapInPandas", "LeftSemi"],
                          ["BatchEvalPython", "CartesianProduct",
                           "SortMergeJoin"]),
    # backoff: two keyed partial aggs + broadcastable key join + one-row
    # frontier dim; never a window, never Python
    "f15_retry_backoff": (["BroadcastHashJoin"],
                          ["Window", "BatchEvalPython", "ArrowEvalPython",
                           "CartesianProduct"]),
    # champion lists: IN-filter before the tf shuffle; salted two-phase
    # top-r (keyed windows only), doc-keyed rollup; no Python
    "ix11_champion_lists": (["Window"],
                            ["Exchange SinglePartition", "BatchEvalPython",
                             "ArrowEvalPython", "CartesianProduct"]),
    # decayed counts: map-side dyadic weight + ONE keyed partial-agg
    # rollup; frontier scalar a one-row broadcast; never a window
    "ks8_decayed_counts": (["partial_count"],
                           ["Window", "BatchEvalPython", "ArrowEvalPython",
                            "CartesianProduct"]),
    # --- round 4 ---
    # nearest join: backward+forward union-and-window fills — keyed
    # windows only, NO join operator, no inequality pair blow-up
    "j11_nearest_join": (["Window"],
                         ["CartesianProduct", "BroadcastNestedLoopJoin",
                          "BatchEvalPython", "ArrowEvalPython"]),
    # centroid drift: (cell x half x dim) partial-agg + tiny centroid
    # join + per-cell ordered fold; the corpus shuffles once
    "km2_centroid_drift": (["HashAggregate"],
                           ["CartesianProduct", "BatchEvalPython",
                            "ArrowEvalPython"]),
    # crawl-equity gini: distributed block-rank (global_rank windows +
    # broadcast offsets) over host-cardinality counts, scalar rollup
    "w10_host_gini": (["Window", "BroadcastHashJoin"],
                      ["CartesianProduct", "BatchEvalPython",
                       "ArrowEvalPython"]),
    # dup-gram mass: two-phase (stratum, gram) agg; no joins, no Python
    "dd18_dup_gram_mass": (["partial_count"],
                           ["SortMergeJoin", "CartesianProduct",
                            "BatchEvalPython", "ArrowEvalPython"]),
    # calibration: map-side integerized score + ONE bucket-cardinality
    # partial-agged rollup; no window, no joins
    "a10_calibration_buckets": (["HashAggregate"],
                                ["Window", "SortMergeJoin",
                                 "CartesianProduct", "BatchEvalPython",
                                 "ArrowEvalPython"]),
    # stream-static enrichment: the dim rides a broadcast; the event
    # side never shuffles for the join (J2 discipline, streaming twin)
    "st13_stream_enrich": (["BroadcastHashJoin"],
                           ["SortMergeJoin", "CartesianProduct",
                            "BatchEvalPython", "ArrowEvalPython"]),
    # NEAR/k proximity: bucket-expansion EQUI-join on (doc, bucket) —
    # the per-key inequality nested-loop must never appear (j8/j9
    # discipline)
    "ix12_proximity": ([],
                       ["BroadcastNestedLoopJoin", "CartesianProduct",
                        "BatchEvalPython", "ArrowEvalPython"]),
    # AUC rank-sum: one partial-agged rollup to distinct-score
    # cardinality; the single-partition window over that tiny table is
    # by design (resolution-bounded), so Window is allowed — forbid
    # joins and Python only
    "a11_auc_ranksum": (["HashAggregate", "Window"],
                        ["SortMergeJoin", "CartesianProduct",
                         "BatchEvalPython", "ArrowEvalPython"]),
    # AMS F2: 16 map-side sign columns -> ONE partial agg; the exact-F2
    # twin is the only shuffle; estimate rides a broadcast scalar join
    "ks9_ams_f2": (["partial_sum", "BroadcastNestedLoopJoin"],
                   ["SortMergeJoin", "Window",
                    "BatchEvalPython", "ArrowEvalPython"]),
    # VSM cosine: tf/df/norm partial aggs; the query side broadcasts
    # (|Q| rows), so the corpus-side dot product never reshuffles
    "ix13_vsm_cosine": (["BroadcastHashJoin", "partial_count"],
                        ["CartesianProduct", "BatchEvalPython",
                         "ArrowEvalPython"]),
    # fuzzy decontamination: eval band keys broadcast onto the corpus
    # band projection — no corpus self-join, no Python
    "tx28_fuzzy_decontaminate": (["BroadcastHashJoin"],
                                 ["CartesianProduct", "BatchEvalPython",
                                  "ArrowEvalPython"]),
    # k-truss: wedge self-join + partial-agged support per round; the
    # host-cardinality keep-joins may broadcast — forbid nested-loop/
    # cartesian and Python anywhere in the peel
    "g30_ktruss": (["HashAggregate"],
                   ["CartesianProduct", "BroadcastNestedLoopJoin",
                    "BatchEvalPython", "ArrowEvalPython"]),
    # multi-probe IVF: centroid table + probe set + query vectors all
    # ride broadcasts; the corpus never sort-merges or cartesians
    "an15_ivf_multiprobe": (["BroadcastHashJoin", "HashAggregate"],
                            ["SortMergeJoin", "CartesianProduct",
                             "BatchEvalPython", "ArrowEvalPython"]),
    # prefix-filter similarity join: df rollup + per-doc rank window +
    # bucketed candidate gen + carried-size verify; never a cartesian
    # all-pairs and no Python anywhere
    "dd19_prefix_filter_join": (["HashAggregate", "Window"],
                                ["CartesianProduct",
                                 "BroadcastNestedLoopJoin",
                                 "BatchEvalPython", "ArrowEvalPython"]),
    # average precision: two distributed block-rank passes (block-local
    # windows + broadcast offsets) + scalar rollup; the corpus-sized
    # single-task global window must never appear
    "a12_average_precision": (["Window", "BroadcastHashJoin"],
                              ["SortMergeJoin", "CartesianProduct",
                               "BatchEvalPython", "ArrowEvalPython"]),
    # OOV audit: top-v vocab via TakeOrderedAndProject (never a global
    # sort) broadcast onto the held-out word stream
    "tk4_oov_rate": (["TakeOrderedAndProject", "BroadcastHashJoin"],
                     ["SortMergeJoin", "CartesianProduct",
                      "BatchEvalPython", "ArrowEvalPython"]),
    # Gopher gates: one let-bound fold per row + one group-cardinality
    # rollup; integer-only outputs, no joins, no windows, no Python
    "tx29_gopher_gates": (["HashAggregate"],
                          ["Window", "SortMergeJoin", "CartesianProduct",
                           "BatchEvalPython", "ArrowEvalPython"]),
    # Bloom FPR audit: bit-set + anti-join + broadcast probe, scalar
    # rollups ride broadcast nested-loop (1-row frames) — forbid SMJ
    # and Python
    "ks10_bloom_fpr": (["BroadcastHashJoin"],
                       ["SortMergeJoin",
                        "BatchEvalPython", "ArrowEvalPython"]),
    # dataset card: ONE Expand (rollup) + partial/final agg; the dup
    # join shuffles on fingerprint; no windows, no Python
    "px15_dataset_card": (["Expand", "HashAggregate"],
                          ["Window", "CartesianProduct",
                           "BatchEvalPython", "ArrowEvalPython"]),
}

def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def splice_sections(text: str, sections: dict[str, str]) -> str:
    """`text` (PLANS.md) with each `## <name>` section named in `sections`
    replaced in place, keeping the blank lines that followed it; a name
    with no section yet is appended at the end."""
    todo = dict(sections)
    out = []
    for part in re.split(r"(?m)^(?=## )", text):
        name = part[3:].split("\n", 1)[0].strip() if part.startswith("## ") \
            else None
        if name in todo:
            part = todo.pop(name).rstrip("\n") + part[len(part.rstrip("\n")):]
        out.append(part)
    out.extend("\n" + body for body in todo.values())
    return "".join(out)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None,
                    help="comma-separated check names; rewrites only "
                         "their PLANS.md sections")
    args = ap.parse_args()

    from crawler_spark.queries import queries
    from crawler_spark.session import get_spark
    spark = get_spark("explain_audit", "local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    qs = queries()
    checks = CHECKS
    if args.only:
        wanted = set(args.only.split(","))
        unknown = wanted - set(CHECKS)
        if unknown:
            sys.exit(f"unknown check names: {sorted(unknown)}")
        checks = {k: v for k, v in CHECKS.items() if k in wanted}
    sections, failures = {}, []
    for name, (need, forbid) in checks.items():
        txt = plan_text(qs[name](spark, args.sf))
        verdicts = []
        for s in need:
            ok = s in txt
            verdicts.append(f"requires `{s}`: {'OK' if ok else 'MISSING'}")
            if not ok:
                failures.append((name, f"missing {s}"))
        for s in forbid:
            ok = s not in txt
            verdicts.append(f"forbids `{s}`: {'OK' if ok else 'PRESENT'}")
            if not ok:
                failures.append((name, f"forbidden {s}"))
        interesting = [ln for ln in txt.splitlines()
                       if any(k in ln for k in (
                           "PushedFilters", "ReadSchema", "BroadcastHashJoin",
                           "TakeOrderedAndProject", "LeftAnti", "SortMergeJoin",
                           "AdaptiveSparkPlan", "ArrowEvalPython",
                           "BatchEvalPython", "WholeStageCodegen"))]
        sections[name] = (
            f"## {name}\n\n" + "\n".join(f"- {v}" for v in verdicts)
            + "\n\n```\n" + "\n".join(interesting[:14]) + "\n```\n")

    out = Path(__file__).resolve().parents[1] / "PLANS.md"
    if args.only:
        out.write_text(splice_sections(out.read_text(), sections))
    else:
        out.write_text(
            "# PLANS.md — physical-plan audit (generated by tools/explain_audit.py)\n\n"
            "What the optimizer must deliver for these operators to survive a\n"
            "100x scale-up: filters and projections reaching the parquet scan,\n"
            "small dims broadcast (never sort-merge), top-k without a global\n"
            "sort, anti-join for dedup, aggregation as partial+final hash agg,\n"
            "and no row-at-a-time Python in any hot path.\n\n"
            + "\n".join(sections.values()))
    print(f"wrote {out}")
    if failures:
        for name, why in failures:
            print(f"FAIL {name}: {why}")
        sys.exit(1)
    print(f"all {len(checks)} plan checks pass")


if __name__ == "__main__":
    main()
