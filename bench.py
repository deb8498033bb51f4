#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed through the same ``__spark_entry__.queries()``
callables the correctness gate checks — benchmarking the verified plans,
not specially-tuned variants.

COST-BATCHED PROCESS ISOLATION (VERDICT r4 #2 refined by r8 #1): heavy
queries run in private driver subprocesses — a shared session
accumulates localCheckpoint RDD blocks, broadcast remnants, and GC
pressure across 40+ queries (measured 3x distortion on queries that
follow a heavy one: motif 24.3s in-bench vs ~8.5s standalone, r4
audit) — while sub-second scans share a JVM 10-per-child: the r8
one-query-per-child design paid ~203 x (JVM+warmup) ≈ 60-70 min of
untimed overhead and the DRIVER's bench timed out (rc=124, no
artifact). Children launch heavies-first under a wall budget
(SPARK_GRAFT_BENCH_BUDGET_SEC) that sheds cheap batches into a
"skipped" list instead of dying. The graph snapshot is built ONCE in
the parent (reported as graph_ingest_sec) and shared with children via
SPARK_GRAFT_SNAPSHOT_ROOT, so children pay only the parquet load. JVM
startup stays OUTSIDE the timer (the child times only plan + execution).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

_CHILD_MARK = "BENCH_CHILD_RESULT "

HEADLINE = [
    "egress_edges",           # scan + frontier join + agg (Phase-1 slice)
    "get_nodes_filtered",     # pushdown scan
    "get_edges_filtered",     # edge scan + JSON predicate
    "ingress_edges",          # reverse frontier join
    "paths_to",               # iterative BFS
    "degrees",                # two shuffles + join
    "connected_components_geo",  # iterative superstep loop
    "connected_components_two_phase_geo",  # O(log n) star rounds
    "pagerank_top20",         # 10 supersteps
    "sssp_weighted",          # Bellman-Ford frontier relaxation
    "khop_features",          # 2-hop pair materialization + feature agg
    "triangles_coorder",      # 2 shuffle joins on derived graph
    "hits_top20",             # 16 half-steps, in-plan L1 normalizer
    "kcore_parts",            # run-to-fixpoint degree peeling
    "link_prediction_parts",  # degree-capped wedge join + anti-join
    "motif_supply_chain",     # 4-hop join chain
    "tpch_q1",                # classic scan-heavy aggregate
    "tpch_q3",                # selective 3-way broadcast join + top-k
    "dedup_exact",            # hash groupBy
    "doc_chunks",             # shuffle-free token-window chunking
    "dedup_minhash",          # 64-perm signatures + band join (all pairs)
    "dedup_minhash_keep",     # cluster-keep dedup (verified pairs + CC)
    "dedup_minhash_keep_star",  # star-linkage keep (planted provable fixture)
    "similarity_topk",        # corpus scan x 5 queries
    "similarity_ivf",         # centroid-bucket pruned ANN
    "quantized_topk",         # int8 payloads, integer dot products
    "asof_purchase_click",    # union-merge as-of join (single shuffle)
    "range_join_clicks",      # bucketed batch interval join
    "quality_topk",           # quality scoring + global top-k
    "contamination",          # n-gram train/eval semi-join (long keys)
    "bm25_search",            # term-filtered tf explode + broadcast idf
    "redact_pii",             # regex scrub passes (map-only)
    "funnel_events",          # chained conditional-MIN aggregations
    "pipeline_e2e",           # dedup->split->chunk->pack composed plan
    "label_propagation_geo",  # 4 LPA supersteps (argmax messages)
    "window_rank_customers",  # partitioned window rank
    "text_stats",             # tokenize + agg
    "multimodal_meta",        # Arrow mapInPandas
    "events_tumbling",        # window agg
    "events_session",         # session window
    "events_outliers",        # two-pass z-score
    "events_rollup_multi",    # minute->hour->day one-scan rollup
    "cohort_retention",       # weekly retention triangle
    "event_transitions",      # per-user Markov lag pairs
    "basket_lift",            # pair join + in-plan order-count scalar
    "streaming_static_join",  # micro-batch stream-static enrichment
    "gopher_quality",         # Gopher rule signals (pure expressions)
    "dedup_minhash_keep_best",  # quality-aware cluster keep
    "dedup_exact_spans",      # cross-doc 8-gram span removal
    "tpch_q6",                # pushdown-only scan aggregate
    "tpch_q5",                # 6-way broadcast-chained join
    "assortativity_coorder",  # exact-integer degree correlation
    "random_walks_parts",     # hash-deterministic walk corpus
    "pagerank_weighted",      # weight-proportional surfer, 6 supersteps
    "harmonic_parts",         # landmark BFS + sampled centrality
    "kmeans_embeddings",      # quantized-grid Lloyd training
    "dedup_keep_source",      # source-priority near-dup keep
    "curriculum_shards",      # distributed global rank + shard cut
    "graph_summary",          # per-label cardinality/fan-out catalog
    "betweenness_parts",      # landmark Brandes sigma/delta sweeps
    "cdc_chunks",             # rolling-hash content-defined chunking
    "collocations",           # exact rational-lift bigram mining
    "kmeans_quality_profile",  # clusters joined to doc-quality stats
    "tpch_q4",                # non-equi semi-join (late-line EXISTS)
    "tpch_q10",               # returned-item reporting top-20
    "tpch_q14",               # conditional-agg promo share
    "tpch_q16",               # anti-join + count-distinct suppliers
    "tpch_q18",               # HAVING-subquery large-volume customers
    "tpch_q19",               # disjunctive brand/size/qty bands
    "mixture_sample",         # sqrt-damped per-source corpus shaping
    "customer_similarity",    # bipartite-projection wedge scoring
    "node2vec_parts",         # biased-walk corpus generation
    "mis_geo",                # Luby MIS symmetry breaking
    "token_rarity",           # vocab join + per-doc rarity rollup
    "dedup_incremental",      # asymmetric new-vs-base band join
    "dedup_policy_sweep",     # 3 keep policies off ONE clustering
    "link_prediction_auto",   # degree-histogram-derived wedge cap
    "tpch_q2",                # decorrelated min-cost supplier join-back
    "tpch_q9",                # snowflake probe, decimal profit
    "tpch_q11",               # scalar-threshold HAVING (1-row broadcast)
    "tpch_q20",               # nested semi-join chain
    "tpch_q21",               # exists/not-exists as one per-order agg
    "semantic_prune",         # SemDeDup: cluster-bounded integer prune
    "coreness_parts",         # full core decomposition (h-index iter)
    "hybrid_search",          # BM25 + ANN reciprocal-rank fusion
    "cms_heavy_hitters",      # fixed-memory count-min heavy hitters
    "store_incremental_degrees",  # O(changes) degree maintenance
    "streaming_fold",         # micro-batch mutation fold (actor parity)
    "streaming_store_sink",   # stream -> durable snapshot store chain
    "streaming_session",      # applyInPandasWithState session windows
    "streaming_dedup",        # watermarked dropDuplicates
    # r7: perf rows for the heavy oracled operators that had none
    # (VERDICT r6 #4 — iterative peeling ops with no perf signal are
    # where silent regressions hide)
    "ktruss_parts",           # triangle-support peeling to fixpoint
    "modularity_geo",         # Newman modularity of LPA communities
    "scc_event_types",        # path-doubling SCC on the type digraph
    "eccentricity_parts",     # landmark BFS eccentricity
    "walk_skipgrams",         # walk corpus -> skip-gram pair explode
    "similarity_lsh",         # hyperplane-LSH bucketed ANN
    "dedup_simhash",          # pigeonhole simhash near-dup pairs
    "dedup_jaccard",          # within-bucket exact n-gram Jaccard
    "embedding_dedup_pairs",  # cosine near-dup pairs via LSH buckets
    "events_sliding",         # sliding-window event aggregation
    "mixture_weights",        # sqrt-damped source mixture solve
    "paths_to_undirected",    # undirected bounded BFS pathfinding
    # r7 additions
    "hll_distinct_events",    # fixed-memory HLL distinct count
    "sessionize_events",      # gaps-and-islands ordinal sessions
    "set_similarity_join",    # exact-recall prefix-filtered Jaccard join
    "rich_club_parts",        # hub-density coefficient per k
    "bpe_pair_counts",        # BPE first-merge pair frequencies
    # r7 late additions
    "winnow_fingerprints",    # MOSS winnowing fingerprint sets
    "winnow_pairs",           # shared-fingerprint overlap report
    "ngram_diversity",        # distinct/total n-gram corpus profile
    "blocklist_report",       # blocklist document-frequency report
    "profile_orders",         # one-pass per-column dataset profile
    "dedup_containment",      # prefix-filtered directed containment join
    "distinctive_terms",      # integer-exact per-doc keyword extraction
    "vocab_growth",           # Heaps-law cumulative type curve
    "quantile_filter_docs",   # per-source discrete-quantile gate
    "streaming_cms",          # mergeable micro-batch count-min sketch
    "dedup_containment_prune",  # dominance subset pruning
    "streaming_hll",          # mergeable micro-batch HLL registers
    "doc_novelty",            # first-occurrence per-doc novelty signal
    "store_version_summary",  # per-version O(changes) audit counts
    "hll_grouped_events",     # one-pass per-group HLL cardinality profile
    "asof_view_next_purchase",  # forward as-of (conversion latency)
    "event_rate_features",    # integer-range-frame rolling features
    "corpus_diff",            # sha2-digest crawl-over-crawl delta
    "source_overlap",         # cross-source shingle-overlap matrix
    # --- round 8: non-trivial unbenched tail (VERDICT r7 #4) ---
    "butterfly_count",        # bipartite wedge-pair count
    "ppr_customer",           # personalized PageRank supersteps
    "clustering_coefficient",  # triangles / wedge ratio per node
    "streaming_interval_join",  # stream-stream time-interval join
    "streaming_running_totals",  # stateful running aggregation
    "node2vec_skipgrams",     # biased walks -> skip-gram pairs
    "pattern_diamond",        # 5-term branching pattern (shared terminal var)
    "pattern_supply_gap",     # pair-bound negation pattern (anti-join)
    "bloom_prune_report",     # broadcastable bloom build + k semi-join probes
    "closeness_parts",        # third estimator off the landmark-BFS substrate
    "temporal_triples",       # ordered-motif census: prefix counts + interval join
    "split_leakage_report",   # near-dup pairs x hash split (leakage audit)
    "corpus_drift_tvd",       # exact-integer TVD per source vs corpus
    "knn_components",         # mutual-kNN graph -> CC clustering
    "lexical_diversity",      # per-doc Simpson diversity, exact integers
    "store_incremental_topk",  # touched-partition top-k view maintenance
    "retrieval_eval_bm25",    # multi-query BM25 + MRR/recall grading
    "coloring_geo",           # degree-major Jones-Plassmann coloring
    "concurrent_sessions",    # sweep-line peak concurrency (bucket cumsum)
    "session_paths",          # within-session event trigrams
    "clique_profile_parts",   # triangle+K4 ladder on min-support graph
    "negative_edges_coorder", # bucketed negative sampling
    "fastrp_parts",           # integer FastRP embeddings (2 rounds)
    "phrase_search",          # positional-posting phrase intersection
    "entity_linkage_parts",   # blocking-key ER + levenshtein verify
    "ra_link_prediction",     # integer-ppm resource-allocation index
    "degree_anomalies_parts", # histogram median/MAD outlier report
    "rolling_active_users",   # trailing-7-day distinct users
    "scd2_user_state",        # SCD2 validity intervals from change log
    "time_weighted_value",    # exact-decimal step-function integral
    "textrank_keywords",      # weighted PageRank on word co-occurrence
    "wl_colors_parts",        # 2-round 1-WL color refinement
    "event_bursts",           # per-type median/MAD hourly burst flags
    "dag_layers_graph",       # longest-path DAG layering
    "equidepth_prices",       # global-rank equi-depth histogram
    "edge_embeddedness",      # per-edge triangle support + weak ties
    "seeded_labels_parts",    # clamped-seed majority-vote propagation
    "store_version_diff",     # row-level version change manifest
    "cc_incremental_geo",     # O(changes) CC maintenance (component graph)
    "doc_length_percentiles", # histogram-windowed per-group permille
    "label_path_census",      # A^3 by label via count propagation
    "basket_triples",         # Apriori-pruned frequent 3-itemsets
    "price_qty_correlation",  # exact-moment Pearson (decimal sums)
    "interval_coverage",      # gaps-and-islands interval-union length
    "local_clustering_parts", # per-node triangles / C(deg,2)
    "event_trends",           # integer-exact daily slope signs
    "k_anonymity_customers",  # quasi-identifier group-size audit
    "fd_discovery_part",      # functional-dependency inference
    "matching_parts",         # deterministic Luby maximal matching
    # round-8 second block
    "skyline_parts",          # two-phase distributed Pareto frontier
    "sample_per_source",      # md5-ranked k-per-group holdout carve
    "winsorize_orders",       # rank-cut winsorized decimal sums
    "l_diversity_customers",  # sensitive-attribute diversity audit
    "reorder_gaps",           # inter-order gap median/p90 per segment
    "katz_parts",             # truncated Katz, exact BIGINT nano-score
    "brand_mixing_parts",     # categorical mixing matrix
    "scc_condensation_trade", # SCC-contracted trade-flow DAG
    "dedup_recall_eval",      # measured LSH recall vs grid-join truth
    "dedup_cluster_stats",    # near-dup cluster size histogram
    "dedup_manifest",         # survivor -> removed lineage manifest
    "source_concentration",   # per-source token Pareto audit
    "bowtie_trade",           # Broder bow-tie macro-structure
    "rfm_quintiles",          # integer-tile RFM customer grid
    "rfm_segments",           # fixed-threshold 8-way RFM split
    "pq_codes",               # product-quantization encoding (4x16)
    "pq_topk",                # PQ asymmetric-distance top-10
    "kmeans_ari",             # clustering-vs-label ARI (exact C(n,2))
    "embedding_dim_profile",  # per-dimension grid-exact health stats
    "hard_negatives",         # different-label nearest neighbors
    "streaming_dedup_ingest", # at-ingest dedup vs persisted base index
    "gini_order_values",      # exact sorted-rank Gini per group
    "order_reconciliation",   # exact-decimal cross-table audit
    "label_noise_knn",        # kNN label-disagreement audit
    "budget_trim_docs",       # per-source token-budget enforcement
    # --- round 9 additions ---
    "edge_betweenness_parts",  # Girvan-Newman edge dependency sums
    "importance_scores_docs",  # hashed-bucket DSIR-style selection
    "neighborhood_function_trade",  # exact ANF distance distribution
    "balanced_shards_docs",   # global-rank round-robin bin packing
    "tokenizer_fertility_docs",  # per-source subword cost model
    "semantic_decontam",      # broadcast-eval LSH cross-set leak scan
    "nearest_seed_parts",     # multi-source BFS Voronoi labeling
    "streaming_histogram",    # mergeable fixed-bin distribution
    "induced_subgraph_parts", # shuffle-free hash-sampled subgraph
    "onion_layers_parts",     # peel-wave onion decomposition
    # --- round 10 additions ---
    "hyperanf_trade",         # HLL-register ANF, fixed-memory sketch
    "effective_diameter_trade",  # 90% interpolated distance summary
    "stratified_kfold_embeddings",  # balanced per-label CV folds
    "mad_outliers_events",    # robust median/MAD outlier audit
    "benford_orders",         # first-digit forensic conformity audit
    "coverage_curve_docs",    # greedy vocabulary set cover of sources
    "kcenter_trade",          # farthest-first landmark selection
    "mmr_topk_embeddings",    # diversity-aware greedy re-ranking
    "cusum_events",           # integer CUSUM mean-shift changepoints
    # --- round 11 additions ---
    "drift_alarm_docs",       # per-source CUSUM drift alarms + TVD
    "kcenter_weighted_trade",  # distance-weighted Gonzalez landmarks
    "weighted_voronoi_trade",  # cheapest-hub weighted Voronoi labeling
    "weighted_harmonic_trade",  # exact-integer weighted harmonic centrality
    # --- round 12 additions ---
    "weighted_ecc_trade",     # weighted bounded eccentricity from landmarks
    "weighted_closeness_trade",  # exact-integer weighted closeness
    "weighted_effdiam_trade",  # interpolated weighted effective diameter
    "weighted_modularity_trade",  # affinity-weighted Newman Q of Voronoi
    "conductance_trade",      # per-community cut-quality (exact ppm)
    "attribution_events",     # exact-ppm multi-touch credit ledger
    # sub-second canaries (sample of the scan/CRUD tail: if these drift,
    # the fixed per-child session cost drifted, not a query plan)
    "get_node",               # point lookup canary
    "codec_roundtrip",        # codec encode/decode canary
    "topk_orders",            # small top-k canary
]

# ---------------------------------------------------------------------------
# Child batching (VERDICT r8 #1, repacked r11 per VERDICT r10 #1): the r8
# driver bench was KILLED at rc=124 because 203 one-query-per-subprocess
# children paid ~203 x (JVM startup + warmup + snapshot attach) of untimed
# overhead — more wall than the measured work itself; the r10 run swung the
# other way (67 children x ~30s overhead ~ 2000s of a 3000s budget) and
# SHED 93 of 223 queries. Isolation exists to protect HEAVY queries from
# each other's accumulated session state (r4 audit: 3x distortion after a
# heavy query in a 40+ query shared session); a 0.3s scan needs no private
# JVM, and the r11 band-exceedance guard (see _band_guard) now re-measures
# any query that lands >2x its band cap in a private JVM anyway — so
# distortion that slips through a denser packing is caught and corrected
# in the committed record instead of poisoning it (the r10 failure mode:
# pq_topk committed 17.3s vs 4.1s isolated). Queries are banded by
# steady-state cost and packed: <1.5s -> 10/child, 1.5-4s -> 6/child,
# 4-8s -> 4/child, 8-18s -> 3/child, >=18s and any UNLISTED (new/unknown)
# query -> isolated. That is ~45 children x ~30s ~ 1350s overhead + ~900s
# measured, inside the 3000s budget with guard headroom. Membership is
# hard-coded, not read from BENCH_DETAIL at runtime, so child grouping is
# stable and auditable round-over-round; re-derive with
# tools/regen_bench_buckets.py when a query's band genuinely moves.
# Band membership regenerated from the round-11 clean full record
# (224/224, 0 skipped, flat calibration 2.65->2.34, one guard
# re-measure committed) with nine borderline rows placed by isolated
# private-JVM re-measures instead of their shared-child numbers
# (winnow_fingerprints 7.5, set_similarity_join 6.7, dedup_containment
# 7.3 stay in the 4-8s band; similarity_lsh 10.3, winnow_pairs 10.7,
# doc_novelty 9.7, closeness_parts 8.2, kcenter_trade 10.3 are
# genuinely 8-18s now; the three queries newer than the record were
# placed by the same isolated measures: kcenter_weighted_trade 5.5
# lands 4-8s, weighted_voronoi_trade 3.7 and weighted_harmonic_trade
# 3.1 land 1.5-4s). The three r12 weighted-centrality queries were
# placed by isolated subset-bench measures at sf0.1 (weighted_ecc_trade
# 6.8, weighted_closeness_trade 4.9, weighted_effdiam_trade 7.1 — all
# 4-8s band; weighted_modularity_trade 4.8 and conductance_trade 4.6
# join them — both after checkpointing the shared Voronoi assignment
# once in the query, which cut conductance from a measured 23.5s of
# repeated relax-lineage evaluation; attribution_events
# 1.0 lands <1.5s). r12 regen audit
# (VERDICT r11 #5): re-deriving membership
# from the driver's r11 record (227/227, 912s) was evaluated and
# REJECTED — it repacks to 50 children with 10 isolated (worse density:
# the bimodal heavies' slow-mode in-run numbers promote them to
# isolated) versus 46/4 under the r11-session placement, and per this
# tool's own rule a band move needs a PLAN change, which none of the
# drifted rows had. The _bimodal_triplets guard now pins those rows'
# fast-mode costs in the artifact instead.
_BATCH10 = {
    "attribution_events",
    "asof_purchase_click", "asof_view_next_purchase", "benford_orders",
    "blocklist_report", "bloom_prune_report", "bpe_pair_counts",
    "budget_trim_docs", "cms_heavy_hitters", "codec_roundtrip",
    "cohort_retention", "collocations", "corpus_diff", "corpus_drift_tvd",
    "cusum_events", "dedup_exact", "dedup_exact_spans", "dedup_simhash",
    "degrees", "distinctive_terms", "doc_chunks", "doc_length_percentiles",
    "doc_novelty",
    "drift_alarm_docs", "egress_edges", "embedding_dim_profile",
    "event_rate_features", "event_transitions", "event_trends",
    "events_outliers", "events_rollup_multi", "events_session",
    "events_sliding", "events_tumbling", "fd_discovery_part",
    "funnel_events", "get_edges_filtered", "get_node", "get_nodes_filtered",
    "gini_order_values", "gopher_quality", "graph_summary",
    "hard_negatives", "hll_distinct_events", "hll_grouped_events",
    "ingress_edges", "interval_coverage", "k_anonymity_customers",
    "l_diversity_customers", "lexical_diversity", "mad_outliers_events",
    "mixture_sample", "mixture_weights", "multimodal_meta",
    "order_reconciliation", "phrase_search", "pipeline_e2e",
    "price_qty_correlation", "profile_orders", "quality_topk",
    "quantile_filter_docs", "range_join_clicks", "redact_pii",
    "reorder_gaps", "rfm_quintiles", "rfm_segments", "rolling_active_users",
    "sample_per_source", "scd2_user_state", "semantic_decontam",
    "session_paths", "sessionize_events", "skyline_parts",
    "source_concentration", "stratified_kfold_embeddings",
    "streaming_static_join", "text_stats", "time_weighted_value",
    "token_rarity", "tokenizer_fertility_docs", "topk_orders", "tpch_q1",
    "tpch_q10", "tpch_q11", "tpch_q14", "tpch_q16", "tpch_q18", "tpch_q19",
    "tpch_q20", "tpch_q5", "tpch_q6", "tpch_q9", "vocab_growth",
    "window_rank_customers",
}
_BATCH4 = {
    # r13 band move (plan change per the repack rule: the whole
    # link-prediction family now scores via broadcast-CSR intersection
    # in mapInArrow below the edge gate — customer_similarity 6.3 ->
    # 3.1s isolated)
    "customer_similarity",
    "weighted_voronoi_trade",
    "weighted_harmonic_trade",
    "balanced_shards_docs", "basket_lift", "basket_triples", "bm25_search",
    "bowtie_trade", "brand_mixing_parts", "butterfly_count",
    "cc_incremental_geo", "coloring_geo", "concurrent_sessions",
    "connected_components_geo", "contamination", "curriculum_shards",
    "dedup_incremental", "dedup_jaccard", "degree_anomalies_parts",
    "effective_diameter_trade", "embedding_dedup_pairs",
    "entity_linkage_parts", "equidepth_prices", "event_bursts",
    "hybrid_search", "importance_scores_docs", "khop_features",
    "kmeans_ari", "kmeans_embeddings", "kmeans_quality_profile",
    "label_noise_knn", "label_path_census", "label_propagation_geo",
    "mis_geo", "mmr_topk_embeddings", "motif_supply_chain",
    "neighborhood_function_trade", "paths_to", "paths_to_undirected",
    "pq_codes", "pq_topk", "quantized_topk", "retrieval_eval_bm25",
    "scc_condensation_trade", "scc_event_types", "similarity_ivf",
    "similarity_topk", "streaming_dedup", "streaming_fold",
    "streaming_histogram", "streaming_hll", "streaming_running_totals",
    "temporal_triples", "textrank_keywords", "tpch_q2", "tpch_q21",
    "tpch_q3", "tpch_q4", "winsorize_orders",
}
_BATCH2 = {
    "weighted_ecc_trade", "weighted_closeness_trade",
    "weighted_effdiam_trade", "weighted_modularity_trade",
    "conductance_trade",
    # r13 band move (plan change per the repack rule: the size-ratio
    # prefilter moved inside the truth leg's grid join — 10.6 -> 6.6s
    # isolated)
    "dedup_recall_eval",
    "assortativity_coorder", "cdc_chunks", "clique_profile_parts",
    "clustering_coefficient", "coverage_curve_docs",
    "dag_layers_graph", "dedup_containment", "dedup_containment_prune",
    "dedup_minhash", "dedup_minhash_keep_star", "eccentricity_parts",
    # r12 optimization band moves (both have PLAN changes, per this
    # file's own rule): streaming_session's three staging write jobs
    # moved driver-side (14.7 -> 4.4s isolated), so it leaves _BATCH2H;
    # doc_novelty lost its shingle join-back (10.8 -> 0.55s) and moved
    # to _BATCH10.
    "streaming_session",
    "hits_top20", "hyperanf_trade", "katz_parts", "kcenter_weighted_trade",
    "kcore_parts", "knn_components", "ktruss_parts",
    "link_prediction_parts", "matching_parts", "modularity_geo",
    "nearest_seed_parts", "ngram_diversity", "onion_layers_parts",
    "pagerank_top20", "pagerank_weighted", "pattern_diamond",
    "pattern_supply_gap", "ra_link_prediction", "rich_club_parts",
    "seeded_labels_parts", "semantic_prune", "set_similarity_join",
    "source_overlap", "split_leakage_report", "sssp_weighted",
    "store_incremental_degrees", "store_incremental_topk",
    "streaming_interval_join", "triangles_coorder", "walk_skipgrams",
    "winnow_fingerprints", "wl_colors_parts",
}
_BATCH2H = {
    # 8-18s heavies, 3-per-child: on this host each subprocess costs
    # ~25-35s of untimed JVM+snapshot overhead, so full isolation for
    # every >=8s query spent more wall on startup than measurement and
    # shed the cheap tail (r10 run 1: 152 of 223 skipped); the band-
    # exceedance guard re-measures anything a shared session distorts.
    # >=18s queries keep private JVMs.
    # r13 band move (plan change per the repack rule: the wedge
    # explode + packed-key exchange is replaced by broadcast-CSR
    # intersection in mapInArrow, jobs-during-build 24 -> 8 — 21.1 ->
    # 11.4s isolated), leaving the unlisted-isolated set
    "link_prediction_auto",
    "betweenness_parts", "closeness_parts",
    "connected_components_two_phase_geo", "coreness_parts",
    "dedup_minhash_keep", "dedup_minhash_keep_best", "dedup_policy_sweep",
    "edge_betweenness_parts",
    "edge_embeddedness", "fastrp_parts", "harmonic_parts",
    "induced_subgraph_parts", "kcenter_trade", "local_clustering_parts",
    "negative_edges_coorder", "node2vec_parts", "node2vec_skipgrams",
    "ppr_customer", "random_walks_parts", "similarity_lsh",
    "store_version_diff", "store_version_summary", "streaming_cms",
    "streaming_dedup_ingest", "streaming_store_sink",
    "winnow_pairs",
}


# Cost bands: (set, band cap seconds, queries per child), heaviest
# first. The historical set names are kept for round-over-round
# auditability — their digits named the ORIGINAL r8 per-child packing;
# the authoritative packing is the third tuple element (repacked r11,
# VERDICT r10 #1: denser children cut the untimed JVM overhead that
# shed 93 queries in r10, and the band-exceedance guard re-measures
# any query the denser session distorts). The cap feeds the exceedance
# threshold: max(2 x the query's last recorded cost, band cap) when a
# BENCH_DETAIL record exists, 2 x cap as the fallback for queries absent
# from the record — see _band_guard's docstring (the authoritative rule).
# r13 densification (VERDICT r12 #6 / builder queue #4): the r12 driver
# run shed 31 queries and the r13 baseline shed 11 — each child costs
# ~25-50s of untimed JVM+warmup+rerun wall, so one extra query per
# child buys back several hundred seconds of budget and the full 233
# fit again. Distortion risk from the denser sessions is the band
# guard's job (it re-measures anything >max(2x record, band cap) in a
# private JVM and commits the min — exactly what it exists for).
_BANDS = [
    (_BATCH2H, 18.0, 4),
    (_BATCH2, 8.0, 5),
    (_BATCH4, 4.0, 8),
    (_BATCH10, 1.5, 12),
]


def _band_cap(name: str) -> float | None:
    """Band cap for a query, None for isolated/unknown queries."""
    for names, cap, _ in _BANDS:
        if name in names:
            return cap
    return None


# Session-cost canaries: if these drift, the fixed per-child session
# cost drifted, not a query plan. They ride in the FIRST child so even
# a severely budget-squeezed run records them — at the tail of the
# batch-10 block they were the first queries shed.
_CANARIES = ["get_node", "codec_roundtrip", "topk_orders"]


def child_groups(headline: list[str]) -> list[list[str]]:
    """Partition the headline into subprocess batches: the canary batch
    first (always recorded), then isolated heavies (so a wall-budget
    skip sheds cheap scans, not the queries regressions hide in), then
    the cost bands heaviest-first at their _BANDS packing."""
    canaries = [n for n in headline if n in _CANARIES]
    rest = [n for n in headline if n not in _CANARIES]
    banded = set().union(*(names for names, _, _ in _BANDS))
    iso = [n for n in rest if n not in banded]
    groups: list[list[str]] = [canaries] if canaries else []
    groups.extend([n] for n in iso)
    for band, _, size in _BANDS:
        names = [n for n in rest if n in band]
        groups.extend(
            names[i:i + size] for i in range(0, len(names), size)
        )
    return groups


def _calibrate(cpus: int) -> float:
    """Fixed reference workload (CPU-bound agg + one shuffle), identical
    every round: the host this bench runs on shows 1-4x wall-clock swings
    from hypervisor contention (measured same-code/same-data variance
    within minutes), so per-query numbers are only comparable ACROSS
    rounds after dividing by this calibration time."""
    from akka_graph_db_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark(
        app_name="bench-cal", cpus=cpus, shuffle_partitions=cpus
    )
    spark.range(1_000_000).select(F.sum("id")).collect()  # JIT warm
    t0 = time.time()
    spark.range(300_000_000).select(
        F.sum(F.col("id") * 3 % 7)
    ).collect()
    (
        spark.range(8_000_000)
        .groupBy((F.col("id") % 4096).alias("k"))
        .agg(F.count(F.lit(1)))
        .agg(F.sum("k"))
        .collect()
    )
    return round(time.time() - t0, 3)


def _run_query(names: list[str], sf_dir: str, cpus: int) -> dict[str, float]:
    """Child body: one Spark session, time each named query."""
    from akka_graph_db_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark(app_name="bench", cpus=cpus, shuffle_partitions=cpus)
    qs = entrymod.queries()
    # Untimed warmup: first-job costs (whole-stage codegen JIT, parquet
    # reader + filesystem init) are session overhead, not query cost —
    # the shared-session bench this replaces never charged them to a
    # query either, so keeping them out preserves round-over-round
    # comparability.
    from pyspark.sql import functions as F

    spark.range(1_000_000).select(F.sum("id")).collect()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    # Graph attach is ingest (reported by the parent), not query cost —
    # same separation the r4 shared-session bench drew. With
    # SPARK_GRAFT_SNAPSHOT_ROOT set by the parent this is a cheap
    # parquet re-open of the shared snapshot, not a rebuild.
    entrymod._g(spark, sf_dir)
    timings: dict[str, float] = {}
    for name in names:
        # Up to two runs, report the min: a fresh JVM pays ~10-15s of
        # C2-JIT on its first pass through the codegen paths (measured:
        # the same dedup query is 20.6s cold / 6.1s warm in one
        # session), which is session overhead, not query cost — the
        # steady-state number is what a long-lived cluster session
        # would see. Re-run when the first pass took >= 2s: it may
        # carry cold JIT or one of the host's transient 1-4x contention
        # bursts (measured: the same child 65s in a burst, 13-21s on
        # re-runs). A sub-2s first pass is already steady-state — in a
        # cost-batched child the session is warm from the batch's
        # earlier queries, and a burst short enough to only inflate a
        # sub-2s query sits below the band noise floor — so skipping
        # its re-run buys ~200s of wall per full run at zero signal
        # cost (r9 wall-budget work, VERDICT r8 #1).
        try:
            t0 = time.time()
            qs[name](spark, sf_dir).count()
            best = round(time.time() - t0, 3)
            if best >= 2.0:
                t0 = time.time()
                qs[name](spark, sf_dir).count()
                best = min(best, round(time.time() - t0, 3))
            timings[name] = best
        except Exception as e:  # report, don't abort the whole bench
            timings[name] = -1.0
            print(f"# bench error {name}: {e}", file=sys.stderr)
    return timings


def _band_guard(
    timings: dict[str, float],
    run_child,
    budget_left,
    max_remeasures: int = 8,
    expected: "dict[str, float] | None" = None,
) -> dict[str, dict[str, float]]:
    """Band-exceedance guard (VERDICT r10 #2): the bookend-calibration
    contention guard detects HOST slowness, not per-child accumulated-
    session distortion — in r10 it stayed quiet while shared-child rows
    committed at 2-5x their true cost (pq_topk 17.3s vs 4.1s isolated).
    A query gets an automatic isolated re-measure (private JVM) when
    its in-run timing exceeds max(2x its last recorded steady-state
    cost, its band cap) — the band cap alone would let a
    bottom-of-band query carry 2-3x distortion uncorrected (a 4.2s
    query in the 4-8s band inflated to 12.6s sits under 2x the cap;
    anchored to its own record it triggers), while the cap floor keeps
    sub-second jitter from burning re-measure children. ``expected``
    is the previous committed BENCH_DETAIL.json per-query map; queries
    absent from it fall back to 2x the band cap. Both values are
    recorded and the min committed in place. Worst offenders first,
    capped at ``max_remeasures`` children and by remaining wall
    budget; isolated/unknown queries have no band and are skipped
    (their private-JVM number is already clean)."""
    expected = expected or {}

    def _threshold(n: str) -> float | None:
        cap = _band_cap(n)
        if cap is None:
            return None
        exp = expected.get(n, 0.0)
        return max(2.0 * exp, cap) if exp > 0 else 2.0 * cap

    remeasures: dict[str, dict[str, float]] = {}
    offenders = sorted(
        (
            (t / _threshold(n), n)
            for n, t in timings.items()
            if t > 0
            and _threshold(n) is not None
            and t > _threshold(n)
        ),
        reverse=True,
    )
    for _, name in offenders[:max_remeasures]:
        if budget_left() <= 0:
            break
        re_t = run_child(name).get(name, -1.0)
        if re_t > 0:
            remeasures[name] = {
                "in_run": timings[name], "remeasure": re_t
            }
            timings[name] = min(timings[name], re_t)
    return remeasures


# Documented-bimodal heavies -> SCALE.md §9 family-band FLOOR (sec).
# The keep-substrate dedup family shows a spill mode (same code, same
# data: 13-28s across JVMs) and the materialized-fixpoint loops
# (coreness, fastrp) are GC-phase-sensitive (±2x per sample) — a single
# in-run number from either is meaningless alone; the house rule is
# "judge by the MIN of >=3 isolated runs" (SCALE.md §9). Until r11 the
# exonerating triplets lived in SCALE.md prose; _bimodal_triplets puts
# them in the committed artifact itself (VERDICT r11 #2).
_BIMODAL_FLOORS = {
    "dedup_minhash_keep": 8.0,       # keep family, band 8-18
    "dedup_minhash_keep_best": 8.0,
    "dedup_minhash_keep_star": 8.0,
    "dedup_policy_sweep": 8.0,
    "dedup_cluster_stats": 8.0,      # keep-substrate audits, band 8-28
    "dedup_manifest": 8.0,
    "dedup_keep_source": 8.0,
    # r13: broadcast-CSR intersection path below the 10M-edge gate
    # (band 7-16; the wedge-join 15-27 regime applies past the gate)
    "link_prediction_auto": 7.0,
    # r13 floor recalibration: the r10-era floors (3.0 / 2.0) dated
    # from a fast phase these fixpoints no longer show — r12/r13
    # isolated triplets put steady state at 12.8-13.2 (coreness) and
    # 8.8-9.7 (fastrp), so the old floors made HEALTHY samples outrank
    # the genuinely bimodal dedup audit trio in the worst-exceedance-
    # first queue and starved it of triplet children under budget
    # pressure (observed in the r13 full runs).
    "coreness_parts": 10.0,
    "fastrp_parts": 7.0,
}


def _bimodal_triplets(
    timings: dict[str, float],
    run_child,
    budget_left,
    extra_runs: int = 2,
    max_children: int = 14,
    in_run_override: "dict[str, float] | None" = None,
) -> dict[str, dict]:
    """Machine-readable bimodal exoneration (VERDICT r11 #2): for each
    documented-bimodal query whose committed row exceeds 1.5x its
    SCALE.md family-band floor, append isolated private-JVM re-measures
    until the artifact carries >= 3 ISOLATED samples, record them in
    ``contention_remeasures`` as ``isolated_triplet``, and commit the
    MIN of everything observed — the steady-state fast-mode cost a
    long-lived cluster session sees. The MEDIAN of the same observation
    set rides along as ``median`` (VERDICT r12 #4: min-of-everything is
    a one-sided estimator, so the artifact must carry a two-sided
    summary next to it), and a triplet min NEVER justifies a band move
    on its own — the repack rule stands: band membership only moves
    with a PLAN change (see the _BANDS comment). Queries the cost bands run in
    SHARED sessions get ``extra_runs`` + 1 isolated children and their
    triplet holds ONLY those children (the in-run sample is not
    isolated and must not masquerade as one); already-isolated
    (>=18s, unbanded) queries count their private-JVM in-run number as
    sample #1 and get ``extra_runs`` more. ``in_run_override`` maps
    queries the band guard already corrected to their ORIGINAL in-run
    values, so the recorded ``in_run`` is always the genuine first
    measurement, never a guard-corrected min. Worst exceedance first;
    total extra children capped by ``max_children`` and the remaining
    wall budget, so a budget-squeezed run degrades to fewer triplets,
    never to a dead artifact."""
    in_run_override = in_run_override or {}
    banded = set().union(*(names for names, _, _ in _BANDS))
    ranked = sorted(
        (
            (t / (1.5 * _BIMODAL_FLOORS[n]), n)
            for n, t in timings.items()
            if n in _BIMODAL_FLOORS
            and t > 1.5 * _BIMODAL_FLOORS[n]
        ),
        reverse=True,
    )
    out: dict[str, dict] = {}
    spent = 0
    for _, name in ranked:
        runs = extra_runs + (1 if name in banded else 0)
        samples: list[float] = []
        for _ in range(runs):
            if budget_left() <= 0 or spent >= max_children:
                break
            rt = run_child(name).get(name, -1.0)
            spent += 1
            if rt > 0:
                samples.append(rt)
        if samples:
            triplet = (
                samples if name in banded else [timings[name]] + samples
            )
            observed = [timings[name]] + samples
            srt = sorted(observed)
            mid = len(srt) // 2
            med = (
                srt[mid]
                if len(srt) % 2
                else round((srt[mid - 1] + srt[mid]) / 2, 3)
            )
            out[name] = {
                "in_run": in_run_override.get(name, timings[name]),
                "isolated_triplet": triplet,
                "median": med,
            }
            timings[name] = min(observed)
    return out


def _contention_guard(
    timings: dict[str, float],
    cal_start: float,
    cal_end: float,
    run_child,
    cal_child,
    sleep,
    drift_ratio: float = 1.25,
    top_n: int = 5,
    max_waits: int = 5,
) -> dict[str, dict[str, float]]:
    """Contention guard (VERDICT r7 #3): the host shows multi-minute
    degraded windows that bookend calibration can straddle — when the
    two calibrations disagree by >25% IN EITHER DIRECTION (the r9 full
    run STARTED degraded: cal 6.0 -> 2.5, inflating every early heavy
    child — the original end-over-start test missed exactly that), the
    slowest children (long shuffle-heavy jobs, where a burst survives
    min-of-2) may carry inflated numbers. Wait for a quieter window
    (calibration back within drift_ratio of the BETTER bookend, up to
    max_waits minutes), re-measure the top-N slowest children, record
    BOTH values, and commit the min into ``timings`` in place. Returns
    {query: {in_run, remeasure}}."""
    remeasures: dict[str, dict[str, float]] = {}
    if not (cal_start > 0 and cal_end > 0):
        return remeasures
    lo = min(cal_start, cal_end)
    if max(cal_start, cal_end) / lo <= drift_ratio:
        return remeasures
    for _ in range(max_waits):
        if cal_child() / lo <= drift_ratio:
            break
        sleep(60)
    slowest = sorted(
        (n for n, t in timings.items() if t > 0),
        key=lambda n: -timings[n],
    )[:top_n]
    for name in slowest:
        re_t = run_child(name).get(name, -1.0)
        if re_t > 0:
            remeasures[name] = {"in_run": timings[name], "remeasure": re_t}
            timings[name] = min(timings[name], re_t)
    return remeasures


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])

    if len(sys.argv) > 1 and sys.argv[1] == "--calibrate":
        print(
            _CHILD_MARK + json.dumps({"_cal": _calibrate(cpus)}),
            flush=True,
        )
        return
    if len(sys.argv) > 2 and sys.argv[1] == "--child":
        timings = _run_query(sys.argv[2:], sf_dir, cpus)
        print(_CHILD_MARK + json.dumps(timings), flush=True)
        return

    import atexit
    import shutil
    import tempfile

    # Build the shared snapshot once (the reference likewise loads Neo4j
    # before any query runs, Neo4jGraph.scala:150-154); its cost is
    # reported separately instead of inflating the first graph query.
    snap_root = tempfile.mkdtemp(prefix="spark_graft_bench_snap_")
    atexit.register(shutil.rmtree, snap_root, ignore_errors=True)
    env = dict(os.environ, SPARK_GRAFT_SNAPSHOT_ROOT=snap_root)

    from akka_graph_db_spark.session import get_spark

    import __spark_entry__ as entrymod

    os.environ["SPARK_GRAFT_SNAPSHOT_ROOT"] = snap_root
    spark = get_spark(app_name="bench", cpus=cpus, shuffle_partitions=cpus)
    t0 = time.time()
    entrymod._g(spark, sf_dir)
    ingest = round(time.time() - t0, 3)
    # Children get their own JVMs; free this one's executor threads first.
    spark.stop()

    # Optional subset for local iteration: comma-separated query names.
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    headline = (
        [q for q in subset.split(",") if q] if subset else HEADLINE
    )

    def _cal_child() -> float:
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py"), "--calibrate"],
            capture_output=True, text=True, env=env, cwd=REPO,
        )
        for line in proc.stdout.splitlines():
            if line.startswith(_CHILD_MARK):
                return json.loads(line[len(_CHILD_MARK):])["_cal"]
        return -1.0

    def _run_child(names) -> dict[str, float]:
        if isinstance(names, str):
            names = [names]
        try:
            proc = subprocess.run(
                [sys.executable, os.path.join(REPO, "bench.py"), "--child"]
                + list(names),
                capture_output=True,
                text=True,
                env=env,
                cwd=REPO,
                # A hung child must not eat the whole wall budget.
                timeout=int(
                    os.environ.get("SPARK_GRAFT_BENCH_CHILD_TIMEOUT", "900")
                ),
            )
        except subprocess.TimeoutExpired:
            sys.stderr.write(f"# bench child {names} timed out\n")
            return {n: -1.0 for n in names}
        got: dict[str, float] = {}
        for line in proc.stdout.splitlines():
            if line.startswith(_CHILD_MARK):
                got = json.loads(line[len(_CHILD_MARK):])
        if not got:
            got = {n: -1.0 for n in names}
            sys.stderr.write(
                f"# bench child {names} produced no result "
                f"(rc={proc.returncode}):\n{proc.stderr[-2000:]}\n"
            )
        return got

    # Wall budget (VERDICT r8 #1): the driver kills the whole bench at an
    # unpublished timeout (r8: rc=124, no artifact at all). Stop LAUNCHING
    # children when the budget is spent and report what ran plus the
    # skipped names — a partial record with an explicit "skipped" list
    # beats a dead one. Children are ordered heavies-first so a skip sheds
    # sub-second canaries, not regression-prone queries.
    t_start = time.time()
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC", "3000"))
    cal_start = _cal_child()
    timings: dict[str, float] = {}
    skipped: list[str] = []
    for group in child_groups(headline):
        if time.time() - t_start > budget:
            skipped.extend(group)
            continue
        timings.update(_run_child(group))

    cal_end = _cal_child()
    # Band-exceedance guard first (r11): it targets per-child session
    # distortion the calibration bookends cannot see, and its re-runs
    # are bounded by the remaining wall budget. Thresholds anchor to
    # the PREVIOUS committed record's steady-state costs.
    try:
        with open(os.path.join(REPO, "BENCH_DETAIL.json")) as fh:
            _expected = json.load(fh).get("queries", {})
    except Exception:
        _expected = {}
    contention_remeasures = _band_guard(
        timings,
        _run_child,
        lambda: budget - (time.time() - t_start),
        expected=_expected,
    )
    # Bimodal triplets next (VERDICT r11 #2): runs on the band-guard-
    # corrected timings; a query both guards touched keeps the band
    # guard's in_run/remeasure pair and gains the isolated_triplet
    # (the override keeps in_run = the genuine first measurement).
    for _k, _v in _bimodal_triplets(
        timings,
        _run_child,
        lambda: budget - (time.time() - t_start),
        in_run_override={
            _k: _v["in_run"] for _k, _v in contention_remeasures.items()
        },
    ).items():
        if _k in contention_remeasures:
            contention_remeasures[_k]["isolated_triplet"] = _v[
                "isolated_triplet"
            ]
        else:
            contention_remeasures[_k] = _v
    # The calibration guard's worst case (5 x 60s waits + 5 re-measure
    # children) only runs when budget headroom remains; a budget-squeezed
    # run keeps its bracketing calibrations so inflation is still
    # detectable offline.
    if time.time() - t_start < budget:
        for _k, _v in _contention_guard(
            timings, cal_start, cal_end, _run_child, _cal_child,
            time.sleep,
        ).items():
            if _k in contention_remeasures:
                # preserve the band guard's ORIGINAL in_run — the
                # record must keep showing the distorted number the
                # first re-measure corrected
                contention_remeasures[_k]["remeasure2"] = _v["remeasure"]
            else:
                contention_remeasures[_k] = _v
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "graph_ingest_sec": ingest,
        "isolation": "subprocess-batched-by-cost",
        "skipped": skipped,
        # Fixed reference workload timed before/after the query
        # sweep: the host shows 1-4x contention swings, so
        # cross-round comparisons should normalize by this.
        "calibration_sec": {"start": cal_start, "end": cal_end},
        # {query: {in_run, remeasure}}; "queries" above carries the min.
        # Populated by the band-exceedance guard (any query >2x its cost
        # band re-measured in a private JVM) and, when end-calibration
        # drifted >1.25x from start, by the host-contention guard.
        "contention_remeasures": contention_remeasures,
        "sf": sf,
    }
    # Per-query map goes to sidecar files + an EARLY stdout line: the
    # driver records only a 2000-char tail of stdout, and r5's 76-query
    # single-line JSON (~2.2 KB) was decapitated (BENCH_r05.json
    # parsed: null) — so the full contract line (metric/value/unit/
    # queries/sf) prints FIRST and the FINAL line is a compact headline
    # (~300 chars) that always fits the tail window.
    # Subset runs (SPARK_GRAFT_BENCH_QUERIES) write a sidecar so local
    # iteration can never clobber the committed full-run record (this
    # bit both us and the judge in r7).
    # VERDICT r12 #5 contract repair: each run ALSO writes a per-core-
    # count artifact (BENCH_DETAIL_c{cpus}.json) so the driver's low-core
    # scaling run can no longer clobber the 32-core per-query detail —
    # PERF's round-over-round and scaling tables both need the per-query
    # maps of BOTH runs to survive on disk.
    detail_name = (
        "BENCH_DETAIL_SUBSET.json" if subset else "BENCH_DETAIL.json"
    )
    detail_c_name = (
        f"BENCH_DETAIL_SUBSET_c{cpus}.json"
        if subset
        else f"BENCH_DETAIL_c{cpus}.json"
    )
    detail["cpus"] = cpus
    for name in (detail_name, detail_c_name):
        with open(os.path.join(REPO, name), "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
    print(
        f"# full per-query detail: {detail_name} + {detail_c_name}",
        flush=True,
    )
    print(json.dumps(detail), flush=True)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "n_errors": sum(1 for t in timings.values() if t < 0),
                "n_skipped": len(skipped),
                "graph_ingest_sec": ingest,
                "calibration_sec": {"start": cal_start, "end": cal_end},
                "sf": sf,
                "cpus": cpus,
                "detail": detail_name,
                "detail_c": detail_c_name,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
