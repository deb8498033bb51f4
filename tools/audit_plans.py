#!/usr/bin/env python
"""Generate PLANS.md: physical-plan evidence for the key queries.

Extracts, per query: parquet scan counts, pushed filters, and join
strategies from ``explain('formatted')`` — the artifact that documents WHY
each plan holds at scale (pushdown reached the scan, small sides broadcast,
no stray cartesian products). Regenerate after plan-affecting changes:

    python tools/audit_plans.py > PLANS.md
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AUDITED = [
    ("get_nodes_filtered", "label + property scan (promoted-column pushdown)"),
    ("get_edges_filtered", "edge scan (snapshot-backed prop pushdown)"),
    ("egress_edges", "frontier join + aggregation (Phase-1 slice)"),
    ("ingress_edges", "reverse frontier join"),
    ("degrees", "two-sided degree aggregation"),
    ("motif_supply_chain", "4-hop motif join chain"),
    ("window_rank_customers", "partitioned window rank"),
    ("topk_orders", "global top-k"),
    ("events_tumbling", "tumbling window aggregation"),
    ("events_rollup_multi", "hierarchical rollup (one raw scan)"),
    ("multimodal_meta", "Arrow mapInPandas metadata extraction"),
    ("similarity_topk", "broadcast query-side brute-force cosine"),
    ("quantized_topk", "int8-quantized cosine (broadcast queries)"),
    ("range_join_clicks", "bucketed range join (equi, not nested-loop)"),
    ("salted_join_orders", "16-way salted skew join"),
    ("link_prediction_parts", "broadcast-CSR mapInArrow Jaccard scorer"),
    ("length_quantiles", "exact percentile aggregation"),
    ("tpch_q1", "scan-heavy aggregate (date pushdown)"),
    ("tpch_q3", "selective 3-way broadcast join + top-k"),
    ("aggmsg_max_acctbal", "aggregateMessages triplet view"),
    ("pipeline_e2e", "composed dedup->split->chunk->pack plan"),
    ("tpch_q6", "single-scan filter aggregate (3 pushed predicates)"),
    ("tpch_q5", "6-way broadcast-chained dimension join"),
    ("triangles_coorder", "edge-iterator adjacency-intersection triangles"),
    ("assortativity_coorder", "exact-integer moment sums + degree joins"),
    ("random_walks_parts", "ranked-adjacency walk (bounded equi-joins)"),
    ("dedup_exact_spans", "digest-keyed span count + expression cleanup"),
    ("harmonic_parts", "concurrent landmark BFS + 1/d aggregation"),
    ("curriculum_shards", "distributed global rank (no 1-partition window)"),
    ("graph_summary", "per-label single-pass catalog aggregation"),
    ("betweenness_parts", "layered sigma/delta joins (landmark Brandes)"),
    ("cdc_chunks", "per-doc window chunking (no global sort)"),
    ("tpch_q4", "non-equi EXISTS semi-join (date pushdown both scans)"),
    ("tpch_q16", "anti-join + broadcast part dim + count-distinct"),
    ("tpch_q18", "HAVING-subquery semi filter (broadcast survivors)"),
    ("tpch_q19", "disjunctive band predicate on one scan"),
    ("tpch_q22", "in-plan scalar threshold + anti-join rollup"),
    ("mixture_sample", "single-window sqrt-damped per-source quota"),
    ("ntile_customer_deciles", "distributed exact NTILE (range partition)"),
    ("token_rarity", "explode + vocab join + per-doc rollup"),
    ("dedup_incremental", "asymmetric band join (new x base)"),
    ("walk_skipgrams", "per-walk positional self-join"),
    ("engagement_decay", "decimal decay-weighted rollup + in-plan ref date"),
    ("customer_similarity", "bipartite-projection capped wedge scoring"),
    ("butterfly_count", "per-part wedge pairs + exact biclique rollup"),
    ("node2vec_parts", "classified-adjacency biased walk steps"),
    ("mis_geo", "Luby round: neighbor-min keys + closed-set anti-joins"),
    ("scc_event_types", "path-doubling closure + mutual-reachability meet"),
    ("ktruss_parts", "per-round triangle-support semi-joins"),
    ("modularity_geo", "arc tagging joins + exact decimal moments"),
    ("weekly_revenue_growth", "window-over-aggregate LAG growth"),
    ("degree_histogram", "two-sided degree agg + bit-length binning"),
    ("embedding_outliers", "grid explode + label-centroid distance"),
    ("tpch_q7", "nation-pair trade broadcast chain"),
    ("tpch_q13", "LEFT join + double aggregation distribution"),
    ("tpch_q15", "argmax-over-aggregate on exact decimal equality"),
    ("tpch_q17", "decorrelated per-part AVG subquery join"),
    ("tpch_q2", "decorrelated scalar-min join-back (broadcast dims)"),
    ("tpch_q9", "snowflake profit probe (part/supplier broadcast)"),
    ("tpch_q11", "1-row broadcast scalar threshold HAVING"),
    ("tpch_q20", "nested semi-join chain (dominant supplier)"),
    ("tpch_q21", "per-order distinct aggregation (no correlated probes)"),
    ("link_prediction_auto", "degree-histogram-derived cap, CSR scorer"),
    ("dedup_policy_sweep", "3 keep policies over one clustering"),
    ("semantic_prune", "cluster-bounded integer-exact cosine prune"),
    ("coreness_parts", "h-index rounds: neighbor join + sorted-list agg"),
    ("hybrid_search", "BM25 + cosine rankings fused on integer ranks"),
    ("cms_heavy_hitters", "fixed-memory sketch + broadcast point queries"),
    ("hll_distinct_events", "HLL registers + exact-integer harmonic sum"),
    ("sessionize_events", "per-user LAG + running-sum islands"),
    ("set_similarity_join", "prefix-posting equi-join + exact verify"),
    ("rich_club_parts", "conditional integer sums over one edge pass"),
    ("bpe_pair_counts", "pair explode + map-side-combinable count"),
    ("dedup_containment", "prefix-posting x full-index containment join"),
    ("dedup_containment_prune", "dominance anti-join over containment"),
    ("distinctive_terms", "tf/df aggs + per-doc vocabulary window"),
    ("vocab_growth", "first-occurrence decomposition + bucket cumsum"),
    ("quantile_filter_docs", "distinct-value window + broadcast threshold"),
    ("doc_novelty", "first-occurrence min-agg + shingle equi-join"),
    ("hll_grouped_events", "per-group registers + grid-bounded estimate"),
    ("asof_view_next_purchase", "forward union-merge as-of (one shuffle)"),
    ("event_rate_features", "shared-ordering RANGE + LAG windows"),
    ("corpus_diff", "digest-only full-outer diff (content never shuffles)"),
    ("source_overlap", "shingle-keyed self-join, group-bounded postings"),
    # round 8
    ("pattern_diamond", "5-term branching pattern: equi-join chain"),
    ("pattern_supply_gap", "pair-bound negation: left-anti, no NOT IN"),
    ("bloom_prune_report", "bounded bit-set build + broadcast semi probes"),
    ("closeness_parts", "landmark-BFS substrate + integer-ratio agg"),
    ("temporal_triples", "2 prefix-count shuffles + bucketed interval join"),
    ("split_leakage_report", "certified pair set x broadcast split joins"),
    ("corpus_drift_tvd", "two aggs + bounded dims grid, integer TVD"),
    ("knn_components", "numpy matmul scoring + pair-frame CC"),
    ("lexical_diversity", "explode + two keyed aggs, integer Simpson"),
    ("store_incremental_topk", "touched-label recompute + verbatim carry"),
    ("retrieval_eval_bm25", "one corpus scan for all queries + window/q"),
    ("coloring_geo", "degree-major JP rounds, keyed joins only"),
    ("concurrent_sessions", "sweep-line bucket-cumsum concurrency"),
    ("session_paths", "trigram paths, user-keyed windows"),
    ("clique_profile_parts", "triangle+K4 ladder, oriented joins"),
    ("negative_edges_coorder", "bucketed negative sampling"),
    ("fastrp_parts", "integer FastRP (node,dim) supersteps"),
    ("phrase_search", "positional-posting intersection"),
    ("entity_linkage_parts", "blocking-key ER + levenshtein verify"),
    ("ra_link_prediction", "broadcast-CSR mapInArrow integer-ppm RA"),
    ("degree_anomalies_parts", "histogram median/MAD outliers"),
    ("rolling_active_users", "broadcast day-spine range join"),
    ("scd2_user_state", "gaps-and-islands SCD2 intervals"),
    ("time_weighted_value", "exact decimal step integral"),
    ("textrank_keywords", "word-graph weighted PageRank"),
    ("wl_colors_parts", "1-WL sorted-multiset recoloring"),
    ("event_bursts", "per-type median/MAD hourly bursts"),
    ("dag_layers_graph", "longest-path DAG relaxation"),
    ("equidepth_prices", "global-rank equi-depth buckets"),
    ("edge_embeddedness", "triangle-explode edge support"),
    ("seeded_labels_parts", "clamped-seed majority propagation"),
    ("cc_incremental_geo", "component-graph CC + remap join"),
    ("label_path_census", "A^3 count propagation by label"),
    ("basket_triples", "Apriori pair-pruned 3-itemset join"),
    ("price_qty_correlation", "exact decimal moment aggregation"),
    ("interval_coverage", "running-MAX island merge windows"),
    ("local_clustering_parts", "triangle counts + degree join"),
    ("event_trends", "integer slope-numerator aggregation"),
    ("k_anonymity_customers", "quasi-id groupBy + 1-row rollup"),
    ("fd_discovery_part", "per-pair countDistinct aggs"),
    ("matching_parts", "per-vertex MIN + local-minima joins"),
    ("doc_length_percentiles", "histogram cumsum + join-back"),
    ("store_version_diff", "merge-on-read full-outer diffs"),
    ("skyline_parts", "two-phase mapInPandas Pareto frontier"),
    ("sample_per_source", "single-window md5-rank k-per-group"),
    ("winsorize_orders", "histogram-window rank cuts + broadcast"),
    ("l_diversity_customers", "quasi-id groupBy + 1-row rollup"),
    ("reorder_gaps", "lag window + histogram quantile ranks"),
    ("katz_parts", "3-round broadcast message passing"),
    ("brand_mixing_parts", "broadcast category joins + groupBy"),
    ("scc_condensation_trade", "closure + broadcast condensation join"),
    ("dedup_recall_eval", "grid equi-join truth (no cartesian)"),
    ("dedup_cluster_stats", "banded verify + CC size histogram"),
    ("dedup_manifest", "component-map filter (no second agg)"),
    ("source_concentration", "histogram cumsum + interior ceil div"),
    ("bowtie_trade", "closure + semi-joins vs tiny core set"),
    ("rfm_quintiles", "per-customer agg windows + 1-row anchor"),
    ("rfm_segments", "threshold flags: 2 aggs + 1-row broadcast"),
    ("pq_codes", "m subspace kmeans runs, narrow projections"),
    ("pq_topk", "codes explode + broadcast LUT + one groupBy"),
    ("kmeans_ari", "contingency groupBy + tagged-union 1-row agg"),
    ("embedding_dim_profile", "posexplode + per-dim histogram windows"),
    ("hard_negatives", "one corpus scan x broadcast queries + window"),
    ("gini_order_values", "histogram rank-mass fold, one float at end"),
    ("order_reconciliation", "left equi-join + keyed decimal aggs"),
    ("label_noise_knn", "one int64 matmul pass + |labels|-row agg"),
    ("budget_trim_docs", "hash-range bucket cumsum + broadcast offsets"),
    ("edge_betweenness_parts", "Brandes sweeps, per-edge dependency agg"),
    ("importance_scores_docs", "bucket stats + broadcast weights join"),
    ("neighborhood_function_trade", "distinct-merge supersteps, bounded"),
    ("balanced_shards_docs", "range-shuffle global rank + modulo"),
    ("tokenizer_fertility_docs", "one map-side agg to |sources| rows"),
    ("semantic_decontam", "broadcast eval x one train scan, LSH gate"),
    ("nearest_seed_parts", "one concurrent frontier + min-struct argmin"),
    ("streaming_histogram", "per-batch bin counts, union+sum merge"),
    ("induced_subgraph_parts", "two hash filters, no pre-summary shuffle"),
    ("onion_layers_parts", "kcore peel loop + wave counter, anti-joins"),
    ("hyperanf_trade", "sparse register max-merge supersteps, V*m state cap"),
    ("effective_diameter_trade", "ANF counts + broadcast 1-row plateau"),
    ("stratified_kfold_embeddings", "one global_rank + per-label offsets"),
    ("mad_outliers_events", "two per-group rank passes + median joins"),
    ("benford_orders", "one map-side digit agg + 9-row literal grid"),
    ("coverage_curve_docs", "vocab-bounded anti-join rounds + argmax"),
    ("kcenter_trade", "nearest_seed sweeps from accumulated centers"),
    ("mmr_topk_embeddings", "one scored scan + k top-1 argmax picks"),
    ("cusum_events", "per-group prefix-sum window + struct argmax"),
    ("drift_alarm_docs", "CUSUM window pass + broadcast TVD grid join"),
    ("kcenter_weighted_trade", "cost-relaxation supersteps + 1-row argmax"),
    ("weighted_voronoi_trade", "one multi-seed relaxation sweep, min-struct"),
    ("weighted_harmonic_trade", "per-landmark relax + integer reciprocal agg"),
    ("weighted_ecc_trade", "per-landmark relax + MAX/COUNT eccentricity agg"),
    ("weighted_closeness_trade", "per-landmark relax + SUM + integer division"),
    ("weighted_effdiam_trade", "global_rank order statistic + interpolation"),
    ("attribution_events", "per-user credit windows + two-level agg"),
    ("weighted_modularity_trade", "community-tag joins + 1-row scalar cross"),
    ("conductance_trade", "per-community cut/volume sums + broadcast total"),
    ("dedup_minhash_keep_star", "planted star: band buckets + CC, no pairs"),
]


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def summarize(plan: str) -> dict:
    pushed = sorted(
        {
            m.group(1).strip()
            for m in re.finditer(r"PushedFilters: \[([^\]]+)\]", plan)
            if m.group(1).strip()
        }
    )
    return {
        "scans": len(re.findall(r"Scan parquet", plan)),
        "pushed": pushed,
        "bhj": len(re.findall(r"BroadcastHashJoin|BroadcastNestedLoopJoin", plan)),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "cartesian": len(re.findall(r"CartesianProduct", plan)),
    }


def main() -> None:
    from akka_graph_db_spark.session import get_spark

    import __spark_entry__ as em

    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.001")
    spark = get_spark(app_name="plan-audit", cpus=8)
    qs = em.queries()

    print("# PLANS — physical-plan audit")
    print()
    print(
        f"Auto-generated by `python tools/audit_plans.py` at `{sf_dir}`.\n"
        "Counts come from `explain('formatted')`; AQE prints initial+final\n"
        "plans, so absolute counts can double — the signal is in the pushed\n"
        "filters, join strategies, and the absence of cartesian products.\n"
    )
    print(
        "| query | what it shows | scans | broadcast joins | sort-merge "
        "joins | cartesian | pushed filters (sample) |"
    )
    print("|---|---|---|---|---|---|---|")
    for name, why in AUDITED:
        df = qs[name](spark, sf_dir)
        s = summarize(formatted_plan(df))
        sample = "; ".join(s["pushed"][:2]) if s["pushed"] else "—"
        print(
            f"| {name} | {why} | {s['scans']} | {s['bhj']} | {s['smj']} | "
            f"{s['cartesian']} | {sample[:80]} |"
        )
    print()
    print(
        "Broadcast-join counts include the intentional "
        "BroadcastNestedLoopJoin of similarity_topk's broadcast query side.\n"
        "Operators that checkpoint internally (triangle_count, paths_to,\n"
        "connected components, PageRank) expose only their post-checkpoint\n"
        "plan here and are audited by their per-superstep shape in module\n"
        "docstrings instead.\n\n"
        "Notes: queries run against the ingest-once snapshot (the graph is\n"
        "derived and persisted label-partitioned via store.py on first\n"
        "access, then every scan hits real parquet), so property predicates\n"
        "on promoted columns reach the parquet scan\n"
        "(`EqualTo(c_mktsegment,BUILDING)` etc.) AND `contains`-edge\n"
        "predicates push down too — the per-order id window that used to\n"
        "block pushdown on lazy derivation runs exactly once at ingest.\n"
        "Iterative operators (paths_to, connected\n"
        "components, PageRank) are audited by their per-superstep shape\n"
        "in their module docstrings instead — one frontier join + one\n"
        "aggregation per step, persisted edge view, periodic checkpoint\n"
        "lineage truncation."
    )


if __name__ == "__main__":
    main()
