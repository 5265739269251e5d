"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from onionnet_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = [
    # relational engine
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "rollup_revenue",
    "topk_per_group",
    "asof_join",
    # multilayer graph
    "graph_build_edges",
    "khop_upstream",
    "reachability",
    "on_shortest_path",
    "components_weak",
    "pagerank",
    "degrees",
    "triangle_count",
    "bipartite_view",
    # LLM pipeline
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "doc_fingerprint",
    "text_stats",
    "lang_id",
    "ann_topk_cosine",
    # events / streaming (batch mode)
    "events_tumbling",
    "events_sessions",
    "events_json_agg",
    # round-2 surface (added r3 so its perf is tracked round-over-round;
    # excluded from the round-over-round comparable subtotal below)
    "graph_hits",
    "graph_kcore",
    "ann_ivf_pq_topk",
    "docs_bm25",
    "corpus_curation",
    "events_scd2",
    # round-3 session additions (also excluded from the subtotal)
    "graph_eigenvector",
    "chunk_dedup",
    "corpus_shuffle_shards",
    "multimodal_jpeg_decode",
    "lineitem_zorder_key",
    "orders_custkey_skew",
    "bloom_pruned_revenue",
    "corpus_ingest_delta",
    # round-4 session additions (also excluded from the subtotal)
    "graph_link_prediction",
    "line_dedup",
    "dsir_logratio",
    "embedding_quantize_int8",
    "ann_ivf_pq_residual_topk",
    # round-4 continuation additions (also excluded from the subtotal)
    "simhash_near_pairs",
    "c4_line_filter",
    "embedding_pca_top",
    "events_session_paths",
    "tfidf_doc_topk",
    # round-4 closing-session additions (also excluded)
    "multimodal_video_frames",
    "multimodal_jpeg_progressive_decode",
    "multimodal_ulaw_decode",
    "semantic_dedup",
    "gopher_rules",
    # round-4d session additions (also excluded)
    "multimodal_flac_decode",
    "multimodal_msvc_frames",
    "bpe_train_merges",
    "embedding_kmeans_report",
    "graph_scc_condensation",
    "dedup_ppjoin",
    "graph_coloring",
    "warc_ingest",
    "multimodal_gif_frames",
    "bpe_encode_ids",
    "graph_msf",
    # round-5 additions (also excluded from the comparable subtotal)
    "dup_span_stats",
    "nb_lang_confusion",
    "ann_recall_report",
    "graph_hyperanf",
    "multimodal_mdct_decode",
    "multimodal_mc_video_decode",
    # round-6 additions (also excluded from the comparable subtotal)
    "embedding_hard_negatives_ivf",
    "embedding_triplet_set_ivf",
    "trigram_logprob",
    "ccnet_perplexity_bands",
    "dsir_select",
    "embedding_int8_recall",
    "graph_louvain_move",
    "entity_clusters",
    "lineitem_hilbert_key",
    "customers_all_quarters",
    "events_funnel_windowed",
    "graph_knn_profile",
    "embedding_drift_report",
    "docs_rake_keywords",
    "events_stl_decompose",
    "events_debounce",
    "customer_spend_percentile",
    "embedding_cluster_sample",
    "lineitem_layout_skipping",
    "events_attribution_ushape",
    "events_user_lorenz",
    "graph_path_counts",
    "brand_dual_sourcing",
    "embedding_knn_outliers",
    # round-7 additions (also excluded from the comparable subtotal)
    "embedding_sign_hash_recall",
    "docs_quality_calibration",
    "corpus_selection_curve",
    "cluster_topic_terms",
    "events_ab_test",
    "embedding_pq_distortion",
    "dedup_threshold_sweep",
    "audio_speech_segments",
    "returnflag_year_chi2",
    "multimodal_patch_stats",
    "orders_ship_latency",
    "docs_textrank_keywords",
    "nation_trade_balance",
    "interpolated_logprob",
    "embedding_centroid_separation",
    "orders_reorder_interval",
    "graph_degree_gini",
    "embedding_ivf_cell_balance",
    "multimodal_intensity_histogram",
    "docs_hapax_ratio",
    "corpus_growth_dedup_curve",
    "events_weekly_growth",
]


# Round-8 sweep promotions (VERDICT r7 item 6): every registry key
# the r8 full sweep timed at >= 0.5s (one-shot, sf0.1) that was not
# already a HEADLINE entry, plus the round-8 additions. TAIL keys
# run ONCE per bench (not best-of-2) and report under "tail"/
# "tail_total" so a regression in a formerly-unbenched operator is
# visible round-over-round without disturbing the comparable
# HEADLINE subtotals. Sub-0.5s keys stay unbenched by the documented
# cutoff; the full sweep lives in tools/bench_sweep.py.
TAIL = [
    "graph_salsa",
    "graph_mis",
    "lineitem_correlations",
    "graph_topo_levels",
    "ann_pq_topk",
    "graph_simrank",
    "ann_lsh_multiprobe",
    "graph_pseudo_diameter",
    "graph_bowtie",
    "dedup_method_report",
    "on_shortest_weighted",
    "vocab_coverage_curve",
    "dedup_cluster_sizes",
    "graph_katz",
    "graph_spectral_bisection",
    "graph_edge_embeddedness",
    "graph_pagerank_weighted",
    "graph_anf_growth",
    "column_correlations_nulls",
    "graph_dyad_census",
    "graph_bipartite_projection",
    "audio_window_rms",
    "graph_random_walks",
    "graph_node2vec_walks",
    "graph_walk_skipgrams",
    "graph_trussness",
    "dedup_recall_report",
    "docs_tf_cosine_topk",
    "source_overlap_matrix",
    "graph_percolation",
    "ann_nprobe_curve",
    "docs_tree_depth2",
    "sssp_weighted",
    "graph_coreness",
    "minhash_est_accuracy",
    "graph_degree_distribution",
    "graph_closeness",
    "sorted_neighborhood_pairs",
    "khop_downstream",
    "embedding_random_projection",
    "bigram_logprob",
    "export_edges",
    "ngram_topk",
    "embedding_hard_negatives",
    "dedup_embedding_cosine",
    "khop_bi",
    "graph_label_spread",
    "fuzzy_name_pairs",
    "graph_onion_layers",
    "graph_reciprocity",
    "khop_bi_children",
    "pmi_pairs",
    "split_leakage_audit",
    "graph_ego_stats",
    "layout_by_layer",
    "orders_custkey_cms",
    "graph_conductance",
    "basket_triples",
    "graph_adjacency_export",
    "dedup_clusters",
    "graph_assortativity",
    "simhash_bit_balance",
    "graph_modularity",
    "graph_ppr",
    "components_weak_star",
    "parts_abc_classes",
    "ann_lsh_bucketed",
    "components_strong_cyclic",
    "graph_incremental",
    "embedding_knn_accuracy",
    "graph_maximal_matching",
    "multimodal_image_dhash",
    "graph_communities_lpa",
    "orders_open_per_day",
    "sssp_hops",
    "lsh_bucket_stats",
    "graph_betweenness",
    "sequence_packing",
    "containment_pairs",
    "graph_clustering_coeff",
    "graph_ktruss",
    "graph_clique4",
    "embedding_project_out",
    "multimodal_dhash_near_pairs",
    "graph_wl_colors",
    "ann_ivf_topk",
    "graph_motif_open_triads",
    "graph_attr_assortativity",
    "embedding_matryoshka_eval",
    "style_columns_power",
    "graph_square_count",
    "style_columns",
    "fk_inclusion_profile",
    "events_markov_stationary",
    "docs_ngram_novelty",
    "docs_rag_chunks",
    "minhash_signatures",
    "basket_pairs",
    "graph_anf",
    "graph_link_training_set",
    "orders_integrity_audit",
    "graph_annotate",
    "encode_decode_roundtrip",
    "embedding_cosine_histogram",
    "embedding_triplet_set",
    "components_strong",
    "graph_rich_club",
    "multimodal_decode",
    "tokenize_to_ids",
    "docs_lang_confusion",
    "oov_rate",
    "docs_window_pmi",
    "source_length_percentiles",
    "docs_profile",
    "embedding_dim_stats",
    "revenue_lorenz",
    "graph_node_jaccard",
    "docs_split_finding",
    "zipf_slope",
    "multimodal_png_decode",
    "video_scene_cuts",
    "multimodal_mjpeg_frames",
    "filter_edges_prune",
    "bpe_merge_candidates",
    "orders_cdc_apply",
    "events_user_features",
    "tpch_q21",
    "docs_term_stats",
    "stratified_sample",
    "parts_skyline",
    "multimodal_audio_fingerprint",
    "bipartite_layout",
    "embedding_norm_outliers",
    "embedding_nearest_centroid",
    "tpch_q16",
    "compressed_text_ingest",
    "tpch_q2",
    "multimodal_bmp_decode",
    "vocab_kl_by_source",
    "docs_lang_auc",
    "lineitem_benford",
    "corpus_report",
    "revenue_gini",
    "encode_layer_dict",
    "multimodal_alaw_decode",
    "events_attribution",
    "multimodal_adpcm_decode",
    "orders_price_mad",
    "events_cusum_drift",
    "events_active_users",
    "multimodal_jpeg420_decode",
    "docs_term_burstiness",
    "graph_layer_matrix",
    "embedding_fisher_ratio",
    "tpch_q18",
    "sql_surface",
    "multimodal_channel_stats",
    "orders_fd_profile",
    "events_autocorr",
    "text_readability",
    "embedding_silhouette_by_label",
    "tpch_q7",
    "merge_props",
    "events_cohort_ltv",
    "dedup_keep_policy",
    "multimodal_audio_augment",
    "embedding_exact_dup",
    "length_psi_by_source",
    "unigram_logprob",
    "tpch_q17",
    "events_seasonal_naive_eval",
    "vocab_growth",
    "multimodal_tiff_decode",
    "view_layers",
    "tpch_q10",
    "orders_priority_drift",
    "boilerplate_lines_topk",
    "graph_build_nodes",
    "char_entropy",
    "discount_qty_elasticity",
    "tpch_q9",
    "embedding_mmr_topk",
    "source_jsd_matrix",
    "events_stage_latency",
    "events_poisson_dispersion",
    "customer_reorder_survival",
    "events_dow_anova",
    "multimodal_image_entropy",
    "lineitem_ks_test",
    "brand_type_lift",
    "token_length_histogram",
    "events_user_type_entropy",
    "docs_simpson_index",
    "graph_temporal_reach",
    # round-8 batch 7/8 additions (post-sweep; timed by the driver)
    "rfm_segment_migration",
    "docs_span_corruption_plan",
    "orders_gap_burstiness",
    "lineitem_qty_price_mi",
    "events_transition_entropy",
    "embedding_knn_margin",
    # round-9 additions (sweep-timed 0.9-7s at sf0.1; all >= cutoff)
    "multimodal_gif_interlaced",
    "multimodal_tiff_bigendian",
    "lineitem_theil_index",
    "orders_fulfillment_curve",
    "events_burst_periods",
    "source_burrows_delta",
    "dedup_bbit_minhash",
    "multimodal_png_interlaced",
    # round-10 additions
    "lineitem_trimmed_mean",
    "events_runs_test",
    "events_mann_kendall",
    "events_ljung_box",
    "docs_yules_k",
    "embedding_lid",
    "graph_centrality_spearman",
    "lineitem_grubbs",
    "multimodal_qoi_roundtrip",
    "graph_voterank",
    "embedding_energy_distance",
    "docs_heaps_exponent",
    "graph_path_length_stats",
    "embedding_participation_ratio",
    "lm_heldout_perplexity",
    "events_kpss_test",
    "basket_rules",
]


def _canary(spark, label: str) -> list[float]:
    """Host-steal canary (VERDICT r10 item 1): a fixed 3-rep lineitem
    scan-agg whose healthy figure on this box is ~0.3-0.5s at sf0.1.
    The loadavg gate samples once at start and cannot see host-level
    CPU steal mid-run (BENCH_r10_s6_hoststeal.json: gate green, 82x
    swings); this probe is re-run mid- and end-of-bench and stamped
    into the artifact so a polluted run is machine-refusable."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    reps: list[float] = []
    for _ in range(3):
        t0 = time.time()
        li.selectExpr(
            "sum(l_extendedprice * (1.0 - l_discount))", "count(*)"
        ).collect()
        reps.append(round(time.time() - t0, 3))
    print(f"# canary[{label}]: {reps}", file=sys.stderr)
    return reps


def _cpu_ticks() -> "tuple[int, int] | None":
    """(steal_ticks, total_ticks) from /proc/stat — cumulative and
    exact. Host CPU steal is the pollution mode the scan-agg canary
    can slip between (bursts at tens-of-seconds granularity inflate
    multi-stage queries 10-25x while a 3x0.2s probe reads healthy);
    the tick DELTA over the whole run cannot be dodged."""
    try:
        with open("/proc/stat") as f:
            p = f.readline().split()
        vals = list(map(int, p[1:9]))
        return vals[7], sum(vals)
    except (OSError, ValueError, IndexError):
        return None


def _steal_pct(t0, t1) -> "float | None":
    if t0 is None or t1 is None or t1[1] <= t0[1]:
        return None
    return round(100.0 * (t1[0] - t0[0]) / (t1[1] - t0[1]), 3)


def main() -> None:
    started = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    sf_m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(sf_m.group(1).rstrip(".")) if sf_m else -1.0
    try:
        load1 = round(os.getloadavg()[0], 2)
    except OSError:
        load1 = -1.0
    if load1 > 0.5:
        print(
            f"# WARNING: 1-min load {load1} > 0.5 at start — timings "
            "will be ambient-polluted; artifact stamped ambient=true",
            file=sys.stderr,
        )
    spark = get_spark("onionnet-bench")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    # Warm up the JVM (codegen, shuffle machinery, parquet footer
    # reads) outside any per-query timer so the first headline query
    # isn't charged for session startup.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").limit(1).collect()
    canary_thresh = float(os.environ.get("ONIONNET_CANARY_THRESH", "0.8"))
    canary_start = _canary(spark, "start")
    ticks_start = _cpu_ticks()
    # Best-of-N per query: steady-state timing (caches warm, JIT
    # settled), robust to ambient machine noise. N kept small so the
    # whole bench stays a few minutes.
    # Iterations run BACK-TO-BACK per query (not as full passes over
    # the whole head list): with 70+ heads, a full pass between a
    # query's two runs evicts every session-shared cache it warmed,
    # so pass-ordered best-of-2 silently degrades to cold-vs-cold as
    # the head list grows (measured: khop_upstream 1.9s steady in
    # the 41-head rounds, 4.2s in the first 73-head run, 1.5s again
    # when its runs are adjacent). Adjacent runs measure the same
    # steady state at ANY head count, which keeps round-over-round
    # subtotals comparable.
    iters = int(os.environ.get("ONIONNET_BENCH_ITERS", "2"))
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    for name in HEADLINE:
        fn = qs[name]
        for it in range(iters):
            t0 = time.time()
            df = fn(spark, SF_DIR)
            n = df.count()  # force full execution
            dt = time.time() - t0
            if it == 0:
                # First adjacent run = the COLD path (plan compile,
                # codebook/broadcast build, checkpoint materialize).
                # VERDICT r8 item 4: best-of-2 hid a 6x cold/warm
                # spread (dedup_ngram_jaccard 14.7s cold vs 2.46s
                # reported), so cold is now a first-class figure.
                cold[name] = round(dt, 3)
            else:
                # Warm = best of the non-first adjacent runs: the
                # steady state the old best-of-2 min effectively
                # measured, kept as the comparable subtotal basis.
                if name not in warm or dt < warm[name]:
                    warm[name] = round(dt, 3)
            print(f"# iter{it} {name}: {dt:.2f}s rows={n}", file=sys.stderr)
        # single-iteration runs: the one figure is both cold and warm
        timings[name] = warm.get(name, cold[name])
    total = sum(timings.values())
    # Comparable subsets are EXPLICIT prefixes of the headline list
    # (it only ever grows by appending), so a new round's additions
    # can never silently leak into an older round's subtotal:
    #   r2 subset = the 27 queries BENCH_r01/r02 measured,
    #   r3 subset = the 41 queries BENCH_r03 measured (the judge's
    #   round-over-round comparison basis).
    n_r2, n_r3 = 27, 41
    assert HEADLINE[n_r2 - 1] == "events_json_agg"
    assert HEADLINE[n_r3 - 1] == "corpus_ingest_delta"
    r2_subset = sum(timings[k] for k in HEADLINE[:n_r2])
    r3_subset = sum(timings[k] for k in HEADLINE[:n_r3])
    # Field order matters: the driver retains a bounded TAIL of
    # stdout, so diagnostics (cold/warm per head — a cold-path
    # regression shows as cold >> warm) go first and the headline
    # values/queries go LAST to survive truncation.
    # TAIL: one run per key (regression tripwire, not a steady-state
    # figure — see the TAIL comment above). Skippable for quick
    # headline-only iterations via ONIONNET_BENCH_TAIL=0.
    ticks_mid = _cpu_ticks()
    canary_mid = _canary(spark, "mid")
    tail_timings: dict[str, float] = {}
    if os.environ.get("ONIONNET_BENCH_TAIL", "1") != "0":
        for name in TAIL:
            fn = qs.get(name)
            if fn is None:
                continue
            t0 = time.time()
            n = fn(spark, SF_DIR).count()
            dt = time.time() - t0
            tail_timings[name] = round(dt, 3)
            print(f"# tail {name}: {dt:.2f}s rows={n}", file=sys.stderr)
    ticks_end = _cpu_ticks()
    canary_end = _canary(spark, "end")
    steal_head = _steal_pct(ticks_start, ticks_mid)
    steal_tail = _steal_pct(ticks_mid, ticks_end)
    steal_thresh = float(os.environ.get("ONIONNET_STEAL_THRESH", "2.0"))
    steal_degraded = any(
        s is not None and s > steal_thresh for s in (steal_head, steal_tail)
    )
    if steal_degraded:
        print(
            f"# WARNING: host CPU steal over the run (headline "
            f"{steal_head}%, tail {steal_tail}% of all ticks; threshold "
            f"{steal_thresh}%) — timings are steal-polluted; artifact "
            "stamped ambient=true",
            file=sys.stderr,
        )
    # Gate on the MIN of each 3-rep probe: a brief spike inflates one
    # rep, sustained host steal inflates all three. Healthy min on
    # this box at sf0.1 is ~0.3-0.5s regardless of 8 vs 32 cores (the
    # scan-agg is a handful of tasks).
    canary_worst_min = max(min(canary_start), min(canary_mid), min(canary_end))
    canary_degraded = canary_worst_min > canary_thresh
    if canary_degraded:
        print(
            f"# WARNING: steal canary degraded (worst 3-rep min "
            f"{canary_worst_min}s > {canary_thresh}s) — host contention "
            "mid-run; artifact stamped ambient=true",
            file=sys.stderr,
        )
    payload = {
        "metric": "headline_queries_total_runtime",
        "timing": (
            f"cold = first of {iters} adjacent runs, warm = best of "
            "the rest; 'queries' carries warm (comparable subtotals)"
        ),
        "cold": cold,
        "warm": warm,
        # Ambient-load gate (VERDICT r8 item 5): all four r8 runs were
        # hand-flagged as load-polluted in prose only. Stamp the 1-min
        # load into the artifact so tools/bench_compare.py (and the
        # judge) can refuse to ratio-compare a polluted run.
        "load_1min_start": load1,
        # Steal canary (VERDICT r10 item 1): loadavg cannot see host
        # contention; the fixed scan-agg probe at start/mid/end can.
        # ambient now ALSO trips when any probe's 3-rep min exceeds
        # the threshold, so a mid-run steal burst is machine-refusable.
        "canary": {
            "probe": "lineitem scan-agg: sum(extprice*(1-disc)), count(*)",
            "reps_start": canary_start,
            "reps_mid": canary_mid,
            "reps_end": canary_end,
            "gate_worst_min_sec": canary_worst_min,
            "threshold_sec": canary_thresh,
            "degraded": canary_degraded,
        },
        # Host CPU steal over the run (/proc/stat tick deltas): the
        # r11-entry run proved steal bursts at tens-of-seconds
        # granularity inflate multi-stage queries 10-25x while the
        # point-in-time canary reads healthy; the run-long steal
        # fraction is the gate a burst cannot dodge. Healthy ~0%.
        "steal_pct_headline": steal_head,
        "steal_pct_tail": steal_tail,
        "steal_threshold_pct": steal_thresh,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
        "ambient": load1 > 0.5 or canary_degraded or steal_degraded,
        "tail_timing": "single run per query, >=0.5s sweep cutoff",
        "tail": tail_timings,
        "tail_total": round(sum(tail_timings.values()), 3),
        "queries": timings,
        "sf": sf,
        "unit": "sec",
        "value_r2_subset": round(r2_subset, 3),
        "value_r3_subset": round(r3_subset, 3),
        "value": round(total, 3),
    }
    # The driver artifact keeps only the last ~2000 chars of stdout,
    # which truncated 31 of 97 per-query figures in BENCH_r06 — so
    # ALSO write the full JSON to a file that gets committed with
    # the round, stamped with the core count and the UTC start time
    # so no run overwrites another.
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        cpus = payload["cpus"].replace("*", "all")  # local[*]
        name = f"BENCH_FULL_c{cpus}_{started}.json"
        with open(os.path.join(here, name), "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
    except OSError:
        pass  # read-only checkout: stdout line still carries totals
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
