"""Benchmark runner — times the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Each query is materialized through the `noop` sink (full execution,
no driver-side collection cost, no disk write) — the honest measure of
plan execution time. Reference baseline for context: the original
pipeline's Spark job took 22.16 s for a ~5.8k-row pivot on a 2x2-core
standalone cluster (BASELINE.md); this engine's target is the full
headline set in low single-digit seconds at sf0.1.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from end2end_data_pipeline_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402

# Representative, scale-meaningful subset of the registry: the
# reference's flagship analytics, the relational heavy-hitters, and the
# LLM-pipeline extensions. (Excluded: dedup_ngram_jaccard_pairs — the
# exact ground-truth check whose inverted-index blowup on this
# small-vocabulary synthetic corpus is intentionally quadratic; and
# dedup_clusters — the iterative component loop is bounded by
# propagation ROUNDS (driver-coordinated latency), not data
# throughput, so it measures scheduler overhead rather than engine
# speed at bench scale.)
HEADLINE = [
    "event_status_pivot",
    "event_minute_counts",
    "event_error_rate",
    "event_sessionization",
    "event_error_streaks",
    "asof_last_view_before_purchase",
    "event_pairs_within_window",
    "props_k_distribution",
    "lineitem_pricing_summary",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "q18_large_orders",
    "top_revenue_orders",
    "nation_supplier_revenue",
    "top_orders_per_customer",
    "segment_distinct_buyers",
    "dedup_exact_stats",
    "dedup_minhash_pairs",
    "dedup_simhash_signatures",
    "text_quality_scores",
    "token_stats_by_lang",
    "tfidf_top_terms",
    "docs_split_assign",
    "knn_bruteforce",
    "embedding_lsh_buckets",
    "dedup_embedding_neardup",
    "ann_ivf_topk_nprobe",
    "q5_local_supplier_volume",
    "q13_customer_distribution",
    "q8_market_share",
    "corpus_pack_chunks",
    "eval_contamination",
    "shingle_novelty_curve",
    # round-5 additions (per-query r3/r4 comparisons unaffected; the
    # total is only comparable within the same HEADLINE revision)
    "bigram_surprise_profile",
    "docs_chunk_overlap",
    "user_retention_cohorts",
    "embedding_quantization_profile",
    "key_skew_profile",
    # round-6 additions. (Excluded: first_seen_users_batch — a plain
    # groupBy-min already represented by the relational heavy-hitters;
    # q3_shipping_priority_bucketed — its first call materializes the
    # bucketed tables, so its wall time measures the one-time write,
    # not the query.)
    # round-7 registrations are excluded for the same reason as the
    # bucketed twin: warehouse_minute_dpp_extract's first call
    # materializes the partitioned warehouse (one-time write, not
    # query speed) and minute_counts_stream_replay times the streaming
    # sink+checkpoint lifecycle, not plan execution.
    "event_value_deciles",
    "orders_column_profile",
    "fk_orphan_audit",
    "minute_anomaly_ratio",
    "session_top_paths",
    "part_name_typo_pairs",
    "part_copurchase_lift",
    "embedding_threshold_sweep",
    "orders_backlog_over_time",
    "embedding_dim_variance_profile",
    # the 20 round-6 operators entering the r7 check window — first
    # sf0.1 timings this round ("measure, don't guess"); cross-round
    # totals stay comparable via carried_subtotal below
    "customer_pareto_share",
    "event_conversion_delay_histogram",
    "customer_spend_tier_transitions",
    "event_error_rate_wilson",
    "latest_event_per_user_maxby",
    # (q12_shipmode_priority_bucketed excluded like the q3 bucketed
    # twin: first call materializes the bucketed tables)
    "lineitem_ship_latency_bands",
    "doc_length_gini_by_lang",
    "supplier_revenue_hhi_by_nation",
    "event_value_benford_profile",
    "orders_key_gap_profile",
    "user_inactivity_bands",
    "event_mix_daily_drift",
    "daily_new_vs_returning",
    "customer_rolling_30d_spend",
    "event_minute_value_locf",
    "hourly_count_autocorr_24h",
    "user_type_diversity_bands",
    "embedding_centroid_margin_profile",
    "session_bounce_rate_daily",
    # round-7 additions (session_window_stream_replay excluded like
    # minute_counts_stream_replay: it times the streaming
    # sink+checkpoint lifecycle, not plan execution)
    "orders_seasonality_dow",
    "lineitem_quantity_winsorized",
    "events_cusum_drift",
    "sessions_markov_transitions",
    "docs_bigram_diversity_bands",
    "user_cosession_degree",
    "embedding_pq_codebook",
    # round-8 additions. (Excluded: q8/q15 bucketed twins,
    # ann_ivf_persisted_topk, and ivf_cell_occupancy_audit — first
    # call materializes the bucketed tables / partitioned IVF index,
    # a one-time write, not query speed; the ingest-parity family
    # (webdataset/jsonl/audio/video parity + the streaming replay) —
    # they time a driver-side fixture build plus a kilobyte-scale
    # read, not engine throughput.)
    "order_value_ge2_index",
    # round-9 additions. (Excluded, same conventions: the OCF/CSV/PNG
    # parity queries and the stream replays time fixture builds and
    # sink lifecycles; docs_shard_skew_profile and
    # warehouse_compaction_audit time one-time layout writes.)
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "ann_ivfpq_residual_topk",
    "docs_merge_upsert_profile",
    "bpe_merge_candidates",
    "vocab_heavy_hitters",
    "part_copurchase_triangles",
    "dedup_prefixfilter_pairs",
    "lineitem_zorder_zonemap",
    "lineitem_corr_matrix",
    "orders_daily_ols_trend",
    "props_variant_profile",
    "nation_cosupply_bfs_recursive",
    "nation_top2_customers_lateral",
    "snapshot_reconcile_audit",
    "bloom_prefilter_audit",
    "order_allocation_proration",
    "udtf_token_runs",
    "scd2_customer_tier_history",
    "region_nation_revenue_share",
    "scd2_point_in_time_join",
    "customer_spend_rank_bands",
    "orders_daily_ewma16",
    # round-9 reporting/serving tier (orders_keyset_pagination is
    # included deliberately: its 5 sequential page jobs ARE the
    # serving pattern under test, so its wall time is the protocol's
    # real cost, not a fixture build)
    "session_concurrency_timeline",
    "user_activity_bitmap",
    "user_count_cms_audit",
    "part_price_size_skyline",
    "orders_keyset_pagination",
    "nation_customer_listagg",
    "segment_nation_chisq",
    "customer_order_gap_median",
    "docs_conjunctive_search",
    # round-9 nonparametric-statistics tier
    "orders_weekly_mann_kendall",
    "orders_weekly_kendall_tau",
    "segment_price_ks_distance",
    "returnflag_quantity_mwu",
    "orders_daily_runs_test",
    "partkey_selfjoin_cms_estimate",
    # round-9 closers: outer-join stream replay (times the REAL
    # three-micro-batch drain incl. sentinel flush), schema-evolution
    # merged read, drawdown episode log
    "abandoned_views_stream_replay",
    "parquet_schema_evolution_parity",
    "orders_daily_drawdown_records",
    # round-9 recsys/graph/retrieval tier
    "part_itemitem_cosine_topk",
    "nation_supply_latency_paths",
    "docs_phrase_search",
    "docs_bm25_search",
    "part_copurchase_communities",
    "orders_cohort_ltv",
    "orders_capacity_queue_sim",
    "orders_weekly_theilsen_trend",
    "docs_quantile_norm_by_lang",
    "embedding_triplet_mining",
    "markov_backtest_hitrate",
    "orders_daily_mad_anomalies",
    "suppliers_serving_all_regions",
    "nation_median_spend_udaf",
    # round-9 session-4: exact quantiles / survival / structural graph
    # pruning, plus the trend-family and retrieval-family closers
    "ship_latency_percentiles_by_nation",
    "customer_repurchase_hazard",
    "part_copurchase_kcore",
    "orders_weekly_isotonic_fit",
    "docs_pmi_collocations",
    "docs_hybrid_rrf_search",
    "knn_ranking_eval",
    # round-9 session-4 closers: imputation, association, governance,
    # experimentation, attribution, conformal eval. (Excluded:
    # dedup_lsh_recall_eval — it composes dedup_ngram_jaccard_pairs,
    # whose inverted-index blowup on this small-vocabulary synthetic
    # corpus is intentionally quadratic and already bench-excluded.)
    "event_minute_value_lerp",
    "event_minute_crosscorr_lags",
    "customer_kanonymity_profile",
    "part_copurchase_assortativity",
    "orders_fd_audit",
    "user_ab_experiment_audit",
    "purchase_linear_attribution",
    "event_value_conformal_bands",
    "orders_revenue_bootstrap_ci",
    "customer_censored_lifetable",
    # round-9 session-4 third wave. (Excluded: dedup_lsh_scurve_eval —
    # composes the bench-excluded intentionally-quadratic exact-pairs
    # query, like dedup_lsh_recall_eval.)
    "orders_fiscal_445_rollup",
    "orders_total_reconciliation",
    "orders_ht_estimate_audit",
    "embedding_split_drift",
    "vocab_coverage_curve",
    "event_arrival_burstiness",
    "customer_revenue_gini",
    "markov_reliability",
    "brand_return_rates",
    "revenue_mom_waterfall",
    # round-10 additions
    "gdpr_delete_cascade_audit",
    "orders_seasonal_naive_mase",
    "customer_golden_record",
    "parquet_footer_health",
    "purchase_attribution_model_compare",
    # round-10 second wave: LLM data-selection / span-dedup tier
    "dedup_repeated_ngram_coverage",
    "docs_dsir_domain_affinity",
    "semdedup_prune_decisions",
    "split_leakage_neardup_audit",
    "corpus_curation_funnel",
    "corpus_packing_efficiency_sweep",
    "source_temperature_mix",
    "dedup_span_cut_plan",
    "curation_stream_replay",
    "customer_ldiversity_profile",
    "docs_codeswitch_profile",
    "typo_blocking_recall_eval",
    "customer_tcloseness_profile",
    # round 11: iterated BPE tokenizer training + tokenizer eval
    "bpe_merge_steps",
    "bpe_encode_stats",
    # round-11 additions
    "source_shingle_overlap_matrix",
    "source_ablation_deltas",
    "training_order_runs_audit",
    "length_bucket_batch_plan",
    "curriculum_phase_plan",
    "source_shingle_overlap_kmv",
    "bpe_vocab_prune_sweep",
    "kmeans_silhouette_profile",
    "source_sketch_stream_replay",
    "q2_min_cost_supplier",
    "q9_product_type_profit",
    "q11_important_stock",
    "q20_excess_inventory_suppliers",
    "ann_dim_truncation_recall",
    "source_budget_apportionment",
]

# FROZEN round-3 headline — the cross-round comparability basis.
# ``carried_subtotal`` sums exactly these 33 every round, so
# BENCH_rN vs BENCH_rN-1 is a one-field comparison no matter how the
# growing HEADLINE evolves (VERDICT r6 "What's wrong" #3: the headline
# total read as a regression when it was growth). Do not edit; new
# queries join HEADLINE only.
CARRIED_33 = (
    "event_status_pivot",
    "event_minute_counts",
    "event_error_rate",
    "event_sessionization",
    "event_error_streaks",
    "asof_last_view_before_purchase",
    "event_pairs_within_window",
    "props_k_distribution",
    "lineitem_pricing_summary",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "q18_large_orders",
    "top_revenue_orders",
    "nation_supplier_revenue",
    "top_orders_per_customer",
    "segment_distinct_buyers",
    "dedup_exact_stats",
    "dedup_minhash_pairs",
    "dedup_simhash_signatures",
    "text_quality_scores",
    "token_stats_by_lang",
    "tfidf_top_terms",
    "docs_split_assign",
    "knn_bruteforce",
    "embedding_lsh_buckets",
    "dedup_embedding_neardup",
    "ann_ivf_topk_nprobe",
    "q5_local_supplier_volume",
    "q13_customer_distribution",
    "q8_market_share",
    "corpus_pack_chunks",
    "eval_contamination",
    "shingle_novelty_curve",
)
assert set(CARRIED_33) <= set(HEADLINE) and len(CARRIED_33) == 33


def _group_tasks(sc, group: str) -> int:
    """Total tasks launched by the jobs of one query's job group — a
    plan-shape fingerprint (a silent plan blowup shows up here long
    before wall time degrades on a big machine)."""
    tracker = sc.statusTracker()
    tasks = 0
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        for stage_id in info.stageIds:
            sinfo = tracker.getStageInfo(stage_id)
            if sinfo is not None:
                tasks += sinfo.numTasks
    return tasks


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    load_start = os.getloadavg()
    spark = get_spark(app_name="bench")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    queries = entrymod.queries()

    # untimed warmup: absorbs JVM/codegen/parquet-footer warmup so the
    # first timed query isn't charged for JIT compilation
    queries["event_report_totals"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    # ... and the Python worker pool: the first Arrow-batched query
    # otherwise pays the per-core daemon forks (~1 s at local[32]) —
    # session infrastructure, not that query's plan (r10: it landed on
    # vocab_heavy_hitters as a phantom 6.5x first/min spread)
    spark.range(256).repartition(int(os.environ.get("SPARK_GRAFT_CPUS", "32"))).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    # ... and the flagship scan->partial-agg->pivot shape itself: the
    # two generic warmups left the FIRST timed query absorbing ~2.8 s
    # of residual session warm-up (r10: event_status_pivot 3.85 s
    # first-exec vs 1.05 s min — VERDICT r10 #5). One untimed run of
    # the exact first HEADLINE query charges that residue to setup,
    # where it belongs.
    queries[HEADLINE[0]](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    # machine-speed canary (VERDICT r12 #2): a fixed, pure-CPU,
    # JVM-side job — no I/O, no Python, no shuffle — timed after the
    # warmups. Its wall time depends only on this machine's effective
    # CPU speed at recording time, so cross-round bench records are
    # normalizable: carried_min ratios that track canary ratios are
    # machine drift; ratios that exceed them are engine regressions.
    # min-of-2 strips a stray scheduling hiccup without absorbing
    # sustained contention (which is exactly what it should measure).
    def _canary_once() -> float:
        t0 = time.perf_counter()
        # avg, not sum: xxhash64 is full-range int64, so summing 200M
        # of them overflows under ANSI; avg aggregates in double
        spark.range(0, 200_000_000, 1, 32).selectExpr(
            "avg(xxhash64(id)) as h"
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    canary_sec = round(min(_canary_once(), _canary_once()), 3)

    # SPARK_GRAFT_BENCH_REPEAT=N times each query N times. Default 3
    # since r8 (VERDICT r7 #6: load spikes on the shared container
    # made every cross-round comparison an adjudication). TWO metrics
    # are recorded per query, because they answer different questions:
    # - FIRST-execution wall (``queries``/``carried_subtotal``): the
    #   cold run, directly comparable with the repeat=1 r1-r7 history.
    #   The min would flatter queries that .cache() internally —
    #   repeats re-read the cached rollup and skip the dominant scan,
    #   a phantom speedup, not a plan win.
    # - MIN over repeats (``queries_min``/``carried_subtotal_min``):
    #   the ambient-noise-stripped number for same-mode (r8+)
    #   comparisons; for caching queries it measures the warm path,
    #   consistently so across rounds.
    # Task fingerprints come from the first execution only; they are
    # comparable only between same-repeat records (cache-adjacent
    # queries wobble ±2-6 tasks run-to-run — PERF_NOTES r8).
    repeat = max(int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "3")), 1)
    timings: dict[str, float] = {}
    timings_min: dict[str, float] = {}
    tasks: dict[str, int] = {}
    for name in HEADLINE:
        fn = queries[name]
        best = None
        first = None
        for i in range(repeat):
            sc.setJobGroup(name, f"bench:{name}")
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
            if i == 0:
                first = wall
                tasks[name] = _group_tasks(sc, name)
            best = wall if best is None else min(best, wall)
        timings[name] = round(first, 3)
        timings_min[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    total_min = round(sum(timings_min.values()), 3)
    carried = round(sum(timings[n] for n in CARRIED_33), 3)
    carried_min = round(sum(timings_min[n] for n in CARRIED_33), 3)
    # contention fingerprint: wall times are only comparable across
    # rounds at similar ambient load. The r1->r2 "regression" (33.2s ->
    # 56.1s on identical code) was ambient contention at recording time
    # — r3 on an idle machine measured the same 24-query subset at
    # 28.0s, 16% FASTER than r1 (fan_out probe fix included).
    load_end = os.getloadavg()
    env = {
        "loadavg_start_1m": round(load_start[0], 2),
        "loadavg_end_1m": round(load_end[0], 2),
        # the noise self-description (VERDICT r11 #6): a large delta or
        # a high start means wall times landed on a loaded machine —
        # read carried_subtotal_min, not the first-exec totals
        "loadavg_delta_1m": round(load_end[0] - load_start[0], 2),
        # fixed pure-CPU Spark job (min-of-2) — the machine-speed
        # yardstick for normalizing wall times across rounds
        "canary_sec": canary_sec,
        # the slot count the session honored ($SPARK_GRAFT_CPUS via
        # get_spark), not the host's core count
        "cpus": sc.defaultParallelism,
        "master": sc.master,
        "repeat": repeat,
    }
    full = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "value_min": total_min,
        "unit": "sec",
        "carried_subtotal": carried,
        "carried_subtotal_min": carried_min,
        "carried_n": len(CARRIED_33),
        "queries": timings,
        "queries_min": timings_min,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "env": env,
        # plan-shape fingerprint: total tasks per query; stable across
        # machines, so a plan blowup is distinguishable from machine
        # contention in any future round.
        "tasks": tasks,
    }
    # The full record (38 timings + 38 task counts, ~2.7 kB) outgrows
    # the driver's tail capture, which truncated BENCH_r03/r04 to
    # unparseable fragments. Persist it to a file for forensics and
    # keep the final stdout line compact (<1.5 kB): total + the 5
    # slowest queries with their task fingerprints. The output file is
    # gitignored so benchmark runs never dirty the checkout; round
    # snapshots are committed deliberately (cp to BENCH_FULL.json).
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.latest.json"
    )
    with open(full_path, "w") as f:
        json.dump(full, f, indent=1)
        f.write("\n")
    # slowest-5 selected BY MIN-OF-REPEATS, and the min fields emitted
    # first (VERDICT r12 #6): a cold read of BENCH_rN leads with the
    # noise-stripped signal, not the contended first-exec walls —
    # BENCH_r12's headline table led with a 34 s first-exec for a
    # query whose min was 0.52 s.
    slowest = dict(sorted(timings_min.items(), key=lambda kv: -kv[1])[:5])
    compact = {
        "metric": "headline_queries_total_wall",
        "value_min": total_min,
        "carried_subtotal_min": carried_min,
        # the same 5 queries' first-exec walls, right next to their
        # min-of-repeats: a big first/min spread on a loaded machine
        # (see env.loadavg_delta_1m) is ambient contention, not a
        # plan regression (VERDICT r11 #6)
        "queries_min": slowest,
        "value": total,
        "carried_subtotal": carried,
        "unit": "sec",
        "queries": {k: timings[k] for k in slowest},
        "n_queries": len(timings),
        "sf": full["sf"],
        "env": env,
        "tasks": {k: tasks[k] for k in slowest},
        "full_record": "BENCH_FULL.latest.json",
    }
    print(json.dumps(compact))
    spark.stop()


if __name__ == "__main__":
    main()
