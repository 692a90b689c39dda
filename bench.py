"""Benchmark harness: times the engine's headline queries at a scale-factor
directory and prints ONE JSON line for the driver's BENCH_r{N}.json.

    $SPARK_GRAFT_SF_DIR  data dir (default /root/testdata/sf0.1)
    $SPARK_GRAFT_CPUS    local[] threads (default 32)

Each query executes end-to-end via the `noop` sink (full plan execution, no
driver collect overhead), after a JVM warm-up pass. The printed value is the
total wall seconds across headline queries.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from big_data_medical_analysis_spark import registry
from big_data_medical_analysis_spark.session import get_spark

HEADLINE = [
    "pricing_summary",
    "nation_order_cohorts",
    "top_orders_by_segment",
    "regional_revenue",
    "customer_order_stats",
    "topk_parts_per_brand",
    "user_event_deltas",
    "moving_order_totals",
    "purchase_asof_signup",
    "event_props_json",
    "monthly_revenue",
]
# Extended set, organized into STABLE NAMED COHORTS: per-cohort totals are
# recorded in BENCH_DETAIL.json (and compactly on the driver line) so
# round-over-round comparison survives set growth — a new query changes its
# own cohort's membership list (also recorded), not the meaning of every
# other cohort's number. Cohort membership is append-only by convention.
COHORTS: dict[str, list[str]] = {
    "dedup": [
        "docs_exact_dedup",
        "simhash_near_dup",
        "minhash_lsh_candidates",
        "edit_distance_pairs",
        "span_dedup_texts",
        "benchmark_decontamination",
        "minhash_portable_groups",
        "split_leakage_audit",
        "prefix_filter_jaccard_join",
        "minhash_estimate_accuracy",
        "minhash_incremental_probe",
        "intersource_dup_matrix",
        "governed_mixture_sample",
        "lsh_blocking_quality_audit",
        "snm_blocking_quality_audit",
        "snm_multipass_blocking_audit",
    ],
    "similarity": [
        "cosine_topk",
        "ann_brp_lsh",
        "ivf_topk",
        "quantized_cosine_topk",
        "rp_embedding_project",
        "kmeans_lloyd_centroids",
        "pca_power_iteration",
        "ann_incremental_probe",
        "pq_codebook_distortion",
        "pq_adc_topk",
        "ann_recall_audit",
        "ivf_pq_topk",
        "ann_multiprobe_audit",
        "embedding_diversity_score",
        # round 12: the geometry-scaling ladder (B vs candidates/probe)
        "ann_geometry_scaling_audit",
        # round 13: the geometry-ADAPTIVE registered serving path
        "ann_adaptive_probe",
    ],
    "text": [
        "doc_token_stats",
        "tfidf_top_terms",
        "doc_chunk_windows",
        "doc_repetition_signals",
        "token_pack_bins",
        "pii_scrub_stats",
        "explode_outer_q_tokens",
        "posting_list_index",
        "doc_lexical_diversity",
        "bpe_pair_merge_stats",
        "bigram_pmi_collocations",
        "zipf_rank_frequency",
        "comparator_sorted_tokens",
        "source_mixture_weights",
        "source_vocab_divergence",
        "bm25_doc_ranking",
        "rrf_fusion_ranking",
        "bigram_lm_perplexity_filter",
    ],
    "streaming_batch": [
        "tumbling_event_counts",
        "sliding_event_stats",
        "session_windows",
        "event_customer_enrich",
    ],
    "udf": [
        "pandas_udf_revenue",
        "label_centroids",
        "model_eval_accuracy",
        "fedavg_rounds",
        "fedavg_eval_loop",
        "cogrouped_user_profile",
        "doc_chunk_udtf",
        "arrow_l1_norms",
        "grouped_agg_median_order",
        "arrow_grouped_stats",
    ],
    # ML evaluation + training-prep pillar (round 7): metric layers and
    # deterministic-surrogate pipelines — split out of `udf` before any
    # driver bench recorded them there, so cohort semantics stay clean
    "eval_mlprep": [
        "confusion_matrix_metrics",
        "score_calibration_bins",
        "feature_hash_encoding",
        "roc_curve_points",
        "psi_distribution_drift",
        "contrastive_negative_pairs",
        "ab_test_proportions",
        "fairness_parity_by_segment",
        "decile_lift_table",
        "feature_info_gain_ranking",
        "auc_mann_whitney",
        "woe_iv_encoding",
        "gini_customer_concentration",
        "ndcg_retrieval_eval",
        "jackknife_mean_se",
        "conformal_interval_coverage",
        "cuped_adjusted_lift",
        "ab_test_power_mde",
        "did_estimator",
    ],
    "multimodal": [
        "image_augment_fanout",
        "png_decode_stats",
        "pkl_png_roundtrip",
        "image_dhash_near_dup",
        # round 12: the end-to-end reference-pipeline twin (capstone)
        "chexpert_pipeline_twin",
        # round 13: the twin's full-oracle replay off the pinned fixture
        "chexpert_twin_replay",
    ],
    "sketch_stats": [
        "countmin_user_counts",
        "bloom_customer_filter",
        "lineitem_price_moments",
        "quantity_higher_moments",
        "heavy_hitter_users",
        "approx_price_quantiles",
        "corr_covar_price_qty",
        "regr_price_date_trend",
        "median_mode_quantity",
        "bool_count_if_flags",
        "event_label_entropy",
        "hll_portable_distinct",
        "chisq_event_type_segment",
        "mad_robust_stats",
        "feature_zscore_by_label",
        "hll_merge_returnflag",
        "bitmap_distinct_orders",
        "hll_incremental_daily",
        "histogram_incremental_daily",
        "ks_drift_binned",
        "hll_set_algebra_audit",
        "drift_monitor_decision",
        "kaplan_meier_signup_to_purchase",
        "logrank_test_by_arm",
    ],
    "sampling_etl": [
        "weighted_sample_docs",
        "lang_quota_sample",
        "curated_corpus",
        "salted_skew_join",
        "event_type_pivot",
        "seeded_shuffle_batches",
        "portable_client_split",
        "orc_roundtrip_revenue",
        "jsonl_roundtrip_revenue",
        "corrupt_jsonl_quarantine",
        "xml_roundtrip_revenue",
        "schema_evolution_read",
        "incremental_agg_merge",
        "latest_event_per_user",
        "orders_upsert_apply",
        "cdc_tombstone_compaction",
        "morton_layout_keys",
        "per_group_downsample",
        "dynamic_partition_pruning",
        "npy_source_norms",
        "bucketed_colocated_join",
        "bucketed_fact_chain",
        "file_provenance_audit",
        "compact_small_files",
        "delta_join_view_maintenance",
        "rendezvous_reshard_audit",
        "snapshot_table_diff",
        "scd2_dimension_build",
        "user_erasure_rewrite",
    ],
    "analytics": [
        "rolling_7d_user_value",
        "ewma_daily_revenue",
        "cumulative_unique_users",
        "ntile_customer_deciles",
        "daily_value_locf",
        "dynamic_gap_sessions",
        "session_overlap_pairs",
        "event_funnel",
        "user_retention_cohorts",
        "daily_user_value_gapfill",
        "order_extremes_by_segment",
        "brand_price_distribution",
        "returnflag_measures_unpivot",
        "customer_order_history",
        "lateral_top_orders",
        "user_value_intervals",
        "event_session_ids",
        "order_next_event_asof",
        "copurchase_brand_pairs",
        "percent_rank_cume_orders",
        "frame_value_functions",
        "triangle_count_brand_graph",
        "brand_pagerank",
        "nation_trade_volume",
        "frequent_triples_apriori",
        "longest_daily_streak",
        "event_transition_matrix",
        "event_trigram_paths",
        "brand_graph_clustering_coeff",
        "last_touch_attribution",
        "watermark_delay_audit",
        "seasonal_anomaly_days",
        "pareto_frontier_parts",
        "scd2_point_in_time_join",
        "grid_radius_join",
        "rfm_customer_segments",
        "daily_revenue_autocorr",
        "rolling_median_revenue",
        "rolling_7d_distinct_users",
        "forecast_accuracy_naive",
    ],
    "scalar_variant": [
        "balance_bracket_lookup",
        "nation_revenue_share",
        "date_functions",
        "string_functions_extended",
        "null_safe_join_counts",
        "bitwise_props_flags",
        "orders_not_in_null_semantics",
        "event_props_variant",
        "ansi_safe_ratios",
        "lineitem_set_ops_all",
        "props_map_hof_transforms",
        "revenue_rollup_grouping_id",
        "priority_sets_by_segment",
        "join_hint_strategies",
        "time_hierarchy_rollup",
        "collation_aware_distinct",
    ],
    # data-quality pillar (round 7): schema-bounded profiling + checks
    "quality": [
        "orders_column_profile",
        "orders_column_profile_approx",
        "orders_dq_checks",
        "k_anonymity_audit",
        "benford_first_digit",
        "fk_fanout_profile",
        "table_content_fingerprint",
        "join_key_skew_audit",
        "join_size_estimate_audit",
        "l_diversity_audit",
        "dq_release_gate",
    ],
    # iterative recursive-CTE executor: cost = per-iteration job overhead ×
    # longest per-customer chain (depth-bound pytest in test_analytics);
    # isolated in its own cohort so its wall time is measured, visible, and
    # never muddies another cohort's trend.
    "recursion": ["order_chain_recursion"],
    # ----- round 11 (VERDICT r10 task 4): the 58 early r1/r2 queries that
    # predate the cohort system, added as NEW cohorts (existing cohort
    # membership stays append-only and untouched) so every registered
    # query has a wall-clock trend. With these, cohort∪headline ≡ the
    # whole registry — pinned by tests/test_entry.py::test_bench_cohorts
    # _cover_registry. -----
    "relational_core": [
        "embedding_hof_predicates",
        "lineitem_price_quantiles",
        "price_histogram",
        "small_order_revenue",
        "distinct_users_by_type",
        "approx_distinct_users",
        "revenue_rollup",
        "qty_cube",
        "revenue_grouping_sets",
        "customers_with_orders",
        "customers_without_orders",
        "nation_activity_full_outer",
        "brand_price_range_frame",
        "top_customers_by_balance",
        "segment_nations_union",
        "part_string_functions",
        "embedding_array_ops",
        "top_revenue_suppliers",
        "rich_idle_customers",
        "event_type_stats",
        "label_distribution",
        "distinct_labels",
        "event_pairs_range_join",
        "nations_with_both",
        "nations_customers_only",
        "event_props_map",
        "math_functions",
    ],
    "etl_legacy": [
        "salted_stratified_split",
        "partition_size_profile",
        "dedup_guard",
        "deterministic_client_split",
        "exact_stratified_split",
        "stratified_sample_by",
        "random_split_shards",
        "explode_part_tokens",
        "partitioned_parquet_prune",
        "key_dedup_count",
        "csv_roundtrip_revenue",
    ],
    "text_legacy": [
        "doc_quality_scores",
        "language_id_markers",
        "doc_fingerprints",
        "regex_token_counts",
        "ngram_stats",
    ],
    "multimodal_legacy": [
        "image_decode_stats",
        "wav_decode_stats",
        "jpeg_decode_stats",
        "image_resize_stats",
        "video_frame_sample",
        "audio_clip_stats",
    ],
    "dedup_legacy": [
        "minhash_band_groups",
        "ngram_jaccard_pairs",
        "dedup_components",
        "embedding_near_dup_pairs",
    ],
    "udf_legacy": [
        "fedavg_client_weights",
        "embeddings_l2_normalize",
        "running_user_totals_batch",
        "embedding_int8_quantize",
        "kfold_target_encoding",
    ],
    # ----- round 12 (continuation): the three published data-selection
    # algorithms (SemDeDup / DSIR / trained quality classifier) — their
    # own cohort so the selection tier's wall-clock trend is visible. -----
    "llm_selection": [
        "semdedup_prune_stats",
        "dsir_importance_select",
        "quality_classifier_gd",
        # round 12 (continuation): the mixture/stratification/two-stage
        # members of the published-selection family
        "doremi_domain_weights",
        "ccnet_perplexity_buckets",
        "d4_prototype_prune",
        # round 15: the selection capstone (SemDeDup -> DSIR -> DoReMi
        # fused as one plan)
        "curated_corpus_epoch",
    ],
}
OPTIONAL = [n for cohort in COHORTS.values() for n in cohort]

# The THREE disclosed single-partition windows (each dimension-/axis-sized,
# each docstring names its 100 TB alternative): a global ntile over the
# customer dimension, a ratio-to-report over a 25-row post-aggregate, and a
# running sum over the bounded day axis. Their WindowExec "No Partition
# Defined" warnings are benign but used to flood the bench tail, masking any
# REAL one — so the warning logger is quieted below and replaced by a
# plan-level audit in run_once: a single-partition window in any query NOT
# on this list (or a second one in a listed query) fails the bench loudly.
SINGLE_PARTITION_WINDOW_OK = {
    "ntile_customer_deciles": 1,
    "nation_revenue_share": 1,
    "cumulative_unique_users": 1,
    # 5-row cumulative-coverage window over the lateness-bin AGGREGATE
    # (axis-sized input, disclosed in the docstring) — never raw data
    "watermark_delay_audit": 1,
    # life-table windows over the per-DAY aggregate (~30 rows, duration
    # axis bounded by the observation span) — disclosed in the docstring
    "kaplan_meier_signup_to_purchase": 1,
    # prefix-max window over the distinct-PRICE-level aggregate (1000 rows
    # at sf0.01, bounded by the price axis) — disclosed in the docstring
    "pareto_frontier_parts": 1,
}

# Box calibration (VERDICT r7 task 4, reworked r9 per VERDICT r8 task 4 +
# ADVICE): rounds 6 and 7 both explained cross-round headline shifts with a
# prose "the box was slower this boot". That claim is MEASURED: the bench
# runs two fixed probes — a pure JVM whole-stage-codegen spin (no I/O, no
# Python, no shuffle: raw CPU/scheduler throughput) and a CODE-FROZEN scan+
# agg probe — and reports the headline BOTH raw and normalized by the
# blended slowdown factor vs the reference constants below.
#
# The solo probe is _frozen_probe below: a PINNED copy of the round-6
# pricing_summary plan written out in this file, NOT a call into current
# operator code (ADVICE r8: probing with a live headline query conflates
# code speed with box speed — a pricing_summary regression would partially
# mask itself in every calibrated number; and pre-timed probe passes gave
# that one query extra warm-up vs its peers). The frozen probe also fixes
# both: it is not a member of the timed set at all.
#
# Calibration now runs TWICE per bench — once before the timed passes and
# once after — so within-round box drift is itself measurable
# (BENCH_DETAIL.calibration_start / calibration_close); the factor of
# record is the SMALLER of the two (the quietest reading corrects least,
# so the calibrated headline errs high rather than hiding a regression).
#
# References: the solo reference is pricing_summary's min in the ROUND-6
# DRIVER bench (0.519 — the fastest boot on record, the anchor every
# cross-round comparison implicitly uses; the frozen probe IS that plan);
# the spin reference was measured 2026-08-14 during a quiet round-8 window
# (min of 5 after JIT warm-up; no earlier boot has a spin on record). A
# factor near 1.0 means the box matches the r6 boot, >1 means this boot is
# slower and the normalized number is the comparable one. The factor is
# clamped to [0.8, 1.6]: the probes justify at most that much correction —
# anything beyond is a real regression that must be bisected, not
# normalized away (the written rule lives in BENCH_NOTES). Ground truth
# for round 8's bisect is in BENCH_NOTES: on one fixed boot, the r6 code
# ran the 11-query headline in 6.589s and the r8 code in 6.256s — the code
# got FASTER while the recorded number rose; the delta was the box.
CALIBRATION_REF = {"jvm_spin_sec": 0.523, "probe_solo_sec": 0.519}
SPIN_ROWS = 4_000_000_000


def _frozen_probe(spark, sf_dir: str):
    """FROZEN snapshot of the round-6 pricing_summary plan (TPC-H Q1 shape:
    pushed-filter parquet scan → 8-way partial+final hash aggregate).
    Deliberately self-contained — direct parquet read, inline expressions,
    no imports from the engine package — so operator-code changes can NEVER
    move the calibration probe. Do not edit; edits reset the 0.519
    reference."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).filter(
        F.col("l_shipdate")
        <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz")
    )

    def isum(col, scale):
        return F.sum(F.round(col * scale).cast("long")).cast("double") / scale

    def iavg(col, scale):
        return F.round(isum(col, scale) / F.count(F.lit(1)), 6)

    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        isum(F.col("l_quantity"), 100).alias("sum_qty"),
        isum(F.col("l_extendedprice"), 100).alias("sum_base_price"),
        isum(disc_price, 10000).alias("sum_disc_price"),
        isum(charge, 1000000).alias("sum_charge"),
        iavg(F.col("l_quantity"), 100).alias("avg_qty"),
        iavg(F.col("l_extendedprice"), 100).alias("avg_price"),
        iavg(F.col("l_discount"), 100).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


def calibrate(spark, sf_dir: str) -> dict:
    spins = []
    for _ in range(5):
        t0 = time.time()
        spark.range(0, SPIN_ROWS, 1, 32).selectExpr("sum(id % 7)").collect()
        spins.append(time.time() - t0)
    solos = []
    for _ in range(5):
        t0 = time.time()
        _frozen_probe(spark, sf_dir).write.mode("overwrite").format(
            "noop"
        ).save()
        solos.append(time.time() - t0)
    spin, solo = min(spins), min(solos)
    f_spin = spin / CALIBRATION_REF["jvm_spin_sec"]
    f_solo = solo / CALIBRATION_REF["probe_solo_sec"]
    # the solo reference is an sf0.1 measurement; at any other scale factor
    # only the scale-independent JVM spin is meaningful
    at_ref_sf = os.path.basename(os.path.normpath(sf_dir)) == "sf0.1"
    blended = (f_spin * f_solo) ** 0.5 if at_ref_sf else f_spin
    return {
        "jvm_spin_sec": round(spin, 3),
        "probe_solo_sec": round(solo, 3),
        "factor_spin": round(f_spin, 3),
        "factor_solo": round(f_solo, 3),
        "factor": round(min(max(blended, 0.8), 1.6), 3),
        "reference": CALIBRATION_REF,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")
    # the audit below supersedes WindowExec's per-run warning: quiet it so
    # the log tail stays readable (a NEW unpartitioned window now fails the
    # bench instead of scrolling past)
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )
    qs = registry.queries()

    N_RUNS = 3

    from big_data_medical_analysis_spark import plans as P

    window_audit: dict[str, int] = {}

    def run_once(name: str) -> float:
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        dt = time.time() - t0
        if name not in window_audit:  # plan already built — audit is free
            window_audit[name] = P.unpartitioned_window_count(df)
        return dt

    names = HEADLINE + [n for n in OPTIONAL if n in qs]
    # warm-up: JVM/codegen init on a small plan, then the Python worker pool
    # (first pandas-UDF stage pays ~2-4s of worker fork + numpy import per
    # core; that's session setup, not query cost)
    qs["pricing_summary"](spark, sf_dir).write.mode("overwrite").format("noop").save()
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _warm(x):
        return x * 1.0

    n = spark.sparkContext.defaultParallelism
    spark.range(n * 4).repartition(n).select(
        _warm(F.col("id").cast("double"))
    ).write.mode("overwrite").format("noop").save()

    calibration_start = calibrate(spark, sf_dir)

    # N_RUNS passes over the whole set, round-robin, NOT back-to-back per
    # query: a transient load spike (GC pause, noisy neighbor on the bench
    # box) then taints one pass, not every sample of one query — round 2's
    # back-to-back min-of-2 recorded customer_order_stats at 4.7x its
    # round-1 wall because both consecutive samples landed in the same bad
    # window. The min over time-separated passes is the capability number;
    # the per-query spread (max - min) is reported so a plan regression
    # (tight spread, high min) is distinguishable from scheduler luck
    # (wide spread).
    samples: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(N_RUNS):
        for name in names:
            samples[name].append(run_once(name))

    times = {n: round(min(v), 3) for n, v in samples.items()}
    spread = {n: round(max(v) - min(v), 3) for n, v in samples.items()}

    # second calibration AFTER the timed passes: within-round drift is now
    # data, not narration; the factor of record is the smaller (quietest)
    # reading so the calibrated headline errs high, never masking a code
    # regression behind a "slow box" story
    calibration_close = calibrate(spark, sf_dir)
    calibration = (
        calibration_start
        if calibration_start["factor"] <= calibration_close["factor"]
        else calibration_close
    )

    # Machine-readable heat flag (VERDICT r14 task 4): the documented
    # hot-box signature is a calibration factor >= 0.95 (BENCH_NOTES
    # "heat discipline" — quiet boots clamp to the 0.8 floor, hot runs
    # read ~0.95-1.05). Keyed to the MAX of the start/close readings so
    # both heat arrival orders flag: residual heat from a preceding
    # workload shows at start, a co-tenant landing mid-bench shows at
    # close (code-review r15). Emitting the factors and the derived
    # boolean into BOTH bench artifacts makes a hot record
    # self-identifying instead of relying on prose cross-references (the
    # r14 committed bench read +8.7% on unchanged code and nothing in
    # the JSON said why).
    hot = (
        max(calibration_start["factor"], calibration_close["factor"]) >= 0.95
    )

    bad_windows = {
        n: c
        for n, c in window_audit.items()
        if c > SINGLE_PARTITION_WINDOW_OK.get(n, 0)
    }
    if bad_windows:
        raise SystemExit(
            "UNDISCLOSED single-partition window(s) — every one serializes "
            f"its input through one task at scale: {bad_windows}. Either "
            "partition the window or add a disclosed entry to "
            "SINGLE_PARTITION_WINDOW_OK with a 100 TB note in the docstring."
        )

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Full per-query detail goes to a SIDE FILE: round 3's driver line
    # carried 38 mins + 38 spreads + pass totals and outgrew the driver's
    # tail-capture window, so BENCH_r03.json recorded "parsed": null. The
    # stdout line must stay well under ~2 KB; it keeps the 11-query
    # relational headline dict (round-over-round comparability) and the
    # totals, nothing per-query beyond that.
    cohort_totals = {
        c: round(sum(times[n] for n in members if n in times), 3)
        for c, members in COHORTS.items()
    }
    # the core count and master the numbers were measured with, so a
    # reader never has to infer them from the calibration factor
    sc = spark.sparkContext
    cpus, master = sc.defaultParallelism, sc.master
    detail = {
        "metric": "headline_queries_total_wall",
        "runs": N_RUNS,
        "sf": sf_val,
        "cpus": cpus,
        "master": master,
        "queries": times,
        "spread": spread,
        # Per-pass wall arrays for HIGH-VARIANCE members (spread > min):
        # the r10 multimodal anomaly (driver cohort 15.2s vs 4.2s quiet)
        # was only attributable after a manual per-pass bisect — recording
        # the individual passes for the load-sensitive members makes the
        # next box-load event attributable from the artifact alone
        # (VERDICT r11 task 5). Gated on spread>min so the artifact stays
        # compact on quiet boxes.
        "passes": {
            n: [round(x, 3) for x in samples[n]]
            for n in names
            if spread[n] > times[n]
        },
        "cohorts": {c: [n for n in m if n in times] for c, m in COHORTS.items()},
        "cohort_totals": cohort_totals,
        "pass_totals": [
            round(sum(samples[n][p] for n in names), 3) for p in range(N_RUNS)
        ],
        "calibration": calibration,
        "calibration_start": calibration_start,
        "calibration_close": calibration_close,
        "hot": hot,
    }
    with open(os.path.join(os.path.dirname(__file__) or ".",
                           "BENCH_DETAIL.json"), "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": round(sum(times.values()), 3),
                "unit": "sec",
                "runs": N_RUNS,
                "queries": {n: times[n] for n in HEADLINE if n in times},
                "sf": sf_val,
                "cpus": cpus,
                "master": master,
                # the original 11-query relational headline vs the pillar
                # extensions added later
                "headline_total": round(
                    sum(times[n] for n in HEADLINE if n in times), 3
                ),
                # box-speed calibration (see CALIBRATION_REF): raw headline
                # divided by the measured slowdown factor vs the pinned
                # reference probes — the cross-round comparable number
                "calibration_factor": calibration["factor"],
                "calibration_start_factor": calibration_start["factor"],
                "calibration_close_factor": calibration_close["factor"],
                "hot": hot,
                "headline_calibrated": round(
                    sum(times[n] for n in HEADLINE if n in times)
                    / calibration["factor"],
                    3,
                ),
                "optional_total": round(
                    sum(t for n, t in times.items() if n not in HEADLINE), 3
                ),
                # per-cohort totals (stable names; membership in
                # BENCH_DETAIL.json) — comparable round-over-round even as
                # the extended set grows
                "cohort_totals": cohort_totals,
            }
        )
    )


if __name__ == "__main__":
    main()
