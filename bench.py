"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": sf}.

Each query executes end-to-end via the noop sink (full plan, no driver
collect). A warmup query first amortizes JVM/session startup so the
numbers measure the plans, not the JVM boot.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kafka_processor_cosmos_tx_dispatch_spark import queries as q
from kafka_processor_cosmos_tx_dispatch_spark.session import get_spark

# The headline set: the dispatch engine (the reference's workload) plus the
# heaviest representative of each operator family.
HEADLINE = [
    "dispatch_route",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q18_large_volume_customer",
    "q_join_left_outer_count",
    "q_window_running_sum",
    "q_window_topk_per_group",
    "q_set_ops",
    "q_scalar_math_case",
    "q_json_extract",
    "q_variant_extract",
    "q_asof_join_events",
    "dedup_minhash_lsh_pairs",
    "dedup_ngram_jaccard",
    "text_fingerprint",
    "sim_embedding_near_dup",
    # round-4 breadth (VERDICT r2 #6): the newest heavy operators, so
    # regressions in them are visible round-over-round
    "q_funnel_stages",
    "q_merge_upsert",
    "q_join_banded_range",
    "dedup_connected_components",
    "dedup_incremental",
    "graph_pagerank",
    # round-5 breadth: the dangling-mass PageRank variant exercises the
    # deep-iteration checkpoint shell (operators/iterative.py) per round
    "graph_pagerank_dangling",
    # round-6 breadth: semantic curation + the completed TPC-H battery's
    # heaviest new shapes
    "dedup_semantic",
    "sim_power_iteration",
    "text_quality_model",
    "q2_min_cost_supplier",
    "q9_product_profit",
    "q21_waiting_supplier",
    "graph_triangle_count",
    "sim_topk_pq",
    # late-round-6 breadth: full-scan checksum + capped pair-join graph
    # similarity — the two heaviest new shapes of the widening batch
    "q_table_checksum",
    "graph_jaccard_neighbors",
    # round-7 breadth: two-stage retrieval (PQ candidates + exact
    # rerank), corpus-model text scoring, and the nearest as-of
    "sim_topk_rerank",
    "text_bigram_lm_score",
    "q_asof_join_nearest",
    # round-8 breadth (VERDICT r7 #6): every remaining r7 addition plus
    # the composed-pipeline and quantization shapes, so all new heavy
    # operators carry a cross-round trend from their first full round
    "graph_k_core",
    "text_bpe_encode",
    "streaming_scd2_history",
    "pipeline_curate",
    "sim_scalar_quantize_int8",
    "dedup_drop_best",
    # round-8 new operators: iterative BFS, sketch-pruned heavy hitters,
    # containment dedup, late-interaction scoring — first-round trends
    "graph_bfs_hops",
    "q_heavy_hitters_mg",
    "dedup_ngram_containment",
    "sim_maxsim_multivector",
    "sim_topk_ivfpq",
    "q_table_diff_blocks",
    "streaming_incremental_dedup",
    "text_bpe_pair_counts",
    "q_skyline_pareto",
    "q_fuzzy_join_symdel",
    "q_temporal_scd2_lookup",
    "sim_knn_classify",
    "sample_mixture_schedule",
    "q_changepoint_cusum",
    "q_stats_linreg",
    "q_retention_cohort",
    "q_gaps_islands",
    "text_ngram_novelty",
    "pipeline_curate_mix",
    # round-10 additions: the last r8 operator without a cross-round
    # trend (sim_range_search, r8 verdict #5) and the new ExactSubstr
    # dedup + BPE trainer loop, benched from their first round
    "sim_range_search",
    "dedup_exact_substring",
    "text_bpe_train",
    "dedup_drop_substring",
    "dedup_passage_lsh",
    "streaming_mixture_schedule",
    # round-10 second wave: domain capping (batch + streaming twins),
    # margin-based mutual-kNN mining, and HITS — benched from their
    # first round so every operator carries a trend
    "sample_domain_cap",
    "streaming_domain_cap",
    "sim_mutual_knn",
    "graph_hits",
    "sim_diversify_mmr",
    "sample_perplexity_buckets",
    "pipeline_curate_cap",
    "sample_kcenter_coreset",
    "graph_ppr",
    "streaming_heavy_hitters",
    "multimodal_scene_cuts",
    "q_join_dpp",
    "q_benford_audit",
    "sample_softdedup_weights",
    "multimodal_audio_vad_spans",
    "pipeline_clip_extract",
    "sample_epoch_repeats",
    "sim_recall_at_k",
    "dedup_cluster_histogram",
    "q_stats_ab_ttest",
    "sample_split_by_cluster",
    "q_timeseries_ohlc",
    "q_rfm_segmentation",
    "q_normalize_zscore",
    "multimodal_video_keyframes",
    "streaming_ohlc",
    "multimodal_audio_snr_gate",
    "dedup_source_matrix",
    "text_decontaminate_exact",
    "dedup_pair_explain",
    "pipeline_curate_soft",
    "text_langid_eval",
    "sample_fill_budget",
    "graph_weighted_pagerank",
    "sim_kmeans_inertia",
    "q_fk_integrity_audit",
    "q_pk_uniqueness_audit",
    "dedup_lsh_precision",
    "sample_mixture_eval",
    "graph_assortativity",
    "pipeline_media_curate",
    "multimodal_phash_calibration",
    # --- r11 trend-tail additions (r10 verdict #5): the remaining
    # multi-stage / heavy plans without a cross-round row, plus the
    # whole k-means family (its Lloyd loop went lazy this round — the
    # rewrite needs a trend line), plus the new tier-3 dispatch path.
    "dispatch_route_tier3",
    "sim_kmeans_clusters",
    "sample_cluster_balanced",
    "sim_topk_bruteforce",
    "sim_topk_lsh_bucketed",
    "sim_topk_ivf",
    "sim_topk_ivf_multiprobe",
    "dedup_drop_near",
    "dedup_hybrid_verify",
    "dedup_verify_editdist",
    "dedup_exact_spans",
    "dedup_simhash_pairs",
    "q_cogroup_reconcile",
    "q_bucketed_join_agg",
    "q_skew_salted_join",
    "q_join_bloom_prefilter",
    "q_scd2_history",
    "q_gap_fill_locf",
    "q_sessionize_batch",
    "q_histogram_equiheight",
    "q_stats_outlier_mad",
    "q_latest_by_key_tombstone",
    "graph_label_propagation",
    "graph_resource_allocation",
    "text_tfidf_topterms",
    "text_token_rarity",
    "text_pack_sequences",
    "multimodal_frame_sample",
    "multimodal_dedup_payload",
    "multimodal_near_dup_phash",
    "streaming_incremental_merge",
    "streaming_drift_monitor",
    "streaming_changepoint_monitor",
    # r11 new operators (registered after the first r11 bench block)
    "text_lexical_stats",
    "q_arrival_gaps",
    "multimodal_frame_dedup",
    "multimodal_av_align",
    "graph_closeness_bfs",
    "pipeline_eval_holdout",
    "streaming_arrival_monitor",
    "sim_pca_top2",
    "graph_degree_histogram",
    "streaming_pipeline_curate",
    "sample_weighted_reservoir",
    "sim_topk_hamming",
    "graph_connected_components",
    "text_cdc_chunks",
    "text_rake_keywords",
    "streaming_weighted_reservoir",
    "streaming_connected_components",
    "sim_hamming_recall",
    "dedup_cdc_pairs",
    "graph_random_walks",
    "text_skipgram_pairs",
    "text_neg_sampling_table",
    "sim_topk_hamming_rerank",
    # --- r12 full-registry coverage (r11 verdict #2): every remaining
    # registered query gains a cross-round trend row — the older scalar
    # / window / source-roundtrip / TPC-H families and the availableNow
    # streaming twins (run-to-completion like the streaming_* rows
    # already above; their wall time is trigger-bound, so treat their
    # deltas as coarser than CPU-bound queries'). Registry order.
    "q_rollup_lineitem",
    "q_string_agg",
    "q_window_time_range",
    "q_subquery_exists",
    "q_explode_posexplode",
    "dedup_exact_groups",
    "sample_balanced_pairs",
    "text_lang_id",
    "multimodal_audio_energy",
    "q_source_csv_roundtrip",
    "dispatch_dlq_envelope",
    "q_cube_orders",
    "q_scalar_map",
    "q_join_semi",
    "q_window_first_last",
    "q_subquery_scalar",
    "q_unpivot_measures",
    "dedup_drop_exact",
    "streaming_dispatch_route",
    "q_source_jsonl_roundtrip",
    "q_grouping_sets",
    "q_join_anti",
    "q_subquery_in",
    "text_quality_score",
    "streaming_tumbling_counts",
    "q_source_orc_roundtrip",
    "q4_order_priority",
    "q_percentiles",
    "q_join_full_outer",
    "q_recursive_cte",
    "text_token_counts",
    "streaming_sliding_counts",
    "q_source_partition_prune",
    "q_distinct_counts",
    "q_join_range_nonequi",
    "q_window_ntile_dist",
    "q_subquery_lateral",
    "streaming_session_window",
    "q_source_schema_evolution",
    "q7_volume_shipping",
    "q_pivot_status",
    "q_stats_moments",
    "text_udtf_bigrams",
    "streaming_windowed_topk",
    "q10_returned_items",
    "q_udaf_grouped_cents",
    "q_order_limit",
    "q_asof_join_forward",
    "q_window_lag_lead",
    "text_vocab_coverage",
    "streaming_dedup_watermark",
    "multimodal_features",
    "q12_priority_lines",
    "q_agg_filter_where",
    "q_window_range_frame",
    "sample_stratified",
    "text_contamination",
    "streaming_user_profiles",
    "q14_promo_revenue",
    "q_set_ops_all",
    "q_join_right_outer",
    "q_window_interval_overlap",
    "sample_hash_split",
    "q17_small_quantity_revenue",
    "q_scalar_try",
    "q_join_cross",
    "sample_temperature_weights",
    "streaming_static_join",
    "q_scalar_string",
    "sample_hard_negatives",
    "text_duplicate_ngrams",
    "streaming_stream_stream_join",
    "q19_disjunctive_revenue",
    "q_scalar_datetime",
    "q_window_running_distinct",
    "text_chunk_overlap",
    "q22_idle_balances",
    "q_join_null_safe",
    "q_window_percent_rank",
    "text_repetition_ratio",
    "q_scalar_json_array",
    "dedup_simhash",
    "text_redact",
    "q8_market_share",
    "q_merge_upsert_delete",
    "q_stats_gini_diversity",
    "q11_important_value",
    "q_scalar_bitwise",
    "dedup_url_canonical",
    "q13_customer_distribution",
    "q_json_corrupt_capture",
    "q15_top_supplier",
    "q_histogram",
    "q16_supplier_cnt",
    "q_data_profile",
    "text_bm25_rank",
    "q20_potential_promotion",
    "q_scalar_url",
    "q_scalar_array",
    "q_scalar_hof",
    "q_approx_distinct",
    "q_approx_quantiles",
    "q_nested_lines",
    "q_latest_by_key",
    "q_sketch_countmin",
    "q_sketch_merge_hll",
    "q_time_bucket_rollup",
    "q_drift_chi2",
    # --- r12 session-2 additions
    "dedup_paragraph_exact",
    "sample_dsir_weights",
    "streaming_dsir_weights",
    "pipeline_dsir_select",
    "sample_dsir_ess",
    "sim_matryoshka_recall",
    "streaming_paragraph_dedup",
    "dedup_funnel_report",
    "graph_betweenness_sampled",
    "text_gopher_quality",
    "text_quality_train",
    "text_quality_train_eval",
    "text_quality_train_holdout",
    "text_gopher_repetition",
    "graph_modularity",
    "sim_pq_train",
    "sim_pq_train_gain",
    "sim_topk_ivf_trained",
    "streaming_quality_train",
    "text_tokenizer_fertility",
    "dedup_winnowing_pairs",
    "dedup_drop_winnow",
    "sim_pq_train_sampled",
]


def run_query(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _probe_dfs(spark, sf_dir: str):
    """The two machine-state probe plans: a parquet scan+agg (IO+decode
    bound) and a pure-compute spark.range reduction (CPU bound).

    These two plans are FROZEN: cross-round normalization compares this
    round's probe readings against the previous round's, so changing
    either plan would silently corrupt every normalized delta. The
    bigger r11 noise-floor probe is separate (_probe_big_cpu)."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    scan = li.agg(
        F.count(F.lit(1)), F.sum("l_extendedprice"), F.min("l_shipdate")
    )
    cpu = spark.range(50_000_000).agg(
        F.sum(F.col("id") * 3 % 7), F.count(F.lit(1))
    )
    return scan, cpu


def _probe_big_cpu(spark):
    """The r11 noise-floor probe: a ~0.3 s pure-compute reduction. The
    r10 protocol's 0.08 s probes made calibration_spread_pct read 63.9 —
    but the PROBES.md r11 experiments show that at sub-0.1 s the spread
    measures straggler-task luck (max over a single wave of tasks), not
    box state: a 0.3 s CPU probe run back-to-back over 14 groups spreads
    only 18-23% raw / ~10% trimmed on this box (pinned-core pilot:
    18.0/10.3 — pinning doesn't change the story), while the 0.1-0.2 s
    IO scan probe spreads 50-75% no matter how it is sized or pinned.
    This probe therefore carries the headline attributability floor;
    the IO scan probe's spread is reported separately as the
    (box-inherent) IO noise signal."""
    from pyspark.sql import functions as F

    return spark.range(1_500_000_000).agg(
        F.sum(F.col("id") * 3 % 7), F.count(F.lit(1))
    )


def probe_box_state(spark, sf_dir: str, iters: int = 3) -> dict:
    """One machine-state sample: min-of-iters for each probe plan.
    Returns {"scan": sec, "cpu": sec}.

    Why probes exist: the same code on a slower disk / busier box
    inflates every query uniformly (r5→r6 showed a ~+25% across-the-board
    swing on identical untouched queries). Why they are now INTERLEAVED
    (one sample before each query group, r8 verdict #1): a single 0.08 s
    probe cannot attribute a 60+ s suite on a shared box — load that
    arrives mid-suite hits the later groups but not the probe. Per-group
    samples let each query be normalized by the box state measured
    seconds before it ran, and the spread across groups is itself the
    noise signal (reported as calibration_spread)."""
    scan, cpu = _probe_dfs(spark, sf_dir)
    big = _probe_big_cpu(spark)
    out = {}
    for name, df, n in (
        ("scan", scan, iters),
        ("cpu", cpu, iters),
        # ~0.3 s each: min-of-2 keeps the per-group overhead ~0.6 s
        ("cpu_big", big, min(iters, 2)),
    ):
        dt = float("inf")
        for _ in range(n):
            t0 = time.perf_counter()
            run_query(df)
            dt = min(dt, time.perf_counter() - t0)
        out[name] = round(dt, 4)
    return out


def dispatch_throughput(spark, n: int = 2_000_000) -> dict:
    """Synthetic dispatch throughput — the reference's native workload
    shape (record → N JsonPath rules → multicast route) on generated
    rows, so the number measures the engine, not parquet decode of a
    single-split local file. spark.range parallelizes across all cores
    and the dispatch plan is one narrow stage."""
    from pyspark.sql import functions as F

    from kafka_processor_cosmos_tx_dispatch_spark.operators import dispatch as dsp
    from kafka_processor_cosmos_tx_dispatch_spark.queries import EVENT_RULES

    types = F.array(*[F.lit(t) for t in ("click", "view", "purchase", "error", "signup")])
    df = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.struct(
            F.element_at(types, ((F.col("id") % 5) + 1).cast("int")).alias("event_type"),
            (F.col("id") % 200).cast("double").alias("value"),
            F.struct((F.col("id") % 100).cast("int").alias("k")).alias("props"),
        ).alias("rec"),
    )
    routed = dsp.dispatch(df, EVENT_RULES, struct_col="rec")
    run_query(routed.limit(1000))  # warm the plan
    dt = float("inf")  # min-of-2, same noise discipline as the queries
    for _ in range(2):
        t0 = time.perf_counter()
        run_query(routed)
        dt = min(dt, time.perf_counter() - t0)
    return {
        "dispatch_synthetic_rows": n,
        "dispatch_rows_per_sec": int(n / dt),
    }


def _steady_state(progress) -> tuple[int, int, int, int]:
    """(total_batches, steady_batches, rows, rate rows/s) where the steady
    subset excludes batch 0 (source init, plan compilation, codegen) and
    zero-row trailing triggers — so steady_batches/rows/rate reconcile
    with each other, and total_batches records how many triggers ran."""
    steady = [p for p in progress[1:] if p["numInputRows"]]
    rows = sum(p["numInputRows"] for p in steady)
    ms = sum(
        p["durationMs"]["triggerExecution"]
        for p in steady
        if p.get("durationMs", {}).get("triggerExecution")
    )
    return len(progress), len(steady), rows, (int(rows * 1000 / ms) if ms else 0)


def streaming_throughput(spark, n_batches: int = 12, rows_per_batch: int = 2_000_000) -> dict:
    """Steady-state streaming router throughput: the SAME synthetic
    dispatch shape as dispatch_throughput (JVM-native struct rules, no
    Python), driven through the micro-batch engine by the rate-micro-batch
    source for ≥ n_batches triggers. Comparing
    streaming_dispatch_rows_per_sec against dispatch_rows_per_sec
    isolates what the streaming engine itself costs per row; rates
    exclude batch 0 (plan compile + codegen)."""
    from pyspark.sql import functions as F

    from kafka_processor_cosmos_tx_dispatch_spark.operators import dispatch as dsp
    from kafka_processor_cosmos_tx_dispatch_spark.queries import EVENT_RULES

    types = F.array(*[F.lit(t) for t in ("click", "view", "purchase", "error", "signup")])
    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("numPartitions", int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
        .load()
        .select(
            F.col("value").alias("event_id"),
            F.struct(
                F.element_at(types, ((F.col("value") % 5) + 1).cast("int")).alias(
                    "event_type"
                ),
                (F.col("value") % 200).cast("double").alias("value"),
                F.struct((F.col("value") % 100).cast("int").alias("k")).alias("props"),
            ).alias("rec"),
        )
    )
    routed = dsp.dispatch(stream, EVENT_RULES, struct_col="rec")
    query = routed.writeStream.format("noop").start()
    deadline = time.time() + 300
    while len(query.recentProgress) < n_batches and time.time() < deadline:
        time.sleep(0.2)
    query.stop()
    query.awaitTermination(60)
    total, steady, rows, rate = _steady_state(query.recentProgress)
    return {
        "streaming_dispatch_batches_total": total,
        "streaming_dispatch_batches": steady,
        "streaming_dispatch_steady_rows": rows,
        "streaming_dispatch_rows_per_sec": rate,
    }


def streaming_decode_throughput(
    spark, n: int = 10_800_000, rows_per_batch: int = 1_800_000
) -> dict:
    """Steady-state throughput of the FULL reference pipeline — txgen
    bounded stream (protobuf TxRaw wire bytes) → dsp.route (Python
    decode + every rule, multicast, value) → sink — i.e. what the engine
    sustains end-to-end when the decode stage cannot run JVM-side
    (no spark-protobuf in this container). n/rows_per_batch give
    ceil(n/rows_per_batch) micro-batches; rates exclude batch 0.

    Batch sizing: 1.8M rows/micro-batch (r8). The trigger fixed cost
    (offset log, per-batch re-planning, 32-task scheduling, Python
    worker round-trips) measures ~0.9 s/batch on this box regardless of
    batch size — at 50k rows/batch it dominated (50.9k rows/s), at 200k
    it was still ~45% of each batch (163k rows/s), at 600k ~25% (335k,
    r7), and at 1.8M it amortizes to ~23% of a ~3.9 s batch: 467.8k
    rows/s steady, 76% of the 612k batch-mode fused-decode ceiling
    (PROBES.md) with identical per-row code. A real ingest pipeline at
    this volume runs fat micro-batches (maxOffsetsPerTrigger sized to
    seconds of compute, not milliseconds); both knobs stay explicit
    here so either regime can be measured."""
    from kafka_processor_cosmos_tx_dispatch_spark.operators import dispatch as dsp
    from kafka_processor_cosmos_tx_dispatch_spark.rules import DispatchRule
    from kafka_processor_cosmos_tx_dispatch_spark.sources import txgen

    txgen.register(spark)
    rules = [
        DispatchRule(
            "by-type",
            "topic-1",
            f"$.body.messages[?(@.@type == '{txgen.MSG_SEND_URL}')]",
        ),
        DispatchRule(
            "by-from",
            "topic-2",
            f"$..messages[?(@.fromAddress == '{txgen.OKP4_ADDR}')]",
        ),
    ]
    stream = (
        spark.readStream.format("cosmos_tx_gen")
        .option("n", n)
        .option("partitions", int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
        .option("rows_per_batch", rows_per_batch)
        .load()
    )
    # Warm-up pass: one small bounded batch run of the SAME route() so
    # the Python worker pool (datasource + decode UDF workers, 32 each)
    # exists before measurement. Cold pools measured
    # 30-66k rows/s vs ~158k warm for identical code — the steady-state
    # number this function claims to report is the warm one; batch-0
    # exclusion alone doesn't cover pool spin-up bleeding into batches
    # 1-3.
    warm = (
        spark.read.format("cosmos_tx_gen")
        .option("n", 256_000)
        .option("partitions", int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
        .load()
    )
    for _ in range(2):
        dsp.route(warm, rules, error_topic="errors").write.format("noop").mode(
            "overwrite"
        ).save()

    routed = dsp.route(stream, rules, error_topic="errors")
    query = routed.writeStream.format("noop").start()
    query.processAllAvailable()
    query.stop()
    query.awaitTermination(60)
    total, steady, rows, rate = _steady_state(query.recentProgress)
    return {
        "streaming_decode_batches_total": total,
        "streaming_decode_batches": steady,
        "streaming_decode_steady_rows": rows,
        "streaming_decode_rows_per_sec": rate,
    }


def main() -> None:
    t_main = time.time()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = None

    spark = get_spark(app_name="bench")
    registry = q.queries()
    names = [n for n in HEADLINE if n in registry] + [
        n for n in os.environ.get("BENCH_EXTRA", "").split(",") if n in registry
    ]

    # warmup: JVM + parquet footer caches; the discarded probe sample
    # warms the PROBE plans too (their first compile measured ~2× the
    # steady readings, which inflated group-1 normalization and the
    # spread metric with codegen cost, not box state)
    run_query(registry["q1_pricing_summary"](spark, sf_dir))
    probe_box_state(spark, sf_dir, iters=1)

    # min-of-5 by default (r8 verdict #1: the builder's run and the
    # driver's same-code rerun disagreed by ~28 normalized points under
    # min-of-3 — at sub-second per-query times, page-cache/JIT/load noise
    # needs more samples for either the min floor or the median to be
    # stable enough that cross-round deltas mean anything).
    iters = max(1, int(os.environ.get("BENCH_ITERS", "5")))
    group_size = max(1, int(os.environ.get("BENCH_CAL_GROUP", "8")))
    timings: dict[str, float] = {}
    stats: dict[str, dict] = {}
    group_cal: list[dict] = []
    for gi in range(0, len(names), group_size):
        # interleaved box-state sample: normalizes the queries measured
        # in the seconds AFTER it, not minutes away (r8 verdict #1)
        cal = probe_box_state(spark, sf_dir)
        group_cal.append(cal)
        for name in names[gi : gi + group_size]:
            samples = []
            for _ in range(iters):
                t0 = time.perf_counter()
                run_query(registry[name](spark, sf_dir))
                samples.append(time.perf_counter() - t0)
            samples.sort()
            median = samples[len(samples) // 2]
            # min-of-N drops JIT/scheduling noise; median carries the
            # variance signal — BOTH bases are compared across rounds
            # and sign-disagreements are flagged as noise
            timings[name] = round(samples[0], 3)
            stats[name] = {
                "min": round(samples[0], 3),
                "median": round(median, 3),
                "iters": iters,
                "cal_scan": cal["scan"],
                "cal_cpu": cal["cpu"],
            }

    total = round(sum(timings.values()), 3)
    # spread over groups 2..N: group 1's probes read ~2× high in every
    # observed run (JVM C2 tiering still in progress — unchanged by
    # plan-level warmup), which is startup, not box state. Per-query
    # normalization keeps group 1's own probe: cross-ROUND group-1
    # ratios carry the same inflation on both sides and cancel.
    steady_cal = group_cal[1:] or group_cal
    scans = sorted(c["scan"] for c in steady_cal)
    cpus = sorted(c["cpu"] for c in steady_cal)
    bigs = sorted(c["cpu_big"] for c in steady_cal if c.get("cpu_big"))

    def _spread(xs: list[float], trim: bool) -> float | None:
        if trim and len(xs) >= 4:
            xs = xs[1:-1]  # drop the best and worst group
        if len(xs) < 2 or not xs[0]:
            return None
        return round(100.0 * (xs[-1] / xs[0] - 1.0), 1)

    detail = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_stats": stats,
        "sf": sf_num,
        # medians across the interleaved samples are the round's headline
        # box-state numbers (backward-compatible keys); the spread is the
        # within-run noise floor — if spread_pct is 20, no cross-round
        # per-query delta under ~20% is attributable to code
        "calibration_scan_sec": scans[len(scans) // 2],
        "calibration_cpu_sec": cpus[len(cpus) // 2],
        "calibration_groups": group_cal,
        # HEADLINE noise floor (r10 verdict #4): trimmed spread of the
        # ≥0.3 s CPU probe — the within-run variance a cross-round
        # per-query delta must exceed to be attributable to code. The
        # r10 metric (raw max/min over the 0.08 s scan+cpu probes) is
        # kept as *_raw for continuity; the IO scan probe's spread is
        # reported separately — PROBES.md r11 shows it measures
        # box-inherent IO/straggler contention (50-75% on this box,
        # pinning and probe sizing don't reduce it), so it flags IO
        # turbulence rather than gating CPU-bound deltas.
        "calibration_spread_pct": (
            _spread(bigs, trim=True)
            if bigs
            else _spread([min(a, b) for a, b in zip(scans, cpus)], trim=True)
        ),
        "calibration_spread_raw_pct": round(
            100.0 * max(scans[-1] / scans[0], cpus[-1] / cpus[0]) - 100.0, 1
        ),
        "calibration_io_spread_pct": _spread(scans, trim=True),
        "calibration_cpu_big_sec": (
            bigs[len(bigs) // 2] if bigs else None
        ),
        **dispatch_throughput(spark),
        **streaming_throughput(spark),
        **streaming_decode_throughput(spark),
    }
    _add_prev_round_deltas(detail, timings, stats)
    detail_path = _write_detail(detail, sf_num)  # hedge: classic deltas

    # HEDGE PRINT (r13 verdict #1): the driver's run is wall-clock
    # bounded and the AB phase below can be long — if it times out, the
    # stdout tail must still carry a parseable headline. Print the
    # classic-basis compact line NOW, exactly as the detail file is
    # hedged; on success the final (possibly ab-promoted) line printed
    # after the AB phase supersedes it as the last JSON line.
    print(_compact_line(detail, len(timings), detail_path))

    ab_flag = os.environ.get("BENCH_AB", "1")
    if ab_flag == "force" or (ab_flag != "0" and sf_num == 0.1):
        # size the AB phase to the time LEFT in the driver window
        # (r13: sweep + an unbounded AB overran the driver's timeout —
        # rc=124, no parsed headline)
        total_budget = float(
            os.environ.get("BENCH_TOTAL_BUDGET_S", "3300")
        )
        remaining = total_budget - (time.time() - t_main)
        if ab_flag != "force" and remaining < 600.0:
            detail["ab_error"] = (
                f"skipped: {remaining:.0f}s left of the "
                f"{total_budget:.0f}s total budget after the sweep — "
                "too little for a gate-passing pair"
            )
        else:
            spark.stop()  # free the JVM/cores for alternated processes
            _ab_alternated(names, sf_dir, detail, remaining)
    detail_path = _write_detail(detail, sf_num)
    print(_compact_line(detail, len(timings), detail_path))
    spark.stop()


def _compact_line(detail: dict, n_queries: int, detail_path: str) -> str:
    """The driver captures only a ~2000-char stdout TAIL: r6's enriched
    one-line JSON overflowed it and the round's bench went unparsed
    (r6 verdict #2). The stdout summary is therefore COMPACT — per-query
    detail lives in the detail file."""
    compact_keys = (
        "metric value unit sf n_queries delta_basis delta_vs_prev_pct "
        "ab_delta_vs_prev_pct ab_spread_pct ab_pair_deltas_pct ab_pairs "
        "ab_order ab_iters ab_shared_queries ab_ref ab_time_s ab_error "
        "delta_vs_prev_pct_normalized delta_vs_prev_pct_min "
        "delta_vs_prev_pct_median delta_vs_prev_pct_min_normalized "
        "delta_vs_prev_pct_median_normalized noise_queries "
        "calibration_ratio_vs_prev calibration_spread_pct "
        "calibration_spread_raw_pct calibration_io_spread_pct "
        "delta_shared_queries prev_round calibration_scan_sec "
        "calibration_cpu_sec dispatch_rows_per_sec "
        "streaming_dispatch_rows_per_sec streaming_decode_rows_per_sec "
        "streaming_decode_steady_rows"
    ).split()
    compact = {k: detail[k] for k in compact_keys if k in detail}
    compact["n_queries"] = n_queries
    compact["detail_file"] = os.path.basename(detail_path)
    line = json.dumps(compact)
    assert len(line) < 1800, f"compact bench line {len(line)} chars"
    return line


def _add_prev_round_deltas(
    detail: dict, timings: dict, stats: dict
) -> None:
    """Cross-round deltas on BOTH bases (min and median), normalized
    per-query by the interleaved box-state probes, with sign-disagreement
    noise flags (r8 verdict #1: the official record and a same-code rerun
    disagreed by ~28 normalized points under the old single-basis /
    single-probe protocol — when the two bases disagree on a query's
    direction, the delta is box noise and must say so).

    Totals compare the SHARED query set only, so widening the headline
    list never reads as a regression."""
    prev = _load_previous_round()
    if prev is None:
        return
    prev_data, prev_round = prev
    if prev_data.get("sf") != detail.get("sf"):
        # a local smoke at another scale factor must not read the sf0.1
        # round record as its comparator — the deltas would be
        # sf-mixture, not code
        return
    prev_queries = dict(prev_data.get("queries") or {})
    prev_stats = dict(prev_data.get("queries_stats") or {})
    detail["prev_round"] = prev_round

    # global box-state ratio (geomean of scan & cpu probe ratios): a
    # uniform +20% with a +20% calibration ratio is load, not code
    ratios = []
    for k in ("calibration_scan_sec", "calibration_cpu_sec"):
        pv, cv = prev_data.get(k), detail.get(k)
        if pv and cv:
            ratios.append(cv / pv)
    cal_ratio = (
        round((ratios[0] * ratios[-1]) ** 0.5, 4) if ratios else None
    )
    if cal_ratio:
        detail["calibration_ratio_vs_prev"] = cal_ratio

    def _trimmed_mean_cal(data: dict, key: str) -> float | None:
        # run-level TRIMMED MEAN over the interleaved group probes
        # (drop best + worst group): r11 protocol — PROBES.md shows a
        # single group's probe sample is straggler-dominated (heavy
        # upper tail), so normalizing each query by its OWN group's
        # sample (the r10 protocol) injected probe noise into every
        # normalized delta; the trimmed run-level statistic is stable.
        groups = data.get("calibration_groups") or []
        xs = sorted(g.get(key) for g in groups[1:] if g.get(key))
        if len(xs) >= 4:
            xs = xs[1:-1]
        return sum(xs) / len(xs) if xs else None

    tm_ratios = []
    for k in ("scan", "cpu"):
        pv = _trimmed_mean_cal(prev_data, k)
        cv = _trimmed_mean_cal(detail, k)
        if pv and cv:
            tm_ratios.append(cv / pv)
    tm_ratio = (
        round((tm_ratios[0] * tm_ratios[-1]) ** 0.5, 4)
        if tm_ratios
        else cal_ratio
    )

    def per_query_ratio(name: str) -> float | None:
        # r11: trimmed-mean run-level ratio for every query (see
        # _trimmed_mean_cal); the per-group samples stay recorded in
        # queries_stats/calibration_groups for forensics
        return tm_ratio

    bases: dict[str, dict] = {}
    for basis in ("min", "median"):
        cur_cmp = {n: s[basis] for n, s in stats.items()}
        if prev_stats:
            prev_cmp = {
                n: s.get(basis) for n, s in prev_stats.items()
            }
        elif basis == "min":  # r5-and-earlier records carry min only
            prev_cmp = dict(prev_queries)
        else:
            continue
        shared = [n for n in cur_cmp if prev_cmp.get(n)]
        prev_shared = sum(prev_cmp[n] for n in shared)
        if not prev_shared:
            continue
        cur_shared = sum(cur_cmp[n] for n in shared)
        entry = {
            "delta_vs_prev_pct": round(
                100.0 * (cur_shared - prev_shared) / prev_shared, 1
            ),
            "per_query_pct": {
                n: round(
                    100.0 * (cur_cmp[n] - prev_cmp[n]) / prev_cmp[n], 1
                )
                for n in shared
            },
        }
        if cal_ratio:
            norm_shared = sum(
                cur_cmp[n] / (per_query_ratio(n) or 1.0) for n in shared
            )
            entry["delta_vs_prev_pct_normalized"] = round(
                100.0 * (norm_shared - prev_shared) / prev_shared, 1
            )
            entry["per_query_pct_normalized"] = {
                n: round(
                    100.0
                    * (cur_cmp[n] / (per_query_ratio(n) or 1.0)
                       - prev_cmp[n])
                    / prev_cmp[n],
                    1,
                )
                for n in shared
            }
        bases[basis] = entry
        detail["delta_shared_queries"] = len(shared)

    if not bases:
        return
    detail["deltas"] = bases
    # headline keys keep the historical names (median basis when
    # available) so older tooling and round records stay comparable
    head_basis = "median" if "median" in bases else "min"
    head = bases[head_basis]
    detail["delta_basis"] = head_basis
    detail["delta_vs_prev_pct"] = head["delta_vs_prev_pct"]
    detail["delta_queries_pct"] = head["per_query_pct"]
    if "delta_vs_prev_pct_normalized" in head:
        detail["delta_vs_prev_pct_normalized"] = head[
            "delta_vs_prev_pct_normalized"
        ]
        detail["delta_queries_pct_normalized"] = head[
            "per_query_pct_normalized"
        ]
    if "min" in bases and "median" in bases:
        detail["delta_vs_prev_pct_min"] = bases["min"]["delta_vs_prev_pct"]
        detail["delta_vs_prev_pct_median"] = bases["median"][
            "delta_vs_prev_pct"
        ]
        if cal_ratio:
            detail["delta_vs_prev_pct_min_normalized"] = bases["min"][
                "delta_vs_prev_pct_normalized"
            ]
            detail["delta_vs_prev_pct_median_normalized"] = bases[
                "median"
            ]["delta_vs_prev_pct_normalized"]
        # a per-query delta whose min-basis and median-basis directions
        # DISAGREE is box noise, not attributable to code; <3% on both
        # bases is flat either way and not worth flagging
        noise = sorted(
            n
            for n, dmed in bases["median"]["per_query_pct"].items()
            if n in bases["min"]["per_query_pct"]
            and (dmin := bases["min"]["per_query_pct"][n]) * dmed < 0
            and max(abs(dmin), abs(dmed)) >= 3.0
        )
        detail["delta_queries_noise"] = noise
        detail["noise_queries"] = len(noise)


def _ab_alternated(
    names: list[str], sf_dir: str, detail: dict, remaining_s: float = 2700.0
) -> None:
    """The HEADLINE cross-round delta, measured by counterbalanced
    A/B alternation (r12 verdict #1 — productizing the proven
    tools/ab_bench.py protocol): check out the prior round's tree in a
    detached git worktree and run the shared registry through fresh
    processes in A B B A order (A = prev tree, B = HEAD), one sample
    per query per run. Each (A_k, B_k) pair runs minutes apart on the
    same box, so box weather hits both sides of a pair almost equally;
    the ABBA counterbalance cancels LINEAR drift exactly in the pair
    mean (pair 1 biases +r, pair 2 −r under drift rate r per slot),
    which probe normalization never could (PROBES.md r12: same-code
    trees minutes apart read ±12% per query; the r12 record's trimmed
    cal spread was 64%; alternated same-code bisects read <5%).

    Sets detail["ab_*"] and, ONLY when the run passes the quality gate
    (_ab_quality_gate — r13 verdict #2: a degraded iters=1 / 1-pair /
    probe-doubling run shipped a false +54.5% headline), promotes the
    alternated shared-set delta to the headline delta_vs_prev_pct
    (delta_basis = "ab_alternated"); the classic min/median/normalized
    deltas stay recorded under their existing keys. A gate failure or
    any error is recorded as ab_error (the ab_* numbers stay recorded
    as ADVISORY) and the classic headline stands.

    Knobs: BENCH_AB=0 disables; BENCH_AB_REF overrides the prior-round
    ref (default: the commit that last touched the newest driver
    BENCH_r*.json — the round-final tree); BENCH_AB_PASSES (4),
    BENCH_AB_ITERS (3 — min-of-1 is COMPILE-dominated and swings
    ±20% per pair in either direction and is gate-DISQUALIFIED;
    min-of-5 is the r12-proven bisect setting for ad-hoc runs, but at
    the driver's window min-of-3 × more pairs beats min-of-5 × one),
    BENCH_AB_ORDER (abba|abab), BENCH_AB_BUDGET_S (2700) — capped by
    the remaining_s the caller computed from BENCH_TOTAL_BUDGET_S;
    after the first run, remaining passes are dropped in pairs if the
    projection exceeds the budget; BENCH_AB_MAX_QUERIES (120) — above
    this, the shared registry is stride-subsampled in registry order
    (families interleave, so the stride is stratified across them).
    Measured r13: a full-registry side costs ~700 s, so 2700 s buys
    ONE pair (spread unmeasurable); a 40-query subset at min-of-3
    fits 4 counterbalanced pairs, and a multi-pair spread is exactly
    what makes the headline attributable — more pairs over fewer
    queries beats one pair over all of them."""
    import subprocess
    import tempfile

    here = os.path.dirname(os.path.abspath(__file__))
    t_start = time.time()
    rounds = _round_files()
    if not rounds:
        detail["ab_error"] = "no prior round bench record"
        return
    prev_n = rounds[-1][0]
    ref = os.environ.get("BENCH_AB_REF")
    if not ref:
        try:
            ref = subprocess.run(
                ["git", "rev-list", "-1", "HEAD", "--",
                 f"BENCH_r{prev_n:02d}.json"],
                cwd=here, capture_output=True, text=True, timeout=30,
            ).stdout.strip()
        except Exception as exc:  # noqa: BLE001 — record, don't crash bench
            detail["ab_error"] = f"git rev-list failed: {exc}"
            return
    if not ref:
        detail["ab_error"] = f"no commit found for BENCH_r{prev_n:02d}.json"
        return

    passes = max(2, int(os.environ.get("BENCH_AB_PASSES", "4")))
    iters = max(1, int(os.environ.get("BENCH_AB_ITERS", "3")))
    order_kind = os.environ.get("BENCH_AB_ORDER", "abba")
    budget = min(
        float(os.environ.get("BENCH_AB_BUDGET_S", "2700")), remaining_s
    )
    if order_kind == "abab":
        order = ["A" if i % 2 == 0 else "B" for i in range(passes)]
    else:  # abba blocks: A B B A | A B B A ...
        order = [("A", "B", "B", "A")[i % 4] for i in range(passes)]

    # r14 sizing datapoint: a 37-query side at min-of-3 cost ~430 s
    # (ab_time_s 862 for one pair) against the ~1300 s left after a
    # full-registry sweep — one pair, which the quality gate rightly
    # refuses to promote. 24 queries × min-of-3 ≈ 280 s/side fits two
    # counterbalanced pairs in the driver window.
    max_q = max(10, int(os.environ.get("BENCH_AB_MAX_QUERIES", "24")))
    ab_names = names
    if len(ab_names) > max_q:
        stride = -(-len(ab_names) // max_q)  # ceil div
        ab_names = ab_names[::stride]

    wt = tempfile.mkdtemp(prefix="ab_prev_")
    names_file = os.path.join(wt, "_ab_names.txt")
    try:
        subprocess.run(
            ["git", "worktree", "add", "--detach", wt, ref],
            cwd=here, check=True, capture_output=True, timeout=120,
        )
        with open(names_file, "w") as fh:
            fh.write("\n".join(ab_names))
        runner = os.path.join(here, "tools", "ab_bench.py")
        env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
        runs: dict[str, list[dict]] = {"A": [], "B": []}
        log_path = os.path.join(wt, "_ab_log.txt")
        for i, side in enumerate(order):
            remaining = budget - (time.time() - t_start)
            if remaining <= 0:
                # budget gone — even runs 0-1 must not start (a clamped
                # 60s floor here used to overrun the phase deadline by
                # up to ~60s per remaining run, eating the caller's
                # headroom). _ab_stats records pairs<2 → ab_error.
                break
            if i >= 2 and _ab_proj(runs) > remaining:
                break  # keep whole pairs only; projection over budget
            root = wt if side == "A" else here
            out_path = os.path.join(wt, f"_ab_out_{i}.json")
            with open(log_path, "a") as logfh:
                subprocess.run(
                    [sys.executable, runner, root, "@" + names_file,
                     str(iters), out_path],
                    cwd=root, env=env, check=True,
                    # a run may not outlive the phase deadline — an
                    # overlong side dies here (never later than the
                    # true remaining budget, floored at 5s so the
                    # subprocess can at least fail cleanly), the except
                    # records ab_error, and the final headline print
                    # still happens inside the driver window
                    timeout=max(5.0, remaining),
                    stdout=logfh, stderr=logfh,
                )
            with open(out_path) as fh:
                run = json.load(fh)
            runs[side].append(run)
            if i == 0 and run.get("missing"):
                # prune to the two-tree intersection NOW: names only one
                # tree can run would otherwise execute interleaved on the
                # other side, and those extra (often heavy, persist()ing)
                # queries systematically pollute that side's shared-query
                # samples — measured as a one-sided +54% pair delta that
                # vanished when the same shared queries ran alone
                missing = set(run["missing"])
                ab_names = [n for n in ab_names if n not in missing]
                with open(names_file, "w") as fh:
                    fh.write("\n".join(ab_names))
        stats = _ab_stats(runs, ab_names)
        if "ab_error" in stats:
            detail.update(stats)
            return
        detail.update(stats)
        detail["ab_subset_n"] = len(ab_names)
        detail["ab_registry_n"] = len(names)
        detail["ab_ref"] = ref[:12]
        detail["ab_prev_round"] = f"r{prev_n:02d}"
        detail["ab_order"] = "".join(order[: stats["ab_pairs"] * 2])
        detail["ab_iters"] = iters
        detail["ab_time_s"] = round(time.time() - t_start, 1)
        # promote ONLY a quality-passing run: the alternated shared-set
        # delta becomes the headline. A degraded run keeps its ab_*
        # numbers as advisory and the classic basis stands (r13
        # verdict #2: the +54.5% false headline came from iters=1,
        # 1 effective pair, cpu_big probe doubling mid-run).
        gate = _ab_quality_gate(
            stats, iters, detail.get("calibration_spread_pct")
        )
        if gate is None:
            detail["delta_basis"] = "ab_alternated"
            detail["delta_vs_prev_pct"] = stats["ab_delta_vs_prev_pct"]
        else:
            detail["ab_error"] = f"quality gate: {gate} — ab_* advisory"
    except Exception as exc:  # noqa: BLE001 — AB must never sink the bench
        detail["ab_error"] = f"{type(exc).__name__}: {exc}"[:300]
    finally:
        subprocess.run(
            ["git", "worktree", "remove", "--force", wt],
            cwd=here, capture_output=True, timeout=60,
        )


AB_GATE_MIN_ITERS = 3
AB_GATE_MIN_PAIRS = 2
AB_GATE_MAX_PROBE_DRIFT = 1.25  # max/min of the cpu_big probes
AB_GATE_MAX_SPREAD_PTS = 15.0  # max-minus-min pair delta, in points
AB_GATE_MAX_SWEEP_SPREAD_PCT = 40.0
"""Fifth disqualifier (r15): the sweep's own trimmed cpu_big group
spread, measured on the same box minutes before the A/B phase. Two
gate-passing runs on r15 HEAD hours apart read −3.7 % (sweep spread
27.9) and −23.2 % (sweep spread 57.1) on shared subsets of queries
UNCHANGED between the trees — the second run's pairs agreed with each
other (spread 10.7 ≤ 15, probe floors 1.04×) because the phase's
nonlinear drift aligned across both pairs, so only the box-state
evidence from the sweep distinguishes the runs. Observed spreads:
quiet-box runs read ≤ ~30, known-bad days read 53-57."""


def _ab_quality_gate(
    stats: dict, iters: int, sweep_spread: float | None = None
) -> str | None:
    """Headline-promotion gate for the alternated delta (pure, unit
    tested). Returns None when the run qualifies, else the reason it
    is advisory-only. Disqualifiers (each one produced or enabled a
    false headline — the r13 +54.5%, or the r15 −23.2% same-code
    reading):

    - iters < 3: min-of-1/2 is COMPILE-dominated (±20% per pair);
    - pairs < 2: a single pair has no spread — the number cannot be
      read against an attributability floor;
    - pair spread > 15 points: the counterbalanced pairs disagree, so
      the mean measures phase-local weather (r14 smoke: spread 26
      around a +38% reading on a compile-dominated sf0.001 run);
    - cpu_big probe drift > 25% across the runs: the box's compute
      rate changed mid-phase (r13: 0.43 → 0.99 s), so pair deltas
      measure weather, not code;
    - sweep calibration spread > 40%: the box was already measured
      unsteady minutes before the phase — r15's second run passed all
      in-phase checks yet read −23.2% on code-identical queries
      (see AB_GATE_MAX_SWEEP_SPREAD_PCT).
    """
    if iters < AB_GATE_MIN_ITERS:
        return f"iters={iters} < {AB_GATE_MIN_ITERS}"
    if (
        sweep_spread is not None
        and sweep_spread > AB_GATE_MAX_SWEEP_SPREAD_PCT
    ):
        return (
            f"sweep calibration spread {sweep_spread} > "
            f"{AB_GATE_MAX_SWEEP_SPREAD_PCT} — box unsteady before "
            "the phase"
        )
    pairs = stats.get("ab_pairs", 0)
    if pairs < AB_GATE_MIN_PAIRS:
        return f"pairs={pairs} < {AB_GATE_MIN_PAIRS}"
    spread = stats.get("ab_spread_pct")
    if spread is not None and spread > AB_GATE_MAX_SPREAD_PTS:
        # counterbalanced pairs that DISAGREE by more than this are
        # measuring phase-local weather, not code (alternated same-code
        # bisects read <5 points; a 26-point spread promoted a +38%
        # "delta" on a compile-dominated sf0.001 smoke — caught here)
        return (
            f"pair spread {spread} pts > {AB_GATE_MAX_SPREAD_PTS} — "
            "pairs disagree"
        )
    probes: list[float] = []
    for p in stats.get("ab_cal_cpu_big") or []:
        # each run reports [before, after] (tools/ab_bench.py); use the
        # run's FLOOR so a one-off stall (or run 0's cold before-probe
        # — measured 0.74 vs a 0.43 after on an otherwise clean phase)
        # doesn't trip the bound; accept scalars for older run records
        vals = [q for q in (p if isinstance(p, list) else [p]) if q]
        if vals:
            probes.append(min(vals))
    if len(probes) >= 2:
        drift = max(probes) / min(probes)
        if drift > AB_GATE_MAX_PROBE_DRIFT:
            return (
                f"cpu_big probe drift {drift:.2f}x > "
                f"{AB_GATE_MAX_PROBE_DRIFT}x across runs"
            )
    return None


def _ab_stats(runs: dict, names: list[str]) -> dict:
    """Pure pairing math of the alternated protocol (unit-tested in
    tests/test_bench_io.py): k-th A run pairs with k-th B run; each
    pair's shared-set total delta is one sample; the headline is the
    pair mean (linear drift cancels under ABBA counterbalancing) and
    ab_spread_pct — max minus min pair delta, in points — is the
    attributability floor the headline must be read against."""
    n_pairs = min(len(runs["A"]), len(runs["B"]))
    if n_pairs < 1:
        return {"ab_error": "no complete A/B pair inside budget"}
    used = runs["A"][:n_pairs] + runs["B"][:n_pairs]
    shared = set(names)
    for r in used:
        shared &= set(r["queries"])
    shared = sorted(shared)
    if not shared:
        return {"ab_error": "no shared queries across trees"}
    pair_deltas: list[float] = []
    per_q: dict[str, list[float]] = {}
    for k in range(n_pairs):
        a, b = runs["A"][k]["queries"], runs["B"][k]["queries"]
        sa = sum(a[n]["median"] for n in shared)
        sb = sum(b[n]["median"] for n in shared)
        pair_deltas.append(100.0 * (sb - sa) / sa)
        for n in shared:
            per_q.setdefault(n, []).append(
                100.0 * (b[n]["median"] - a[n]["median"]) / a[n]["median"]
            )
    return {
        "ab_pairs": n_pairs,
        "ab_shared_queries": len(shared),
        "ab_pair_deltas_pct": [round(d, 1) for d in pair_deltas],
        "ab_delta_vs_prev_pct": round(
            sum(pair_deltas) / len(pair_deltas), 1
        ),
        "ab_spread_pct": (
            round(max(pair_deltas) - min(pair_deltas), 1)
            if len(pair_deltas) > 1
            else None
        ),
        "ab_queries_pct": {
            n: round(sum(ds) / len(ds), 1) for n, ds in per_q.items()
        },
        "ab_cal_cpu_big": [r.get("cal_cpu_big") for r in used],
    }


def _ab_proj(runs: dict) -> float:
    """Projected seconds for one more A+B pair = the mean observed
    per-run wall estimated from completed runs' query sums (a floor —
    excludes JVM start; the budget check adds it implicitly by using
    elapsed wall so far)."""
    done = runs["A"] + runs["B"]
    if not done:
        return 0.0
    per_run = [
        sum(v["median"] for v in r["queries"].values()) for r in done
    ]
    return 2.0 * sum(per_run) / len(per_run)


def _write_detail(detail: dict, sf_num: float | None) -> str:
    """Full per-query stats to BENCH_DETAIL_r{N}.json (N = the round
    being built = newest driver BENCH_r*.json + 1) for driver-scale runs,
    BENCH_DETAIL_local.json for ad-hoc small-sf runs so they never
    clobber the round record the next _load_previous_round reads.

    Labeling caveat (r7 review): a manual sf0.1 rerun mid-round writes
    BENCH_DETAIL_r{N} before the round-N driver bench does; the driver's
    own end-of-round run overwrites it with the final numbers, and the
    read path only trusts a detail file whose round has a driver
    BENCH_r{N}.json (_load_previous_round iterates driver captures), so
    a stale early-round detail is never read unless the driver's bench
    itself never ran that round."""
    here = os.path.dirname(os.path.abspath(__file__))
    if sf_num == 0.1:
        latest = _round_files()
        n = (latest[-1][0] + 1) if latest else 1
        path = os.path.join(here, f"BENCH_DETAIL_r{n:02d}.json")
    else:
        path = os.path.join(here, "BENCH_DETAIL_local.json")
    with open(path, "w") as fh:
        json.dump(detail, fh, indent=1)
    return path


def _round_files() -> list[tuple[int, str]]:
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    rounds = []
    for path in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if m:
            rounds.append((int(m.group(1)), path))
    return sorted(rounds)


def _load_previous_round() -> tuple[dict, str] | None:
    """Newest USABLE prior-round bench record, so regressions (negative
    = faster, positive = slower) are visible in the round-over-round
    record. Per round N, prefers the repo-committed BENCH_DETAIL_rNN.json
    (full per-query stats; written since r7) over the driver's
    BENCH_rNN.json stdout capture; rounds whose capture is unparseable
    (r6's overflowed tail → ``parsed: null``) are SKIPPED rather than
    returned as an empty dict that would silence every delta."""
    here = os.path.dirname(os.path.abspath(__file__))
    for n, path in reversed(_round_files()):
        detail_path = os.path.join(here, f"BENCH_DETAIL_r{n:02d}.json")
        for candidate in (detail_path, path):
            try:
                with open(candidate) as fh:
                    data = json.load(fh)
            except (OSError, ValueError):
                continue
            if "parsed" in data:  # driver wrap of the stdout line
                data = data["parsed"] or {}
            if data.get("queries") or data.get("queries_stats"):
                return dict(data), f"r{n:02d}"
    return None


if __name__ == "__main__":
    main()
