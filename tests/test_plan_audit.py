"""Whole-registry plan + schema audit: scale-killer patterns must not
appear in ANY registered query — a permanent regression guard on the
classes of mistake that silently survive correctness checks:

- ``CartesianProduct``: an unkeyed fact-fact join that still returns
  the right rows at sf0.001 and detonates at 100 TB (the broadcast-
  small-side form plans as BroadcastNestedLoopJoin, which is allowed);
- ``BatchEvalPython``: a row-at-a-time Python UDF in the plan (Arrow
  stages — ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas — are
  the engine's sanctioned Python escape hatches and are allowed);
- ``Exchange SinglePartition`` feeding a Window over an unbounded scan:
  the global-sort ntile/row_number mistake (r3's
  ``length_bucketed_batches``) — one task sorts the corpus. Bounded
  inputs (post-``limit()`` top-k ranking, distinct/aggregated
  relations, literal tables) are allowed; see
  ``machine_learning_with_spark_streaming_spark/planaudit.py`` for the exact heuristic;
- an output column of DOUBLE type not in the documented allowlist
  below: rounded doubles in hashed output are the cross-engine
  tie-rounding hazard that cost v14_histogram_drift its r3 driver
  certification (Spark BigDecimal HALF_UP vs DuckDB scaled-multiply).
  Existing doubles are certified and grandfathered; a NEW double
  column fails until it is consciously allowlisted here — prefer
  exact integer micro-units (the v14/text-classifier recipe).

``audit_plan_and_schema`` runs all four on the one DataFrame that
``test_entry_contract.py``'s ``built`` fixture makes per query;
``test_query_runs`` asserts the result.
"""

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType

from machine_learning_with_spark_streaming_spark.planaudit import (
    unbounded_single_partition_windows,
)

# Documented allowlist of DOUBLE/FLOAT output columns. Every entry is a
# driver- or sweep-certified query whose double values are stable under
# the 6 dp comparison normalization. Add to this list ONLY after a
# cross-engine sweep at sf0.1 with --shuffle 5 (tools/verify_all.py).
DOUBLE_OUTPUT_ALLOWLIST = {
    "a10_a11_rowwise_stats": ["row_mean", "row_std", "row_total"],
    "a14_group_percentiles": ["p50", "p90", "p99"],
    "a15_salted_two_phase_agg": ["sum_price", "sum_qty"],
    "a16_incremental_rollup": ["max_price", "min_price", "total_price"],
    "a17_equi_width_histogram": ["bin_max", "bin_min"],
    "a1_pivot_sum": ["F", "O"],
    "a2_a3_groupby_concat_dim": ["value_sum"],
    "a5_grouping_sets": ["total_price"],
    "a5_rollup_grand_total": ["total_price"],
    # r11: SQL-text fronts of already-allowlisted queries — identical
    # expressions to a5_rollup_grand_total / v3_qc_verdict /
    # w1_abc_classify; swept green at sf0.1 --shuffle 5 on registration
    "sql_rollup_grand_total": ["total_price"],
    "sql_qc_verdict": ["baseline_value", "new_value", "pct_diff"],
    "sql_abc_classify": ["cum_percent", "revenue"],
    "a6_latest_snapshot": ["total_price"],
    "dedup_containment": ["cont_a_in_b", "cont_b_in_a"],
    "dedup_embedding_cosine": ["cos"],
    "dedup_incremental_minhash": ["jaccard"],
    "dedup_minhash_lsh": ["jaccard"],
    "dedup_ngram_jaccard": ["jaccard"],
    # r11: same exact-verify jaccard expression as dedup_ngram_jaccard
    # through the lossless prefix-filtered candidate path; swept green
    # at sf0.01 and sf0.1 --shuffle 5 on registration
    "dedup_jaccard_prefix_filter": ["jaccard"],
    # rounded cosine vs the k=32 frozen artifact; swept green at sf0.01
    # and sf0.1 --shuffle 5 (r7). The fixed-k demo form was deregistered
    # in r8 (quadratic pair join).
    "dedup_semantic_k32": ["centroid_sim"],
    # r7 additions, all swept at sf0.1 --shuffle 5: 6-dp-rounded terms
    # from exact-integer operands (PSI log-ratio terms; guarded MoM
    # ratio; corr from integer sufficient statistics; novelty fraction)
    "v20_psi_drift": ["psi_term"],
    # r10 continuation: 6-dp-rounded chi-square terms from exact integer
    # sufficient statistics (single-IEEE-op sequence documented in
    # stats_tests.py); swept at sf0.01 and sf0.1 --shuffle 5
    "v25_chi2_independence": ["chi2_term"],
    # r10 continuation: Pearson ACF per (key, lag) from decimal(38,0)
    # integer-cent sufficient statistics (the ml_corr_matrix recipe),
    # 6-dp rounded; swept at sf0.01 and sf0.1 --shuffle 5
    "w24_acf_lags": ["acf"],
    # r10 continuation: group-level Flesch from exact integer totals
    # (one fixed IEEE expression, 6dp); swept sf0.01 + sf0.1 --shuffle 5
    "text_readability": ["flesch"],
    # r10 continuation: Newman assortativity — the corr recipe over
    # integer endpoint degrees; swept sf0.01 + sf0.1 --shuffle 5
    "graph_assortativity": ["assortativity"],
    # r10 continuation: farthest-first seeding — 6-dp round of the
    # bit-exact max cosine; swept sf0.01 + sf0.1 --shuffle 5
    "sample_diverse_seeds": ["max_cos"],
    # r10 continuation: 6-dp round of the bit-exact pair cosine (the
    # sim_topk recipe); swept sf0.01 + sf0.1 --shuffle 5
    "sample_hard_negatives": ["cos"],
    # r10 continuation: Fisher ratio — one division + 6-dp round on
    # exact integer scatter sums; swept sf0.01 + sf0.1 --shuffle 5
    "emb_fisher_scores": ["fisher"],
    "w12_mom_pct_change": ["pct_change"],
    "ml_corr_matrix": ["corr"],
    "text_shingle_novelty": ["novelty"],
    "j16_asof_tolerance_join": ["prev_order_price"],  # as j10
    "dedup_minhash_calibration": ["exact_j", "est_j", "abs_err"],
    "emb_dim_stats": ["mean", "std"],
    "a19_share_of_total": ["share_of_group", "share_of_total"],
    "emb_whiten_frozen": ["w_sum", "w_norm"],
    "pipeline_drift_monitor": ["value"],
    "s11_drift_monitor_stream": ["psi"],
    "dedup_source_overlap": ["jaccard"],
    # r9: 6-dp-rounded cosine to the own-label centroid, and the w16
    # dow-mean/index ratios from exact integer-cent sums; both swept
    # green at sf0.01 and sf0.1 --shuffle 5 (this round)
    "emb_centroid_outliers": ["cos"],
    "w16_seasonal_index": ["dow_mean", "seasonal_index"],
    "diag_key_skew": ["share", "x_avg"],
    "emb_centroid_drift": ["cos_drift", "l2_shift"],
    "emb_l2_normalize": ["l2_norm", "unit_checksum"],
    "emb_label_centroids": ["centroid"],
    "ep1_job_pipeline": ["value"],
    "f1_clean_numeric_roundtrip": ["cleaned_qty"],
    "f5_fiscal_calendar": ["total_price"],
    "flagship_demand_rollup": ["revenue", "sum_qty"],
    "j10_asof_join": ["prev_order_price"],
    "j11_interval_join": ["secs_before"],
    "j12_salted_skew_join": ["total_qty"],
    "j13_bucketed_colocated_join": ["total_qty"],
    "j14_inlist_pushdown_join": ["total_qty"],
    "j1_guarded_join": ["total_price"],
    "j2_enrichment": ["sum_qty"],
    "j5_two_pass_factor": ["converted_qty"],
    "j9_compare_join": ["delta", "rev_1994", "rev_1995"],
    "k5_compaction": ["total_qty"],
    # r5: ln-based BM25 score and the 1/(60+rank) RRF sum, both
    # rounded to 6 dp and swept green at sf0.1 --shuffle 5
    "text_bm25_topk": ["bm25"],
    "pipeline_hybrid_retrieve": ["rrf"],
    "mm_decode_bmp": ["mean_pixel"],
    "mm_decode_wav": ["mean_abs_sample"],
    "mm_extract_features": ["mean_byte"],
    "mm_resize_bmp": ["mean_pixel"],
    "mm_sample_frames": ["frame_mean_byte"],
    "mm_wav_frame_rms": ["rms"],
    "p11_top_n": ["total_price"],
    "p5_p8_predicates": ["total_price"],
    "pipeline_rag_index": ["cosine"],
    "r2_unpivot_months": ["qty"],
    "r3_week_disaggregation": ["week_value"],
    "r4_snapshot_window_trim": ["total_price"],
    "r5_gap_fill_locf": ["filled_value"],
    "s11_ann_serving_stream": ["cos"],
    "s11_datasheet_stream": ["value"],
    "s11_json_props_extract": ["value_sum"],
    "s11_session_window": ["value_sum"],
    "s11_session_window_stream": ["value_sum"],
    "s11_sliding_window": ["value_sum"],
    "s11_stateful_running_totals": ["value_sum"],
    "s11_stream_static_join_stream": ["value_sum"],
    "s11_tumbling_window": ["value_sum"],
    "s11_tumbling_window_stream": ["value_sum"],
    "s11_upsert_latest_stream": ["latest_value"],
    "s13_funnel_reach": ["pct_of_first"],
    "s1_header_autodetect": ["total_qty"],
    "sample_range_layout": ["max_price", "min_price"],
    "sim_ann_recall": ["recall_at_5"],
    "sim_quantize_int8": ["code_wsum", "scale"],
    "sim_rag_retrieve": ["cos"],
    "sim_topk_bucketed": ["cos"],
    "sim_topk_cosine": ["cos"],
    "sim_topk_ivf": ["cos"],
    # same rounded cosine as sim_topk_ivf, served from the
    # cell-partitioned store; swept green at sf0.1 --shuffle 5 (r10)
    "sim_topk_ivf_stored": ["cos"],
    "sim_topk_multiprobe": ["cos"],
    "text_bigram_logprob": ["avg_logprob"],
    "text_corpus_datasheet": ["value"],
    "text_dsir_weights": ["avg_log_ratio"],
    "text_perplexity_buckets": ["avg_score"],
    "text_quality": ["mean_word_len", "punct_ratio", "stopword_ratio"],
    "text_repetition": [
        "dup_word_ratio",
        "top_bigram_ratio",
        "top_word_ratio",
    ],
    "text_tfidf_topterms": ["tfidf"],
    "text_token_compression": ["chars_per_token"],
    "text_unigram_logprob": ["avg_logprob"],
    "u1_union_all": ["value_sum"],
    "u3_split_transform_union": ["net_qty"],
    "v11_incremental_datasheet": ["value"],
    "v12_cdc_apply": ["current_value"],
    "v13_mad_outliers": ["mad", "median"],
    "v1_aggregate_compare": ["value_after", "value_before", "value_delta"],
    "v2_totals_compare": ["rel_delta", "total_after", "total_before"],
    "v3_qc_verdict": ["baseline_value", "new_value", "pct_diff"],
    "v4_snapshot_drift": ["baseline_value", "new_value", "pct_diff"],
    "v5_new_vs_old_variance": [
        "ea_new",
        "ea_old",
        "var_ea",
        "var_ea_pct",
        "var_rc_pct",
    ],
    "v6_delta_rows": ["c_acctbal"],
    "w1_abc_classify": ["cum_percent", "revenue"],
    "w2_xyz_classify": ["cov", "mean_qty"],
    "w3_max_per_group": ["l_quantity"],
    "w5_first_nonzero": ["first_rate"],
    "w6_rolling_7d": ["roll_sum_7d"],
    # r6: raw parquet doubles (no arithmetic) for OHLC; 6-dp-rounded
    # sums/ratios elsewhere, swept green at sf0.1 --shuffle 5
    "r7_ohlc_resample": ["close", "high", "low", "open", "value_sum"],
    "text_word_entropy": ["distinct_ratio", "entropy"],
    "emb_truncate_renorm": ["energy_ratio", "prefix_norm", "renorm_checksum"],
    "s11_late_data_stream": ["value_sum"],
    "w9_time_weighted_avg": ["twap"],
    "ml_linear_trend": ["intercept", "slope_per_day"],
    "w10_percentile_normalize": ["pctile", "value"],
    "v17_ks_drift": ["ks_d"],
    # raw parquet double round-tripped through Derby, no arithmetic
    "s11_jdbc_upsert_stream": ["last_value"],
    "w11_ewma_smooth": ["ewma", "mean_value"],
    # swept sf0.1 --shuffle 5 green on registration day (r8): one IEEE
    # expression tree in both engines, 6-dp rounded at output only
    "w13_holt_brown": ["forecast_next", "level", "mean_value", "trend"],
    "text_langid_confusion": ["share"],
}


def audit_plan_and_schema(name, df) -> list[str]:
    """All four checks on ``df``'s plan and output schema, read without
    running an action; returns the offences found."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    offences = unbounded_single_partition_windows(plan)
    offences += [p for p in ("CartesianProduct", "BatchEvalPython") if p in plan]
    extra = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (DoubleType, FloatType))
        and f.name not in DOUBLE_OUTPUT_ALLOWLIST.get(name, [])
    ]
    if extra:
        offences.append(
            f"unallowlisted DOUBLE output columns {extra} — use exact "
            "integer micro-units or extend DOUBLE_OUTPUT_ALLOWLIST "
            "after a cross-engine sf0.1 --shuffle 5 sweep"
        )
    return offences


# ------------------------- seeded regressions for the audit itself


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )


def test_audit_flags_global_ntile_over_scan(spark, sf_dir):
    df = _docs(spark, sf_dir).withColumn(
        "bucket", F.ntile(4).over(Window.orderBy("doc_id"))
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert unbounded_single_partition_windows(plan), plan


def test_audit_allows_post_limit_window(spark, sf_dir):
    df = (
        _docs(spark, sf_dir)
        .orderBy("doc_id")
        .limit(5)
        .withColumn("r", F.row_number().over(Window.orderBy("doc_id")))
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert unbounded_single_partition_windows(plan) == [], plan


def test_audit_allows_window_over_aggregated_relation(spark, sf_dir):
    df = (
        _docs(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum("n").alias("total"))
        .withColumn("r", F.row_number().over(Window.orderBy("total")))
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert unbounded_single_partition_windows(plan) == [], plan
