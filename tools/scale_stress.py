#!/usr/bin/env python
"""Scale-up stress harness: replicate the sf0.1 testdata 8x (facts) /
16x (documents) into a temp dir and time the headline queries there.

Purpose: catch superlinear operators before a cluster does. Replication
is structure-preserving, not duplicate-inflating:

- lineitem/orders replicate with the SAME key shift per replica, so the
  join fan-out is unchanged (each order still matches its lines).
- events replicate id-shifted over the same time range (8x density).
- documents replicate with every 5th word tagged per replica, so
  replicas are NOT near-duplicates of each other — the near-dup rate
  stays realistic while the corpus grows 16x. Naive text replication
  would make every doc a 16-way duplicate cluster and quadratically
  inflate LSH candidate pairs (a data artifact, not an engine property).
- documents are written with ROW_GROUP_SIZE 6000: a single-row-group
  parquet file is ONE Spark split regardless of maxPartitionBytes, and
  regex-heavy text operators then serialize onto one core (measured 12x
  slowdown; see EXPLAIN.md "Scale-up stress"). At 100 TB splittability
  comes from file count; locally it must come from row groups.

Usage:
    python tools/scale_stress.py            # build + time, prints JSON
    python tools/scale_stress.py --build    # build only
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DST = os.path.join(
    os.environ.get("TMPDIR", "/tmp"), "mlwss_scale_stress", "sfbig"
)

QUERIES = [
    "flagship_demand_rollup",
    "w1_abc_classify",
    "a15_salted_two_phase_agg",
    "j12_salted_skew_join",
    "a16_incremental_rollup",
    "j10_asof_join",
    "s11_tumbling_window",
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_quality",
    "text_repetition",
    "pii_redact",
    "pipeline_llm_data_prep",
    "pipeline_llm_data_prep_v2",
    "dedup_connected_components",
    # round-3 curation additions
    "sim_quantize_int8",
    "sample_shard_assignment",
    "sample_rebalance_temperature",
    "text_perplexity_buckets",
    "pipeline_training_mix",
    "dedup_containment",
    # late round-3 additions
    "text_dsir_weights",
    "dedup_segments_rewrite",
    "text_quality_classifier",
    "dedup_source_overlap",
    "text_bpe_pair_counts",
    "s12_sessionize",
    "s13_funnel_reach",
    "s14_cohort_retention",
    "sim_ann_recall",
    "diag_key_skew",
    # round-3 close additions
    "text_subword_tokenize",
    "dedup_incremental_minhash",
    "mm_resize_bmp",
    "mm_wav_frame_rms",
    "pipeline_rag_index",
    "pipeline_tokenize_pack",
    "text_token_compression",
    "v11_incremental_datasheet",
    "mm_image_dedup",
    "mm_speech_segments",
    # round-4 additions
    "text_cms_heavy_hitters",
    "sim_pq_codes",
    "sim_pq_adc_topk",
    "sample_length_batches",
    # round-5 additions
    "dedup_segments_cdc",
    "dedup_canonical_keeper",
    "sim_pq_adc_topk_many",
    "sample_epoch_shuffle",
    "mm_image_near_dup",
    # round-6 additions
    "r7_ohlc_resample",
    "w9_time_weighted_avg",
    "text_word_entropy",
    "v15_k_anonymity_gate",
    "v16_referential_integrity",
    "sim_binary_hamming_topk",
    "a18_cube_grouping",
    # round-7 additions
    "dedup_semantic_k32",
    "text_shingle_novelty",
    "dedup_minhash_calibration",
    "ml_corr_matrix",
    "graph_triangle_count",
    # round-8 additions (graph queries also have dedicated --parts rows)
    "v23_candidate_keys",
    "v24_fd_report",
    "w13_holt_brown",
    "v13_mad_outliers_approx",
    "text_corpus_datasheet_approx",
    "a20_weighted_quantiles",
    "w14_forecast_backtest",
    # round-10 additions (graph_kcore_peel also has a --parts row)
    "ml_naive_bayes",
    "ml_auc_rank",
    "j17_bloom_prejoin",
    "w20_theilsen_trend",
    "w21_mann_kendall",
    "graph_kcore_peel",
    "a21_hll_reaggregate",
    "j18_dpp_partition_join",
    "graph_label_propagation",
    "text_pmi_collocations",
    "sim_matryoshka_recall",
    "dedup_incremental_bloom",
    "sample_kfold_assign",
    # round-10 continuation (graph_link_prediction / graph_bfs_distance
    # get --parts rows instead: plain order-key replication leaves the
    # co-purchase graph unchanged; dedup_blocked_editdist runs on the
    # static part dim, which replication does not widen — by design its
    # candidate volume is |distinct names|-bounded, not fact-bounded)
    "w22_order_streaks",
    "v25_chi2_independence",
    "w23_rolling_median",
    "w24_acf_lags",
    "w25_winsorized_mean",
    "s24_event_transitions",
    "ml_knn_confusion",
    "s23_time_travel_read",
    "text_readability",
    "w26_rolling_mad",
    "k10_snapshot_expire",
    "ml_knn_calibration",
    "s25_python_datasource",
    "k11_merge_into",
    "w27_robust_stl",
    "sample_diverse_seeds",
    "w28_max_drawdown",
    "w29_interval_coverage",
    "ml_pr_curve",
    "sample_hard_negatives",
    "diag_join_cardinality",
    "v26_monotonic_violations",
    "emb_pca_residual_topk",
    "a23_equi_depth_histogram",
    "s26_funnel_latency",
    "emb_fisher_scores",
    "k12_write_audit_publish",
    "sample_triplets",
    "sql_q3_shipping_priority",
    "f13_variant_props",
    "s27_store_schema_evolution",
    # round-11 additions
    "ml_auc_bucketed",
    "ml_pr_bucketed",
    "sql_rollup_grand_total",
    "sql_qc_verdict",
    "sql_abc_classify",
    "a24_kmv_set_ops",
    "ml_calibration_bins",
    "a25_kmv_reaggregate",
    "s11_kmv_distinct_stream",
    "dedup_jaccard_prefix_filter",
    "k13_bloom_filtered_write",
    "pipeline_curation_v5",
]


def build(
    src: str = SRC,
    dst: str = DST,
    facts_mult: int = 8,
    docs_mult: int = 16,
    shift_partkeys: bool = False,
) -> None:
    import duckdb

    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part"]:
        shutil.copyfile(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")
    def shifted_copy(table: str, id_col: str, n: int, also: tuple = ()) -> None:
        # introspect columns so a testdata regeneration that adds a
        # column can never be silently dropped from the replica
        cols = [
            r[0]
            for r in con.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{src}/{table}.parquet')"
            ).fetchall()
        ]
        shifted = {id_col: 100000000, **dict(also)}
        rest = ", ".join(c for c in cols if c not in shifted)
        lead = ", ".join(f"{c} + k.k*{s} AS {c}" for c, s in shifted.items())
        con.execute(f"""
COPY (
  SELECT {lead}, {rest}
  FROM read_parquet('{src}/{table}.parquet'), (SELECT unnest(range({n})) AS k) k
) TO '{dst}/{table}.parquet' (FORMAT PARQUET)""")

    # --parts mode: shift l_partkey per replica too, so the co-purchase
    # graph becomes a DISJOINT N-times union — edge count, wedge count
    # and sum(outdeg^2) all genuinely grow (plain order-key replication
    # leaves the graph constant: the distinct edge set collapses N
    # replicas back to one, and graph stress then measures only the
    # edge-extraction scan). Part-joining queries are out of scope in a
    # parts dir (the part dim is NOT widened); graph queries only touch
    # lineitem.
    shifted_copy(
        "lineitem", "l_orderkey", facts_mult,
        also=(("l_partkey", 10000000),) if shift_partkeys else (),
    )
    shifted_copy("orders", "o_orderkey", facts_mult)
    shifted_copy("events", "event_id", facts_mult)
    # vectors replicate id-shifted with their float arrays unchanged —
    # right for map-only vector ops (quantization); keep pairwise-cosine
    # queries OUT of the stress list, since identical replicas would
    # inflate near-dup pair counts (a data artifact, not engine cost)
    shifted_copy("embeddings", "vec_id", facts_mult)
    # introspect documents columns too: doc_id/text/n_chars get the
    # replica treatment, every other column passes through unchanged
    doc_cols = [
        r[0]
        for r in con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{src}/documents.parquet')"
        ).fetchall()
    ]
    passthrough = [c for c in doc_cols if c not in ("doc_id", "text", "n_chars")]
    inner = ", ".join(
        [
            "doc_id + k.k*10000000 AS doc_id",
            """CASE WHEN k.k = 0 THEN text ELSE array_to_string(
             list_transform(range(1, len(string_split(text,' '))+1),
               j -> CASE WHEN j%5=1
                    THEN string_split(text,' ')[j] || 'r' || CAST(k.k AS VARCHAR)
                    ELSE string_split(text,' ')[j] END), ' ') END AS text""",
        ]
        + passthrough  # empty list is fine: no dangling comma
    )
    outer = ", ".join(
        "length(text) AS n_chars" if c == "n_chars" else c for c in doc_cols
    )
    con.execute(f"""
COPY (
  SELECT {outer} FROM (
    SELECT {inner}
    FROM read_parquet('{src}/documents.parquet'), (SELECT unnest(range({docs_mult})) AS k) k
  )
) TO '{dst}/documents.parquet' (FORMAT PARQUET, ROW_GROUP_SIZE 6000)""")


def stream_stress(spark, dst: str, files_per_trigger: list[int]) -> dict:
    """The r4 state-store packer cursor under scale: run the streaming
    packer over the stress-dir documents staged as 8 doc_id-range files,
    sweeping maxFilesPerTrigger (8 -> 1 micro-batches). The cursor's
    invariant — chunk assignment equal to the one-pass batch walk — must
    hold at every trigger granularity, and the per-batch state overhead
    is the thing this times (the one r4 mechanism without a stress row).
    """
    import tempfile

    from pyspark.sql import functions as F

    from machine_learning_with_spark_streaming_spark.operators.text import words
    from machine_learning_with_spark_streaming_spark.schemas import load_table
    from machine_learning_with_spark_streaming_spark.streaming.examples import (
        stage_ordered_files,
    )
    from machine_learning_with_spark_streaming_spark.streaming.stateful import (
        streaming_packer,
    )
    from machine_learning_with_spark_streaming_spark.streaming.tuning import (
        start_and_await,
    )

    docs = load_table(spark, dst, "documents").select(
        "doc_id", "source", F.size(words("text")).cast("long").alias("n_tokens")
    )
    hi = docs.agg(F.max("doc_id")).first()[0] or 0
    n_files = 8
    step = hi // n_files + 1
    work = tempfile.mkdtemp(prefix="mlwss_packstress_")
    stage = f"{work}/stage"
    stage_ordered_files(
        [
            docs.filter(
                (F.col("doc_id") >= i * step) & (F.col("doc_id") < (i + 1) * step)
            )
            for i in range(n_files)
        ],
        stage,
    )
    results: dict[str, object] = {}
    last_chunks = None
    for fpt in files_per_trigger:
        ckpt = f"{work}/ckpt_{fpt}"
        sink = f"pack_stress_{fpt}"
        t0 = time.time()
        stream = (
            spark.readStream.schema("doc_id bigint, source string, n_tokens bigint")
            .option("maxFilesPerTrigger", fpt)
            .parquet(stage)
        )
        q = (
            streaming_packer(stream, budget=512)
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
        )
        start_and_await(q, spark)
        dt = time.time() - t0
        out = spark.table(sink)
        chunks = {
            tuple(r)
            for r in out.groupBy("source", "chunk_id")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
            )
            .collect()
        }
        n_batches = -(-n_files // fpt)
        results[f"fpt={fpt}"] = {
            "sec": round(dt, 2),
            "micro_batches": n_batches,
            "chunk_rows": out.count(),
        }
        # trigger-granularity invariance: identical chunk assignment.
        # A mismatch is a cursor regression — fail the run, don't just
        # record it (EXPLAIN.md documents this as an assertion).
        if last_chunks is not None and chunks != last_chunks:
            results[f"fpt={fpt}"]["MISMATCH"] = True
            print(json.dumps(results))
            raise AssertionError(
                f"trigger-granularity invariance violated at fpt={fpt}: "
                f"{len(chunks ^ last_chunks)} differing chunk rows"
            )
        last_chunks = chunks
        spark.catalog.dropTempView(sink)
    shutil.rmtree(work, ignore_errors=True)
    return results


def main() -> None:
    # --docs=64 builds/uses a sibling dir with N-times documents (facts
    # stay 8x) — the r4 64x sublinearity check for the dedup chain.
    # --facts=64 scales lineitem/orders/events/embeddings instead (docs
    # stay 16x) — the r7 64x check for the fact-table operator families.
    docs_mult, facts_mult, dst, runs = 16, 8, DST, 2
    parts = False
    names = QUERIES
    # --parts redefines facts_mult AND the dataset name; combined with
    # --facts/--docs the last-writer-wins loop below would silently
    # produce a mixed dst/multiplier — reject instead of guessing
    if any(a.startswith("--parts=") for a in sys.argv[1:]) and any(
        a.startswith(("--facts=", "--docs=")) for a in sys.argv[1:]
    ):
        raise SystemExit("--parts= cannot be combined with --facts=/--docs=")
    for a in sys.argv[1:]:
        if a.startswith("--docs="):
            docs_mult = int(a.split("=", 1)[1])
            if docs_mult != 16:
                dst = f"{DST}{docs_mult}"
        if a.startswith("--facts="):
            facts_mult = int(a.split("=", 1)[1])
            if facts_mult != 8:
                dst = f"{DST}f{facts_mult}"
        if a.startswith("--parts="):
            # grow-the-graph mode: N-times facts with part keys shifted
            # per replica; defaults to timing just the graph queries
            facts_mult = int(a.split("=", 1)[1])
            parts = True
            dst = f"{DST}p{facts_mult}"
            names = [
                "graph_triangle_count",
                "graph_pagerank",
                "graph_pagerank_k10",
            ]
        if a.startswith("--runs="):
            runs = int(a.split("=", 1)[1])
    if not os.path.isdir(dst) or "--rebuild" in sys.argv:
        shutil.rmtree(dst, ignore_errors=True)
        build(dst=dst, docs_mult=docs_mult, facts_mult=facts_mult,
              shift_partkeys=parts)
    if "--build" in sys.argv:
        print(json.dumps({"built": dst}))
        return

    import __spark_entry__ as entry_mod
    from bench import measure
    from machine_learning_with_spark_streaming_spark.session import get_session

    spark = get_session(
        "scale-stress", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    if "--stream" in sys.argv:
        res = stream_stress(spark, dst, files_per_trigger=[8, 2, 1])
        print(json.dumps({"metric": "stream_stress", "dir": dst, "packer": res}))
        return

    queries = entry_mod.queries()
    for a in sys.argv[1:]:  # --only=q1,q2 to re-time a subset
        if a.startswith("--only="):
            names = a.split("=", 1)[1].split(",")
    out: dict[str, object] = {}
    for n in names:
        try:
            # min-of-N, like bench.py: damps JIT/GC noise
            out[n] = round(measure(spark, queries[n], dst, runs)[0][0], 2)
        except Exception as exc:  # noqa: BLE001
            out[n] = f"ERR {type(exc).__name__}: {exc}"[:120]
    print(json.dumps({"metric": "scale_stress_sec", "dir": dst, "queries": out}))


if __name__ == "__main__":
    main()
