#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line with per-query wall times.

Execution is forced with the noop sink (full computation, no driver
collect/materialization skew).  A small warmup query absorbs JVM/codegen
startup so the measured numbers are steady-state engine throughput.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DEFAULT_CPUS = "32"
CPUS = os.environ.get("SPARK_GRAFT_CPUS", DEFAULT_CPUS)

# One headline per operator family (reference core, extensions, LLM ops,
# streaming-batch) — the judged throughput surface.
HEADLINE = [
    "flagship_revenue_by_nation",
    "tpch_q1_pricing_summary",
    "window_rank_orders_in_segment",
    "left_join_customer_orders",
    "attack_shape_metrics",
    "exact_dedup_docs",
    "minhash_lsh_candidates",
    "ngram_jaccard_near_dups",
    "simhash_fingerprints",
    "embedding_cosine_topk",
    "embedding_near_dup_pairs_mm",
    "events_tumbling_hourly",
    "events_user_sessions",
    # retrieval tier (added r2 per VERDICT #6 so its de-scale-kill fixes
    # are measured round over round)
    "bm25_keyword_search",
    "hybrid_rag_search",
    "tfidf_top_terms",
    "document_chunking",
    # r2 additions: quality gate, quantization, projection, gap-fill,
    # LM scoring, end-to-end fuzzy dedup
    "gopher_quality_filters",
    "embedding_int8_quantization",
    "embedding_random_projection",
    "events_hourly_gapfill",
    "unigram_lm_doc_scores",
    "fuzzy_dedup_surviving_docs",
    # late-r2 additions: TPC-H analog suite widened + oracle-checked video
    # frame sampling
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q10_returned_items",
    "tpch_q18_large_volume_customers",
    "multimodal_video_framesample",
    # r5: the subquadratic production near-dup path (LSH candidates ->
    # exact verify), the new TPC-H shapes, and the real-codec WAV pipeline.
    # r6 (VERDICT r5 #6): the exact-by-contract embedding_near_dup_pairs was
    # DE-HEADLINED — Ω(N²) all-pairs was 31% of the r5 warm bench for a plan
    # no one would run at 100×; r7 (VERDICT r6 #8) then deregistered it to a
    # test-only baseline (tests/test_plans.py recall/plan pins) while the LSH
    # path below is the measured production near-dup plan.
    "embedding_near_dup_pairs_lsh",
    "tpch_q9_profit_by_nation_year",
    "tpch_q12_priority_by_returnflag",
    "multimodal_wav_features",
    "segment_dedup_docs",
    "embedding_lsh_topk",
    "events_unattributed_clicks",
    "dup_bigram_fraction_docs",
    "incremental_dedup_new_docs",
    # r6 additions: real-codec PNG pipeline, fixed-codebook IVF serving
    # path, maintenance family (CDC-lite diff, SCD-1, SCD-2), prefix dedup
    "multimodal_png_features",
    "embedding_ivf_probe_fixed",
    "zone_snapshot_diff",
    "scd2_current_rows",
    "upsert_current_rows",
    "prefix_dup_docs",
    "edit_distance_near_dups",
    "bigram_lm_doc_scores",
    "multimodal_png_resize_features",
    "histogram_quantile_prices",
    "loglog_distinct_customers",
    "events_hourly_anomaly",
    "events_time_weighted_value",
    "corpus_training_selection",
    "embedding_fuzzy_dedup_vectors",
    "minhash_jaccard_estimates",
    "correlation_price_quantity",
    "events_attribution_first_vs_last",
    "dup_cluster_size_histogram",
    # r7 additions: CEP batch form and running-totals batch form (the last
    # two stateful streaming operators earning driver rows), count-min heavy
    # hitters, cross-document boilerplate coverage
    "events_cep_view_purchase",
    "events_running_user_totals",
    "events_heavy_hitters_cms",
    "doc_boilerplate_ngram_coverage",
    "ngram_containment_pairs",
    "bigram_collocation_lift",
    "image_phash_near_dups",
    "near_dup_graph_clustering",
    "embedding_diversity_fps",
    "scd2_point_in_time_lookup",
    "events_run_length_islands",
    # late-r7 additions: mergeable rollup cascade, priority sampling, KMV
    # source-overlap planning, Bloom dedup prefilter, PQ ANN serving
    "events_rollup_cascade",
    "priority_sample_docs",
    "source_pair_overlap_kmv",
    "bloom_prefilter_incremental_dedup",
    "embedding_pq_rerank_topk",
    "zorder_file_skipping_stats",
    "cdc_apply_log_compaction",
    "rrf_fusion_search",
    "snapshot_drift_report",
    "events_hourly_value_percentiles",
    "events_transition_matrix",
    "rfm_customer_segmentation",
    "basket_affinity_lift",
    "pareto_abc_customers",
    "vocab_coverage_curve",
    "events_seasonal_baseline_error",
    "lsh_tuning_planner",
    "near_dup_candidate_eval",
    "gini_revenue_concentration",
    "events_ab_experiment_lift",
    "events_dau_wau_stickiness",
    "events_new_vs_returning",
    # r8 additions: substring-level exact dedup, domain curation, learned
    # quality gate, trained-PQ serving
    "substring_dedup_docs",
    "domain_quota_selection",
    "domain_corpus_stats",
    "quality_classifier_scores",
    "embedding_pq_trained_rerank",
    "doc_pii_scan",
    "domain_blocklist_filter",
    "semantic_dedup_cells",
    "domain_psl_extraction",
    "intra_doc_repeated_spans",
    "near_dup_pagerank",
    "embedding_ivfpq_rerank_topk",
    "source_token_drift",
    "query_likelihood_search",
    "contrastive_negatives_sample",
    "events_sliding_topk_types",
    # r10 additions: retrieval eval, the incremental dedup family, BPE
    # train/apply, the persisted-index lifecycle (serve/append/delete/stats
    # — trained-serve is excluded: two k-means trainings per bench pass
    # measure training cost already covered by embedding_pq_trained_rerank),
    # audio fingerprint near-dup, epoch shuffle
    "retrieval_ranking_eval",
    "incremental_minhash_dedup",
    "incremental_semantic_dedup",
    "bpe_merge_training",
    "bpe_subword_stats",
    "embedding_ivfpq_index_serve",
    "embedding_ivfpq_index_append",
    "embedding_ivfpq_index_delete",
    "embedding_ivfpq_index_stats",
    "audio_fingerprint_near_dups",
    "epoch_shuffle_assignment",
    # r11 additions: the prune-based tokenizer trainer, the IVFPQ n_probe
    # planner (VERDICT r10 #5/#6), and the skew-resistant idf SimHash
    "unigram_piece_training",
    "wordpiece_merge_training",
    "embedding_ivfpq_tuning_planner",
    "simhash_idf_near_dup_pairs",
    "winnowed_plagiarism_pairs",
    "incremental_winnow_dedup",
    "embedding_hard_negatives",
    "embedding_matryoshka_recall",
    "soft_dedup_sampling",
    "domain_temperature_mixing",
    "sequence_packing_plan",
    "split_leakage_audit",
    "events_debounce_dedup",
    "corpus_health_report",
    # r12 additions: the tokenizer ENCODE chain, the docs->vectors bridge
    # (featurizer + its LSH and IVFPQ end-to-end compositions), video
    # temporal near-dup, embedding-space decontamination, quality mixing
    "bpe_encode_docs",
    "bpe_sequence_packing",
    "doc_hashed_features",
    # (text_hashed_near_dups demoted r14: raw-count signature skew made its
    # wall time unstable — 12-22 s intra-session at sf0.1; the idf sibling
    # below is the registered serve path)
    "text_hashed_ann_topk",
    "video_temporal_near_dups",
    "embedding_decontamination",
    "quality_weighted_mixing",
    "wordpiece_encode_docs",
    "text_hashed_idf_near_dups",
    "unigram_encode_docs",
    # late-r12 additions: binary-quantized ANN, MMR re-ranking, tokenizer
    # decode round-trip, URL canonicalization, RM/DPO pair mining, length
    # bucketing, cluster describe, n-gram diversity audit
    "embedding_binary_hamming_topk",
    "retrieval_mmr_rerank",
    "bpe_decode_roundtrip",
    "url_canonical_dedup",
    "preference_pair_mining",
    "length_bucket_batching",
    "cluster_topic_terms",
    "ngram_diversity_report",
    "bitext_margin_mining",
    "doc_compression_ratio",
    "html_text_extraction",
    "eval_pass_at_k",
    "eval_self_consistency",
    "eval_bootstrap_ci",
    # round 13: trained quality classifier + trained langid (fit & score),
    # RAG capstone chain, BT ratings, best-of-n, PPJoin exact-Jaccard
    "quality_nb_fit",
    "quality_nb_scores",
    "langid_ngram_profiles",
    "langid_ngram_scores",
    "rag_capstone_retrieval",
    "eval_bradley_terry",
    "eval_best_of_n",
    "jaccard_prefix_filter_pairs",
    "incremental_ppjoin_dedup",
    "chunk_dedup_embedding_cache",
    # round 14: RM3 feedback expansion, image-retrieval capstone,
    # byte-level BPE encode/decode, zone time travel, ANN recall gate,
    # classifier calibration, curriculum annealing
    "rm3_expansion_search",
    "multimodal_capstone_retrieval",
    "bpe_byte_encode_docs",
    "bpe_byte_roundtrip",
    "zone_time_travel_read",
    "ivfpq_recall_report",
    "quality_nb_calibration",
    "curriculum_anneal_plan",
    "embedding_matryoshka_funnel_topk",
    "tokenizer_fertility_report",
    "quality_aware_dedup_keepers",
    # r15 additions
    "curation_funnel_capstone",
    "ann_filtered_serving_report",
    "lsh_bucket_skew_preflight",
    "audio_capstone_retrieval",
    "cross_modal_dedup_gate",
    "gate_agreement_kappa",
    "quality_threshold_ablation",
    "eval_paired_bootstrap_delta",
    "proximity_boosted_search",
    "stupid_backoff_doc_scores",
    "events_decayed_trending",
    "embedding_rocchio_confusion",
    "incremental_curation_funnel",
    "cross_modal_training_selection",
    # r16 additions
    "ann_predicate_serving",
    "video_capstone_retrieval",
    "dsir_importance_resampling",
    "embedding_ivfpq_index_merge",
]

# the 13 queries BENCH_r01 measured — reported as a stable subtotal so
# round-over-round comparison never needs key intersection (VERDICT r2 #8)
SHARED_R1 = HEADLINE[:13]


def main() -> None:
    # validate the round override BEFORE the 10+-minute run, not after
    env_round = os.environ.get("SPARK_GRAFT_ROUND", "")
    if env_round and (not env_round.isdigit() or int(env_round) <= 0):
        # a malformed override silently falling back to the file heuristic
        # would stamp BENCH_DETAIL with the wrong round — the exact mistake
        # the env var exists to prevent (ADVICE r9)
        sys.exit(f"SPARK_GRAFT_ROUND must be a positive integer, got {env_round!r}")

    from bigdata_rags_spark.queries.catalog import REGISTRY
    from bigdata_rags_spark.session import get_session

    spark = get_session(
        "bigdata-rags-spark-bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: touch every table once (file listing, footer cache, codegen,
    # executor spin-up) so per-query times measure steady-state throughput
    for tbl in (
        "region nation customer supplier part orders lineitem documents embeddings"
    ).split():
        spark.read.parquet(f"{SF_DIR}/{tbl}.parquet").count()

    def clear_persisted() -> None:
        # iterative ops (connected components) localCheckpoint their loop
        # state; those cached RDDs outlive the query and pile storage-memory
        # pressure onto every LATER measurement — drop them between queries
        # so each timing sees the same clean executor state.  The JVM GC
        # nudge lets ContextCleaner reap dereferenced shuffle files/broadcasts
        # between queries instead of letting them accumulate across the run
        # (VERDICT r5 #1: shuffle-file/GC pressure polluted later timings).
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()

    def run_query(name: str) -> float:
        spec = REGISTRY[name]
        t0 = time.perf_counter()
        spec.spark(spark, SF_DIR).write.mode("overwrite").format("noop").save()
        dt = round(time.perf_counter() - t0, 3)
        clear_persisted()
        return dt

    def run_pass(names: list[str]) -> dict[str, float]:
        return {name: run_query(name) for name in names}

    # Measurement isolation (VERDICT r5 #1): the round-over-round shared-13
    # subtotal is measured in its OWN cold+warm phase before any heavyweight
    # LLM-tier query runs, so its warm numbers never absorb run-level
    # pressure (shuffle files, GC, codegen cache) from the growing headline
    # set.  The remaining queries get the same cold/warm treatment after.
    # Pass 1 of each phase = cold (includes codegen/JIT of each query
    # shape), pass 2 = warm steady-state; the headline value stays the
    # conservative cold total.
    rest = [n for n in HEADLINE if n not in SHARED_R1]
    times = run_pass(SHARED_R1)
    # Warm = MEDIAN of 3 passes, with min/max reported (VERDICT r6 #6):
    # SCALE.md's variance study measured ±35% run-to-run spread on identical
    # code from host capacity alone, so a single warm number invites false
    # alarms — the spread makes the noise band visible in every BENCH_r{N}.
    warm_passes = [run_pass(SHARED_R1) for _ in range(3)]
    warm_totals = sorted(round(sum(p.values()), 3) for p in warm_passes)
    warm = warm_passes[
        [round(sum(p.values()), 3) for p in warm_passes].index(warm_totals[1])
    ]

    # Per-query warm MEDIANS (VERDICT r10 #7): single warm samples made the
    # heavy tail's round-over-round comparison unreadable under the ±35%
    # host-noise band (SCALE.md).  The shared-13 medians come free from the
    # 3 warm passes above.  Comparison rule (SCALE.md "Bench measurement
    # variance"): compare rounds per-query ONLY through queries_warm_med;
    # everything else is subtotal-level.
    warm_med = {n: sorted(p[n] for p in warm_passes)[1] for n in SHARED_R1}
    # WATCH set (VERDICT r12 #7): three small queries showed >1.5x single-
    # observation upticks in r12 that could not be adjudicated because they
    # fell outside the median set; pin them into the median-of-3 treatment
    # so noise vs regression is decidable from the artifacts.
    watch = (
        "multimodal_png_resize_features",
        "events_hourly_value_percentiles",
        "multimodal_wav_features",
    )
    # Recent-round additions (r14 onward) join the median set too (VERDICT
    # r14 #8): next round's per-query comparisons then start from medians
    # instead of single warm samples for every query newer than the r13
    # baseline window.
    recent = set(HEADLINE[HEADLINE.index("rm3_expansion_search"):])
    # MEDIAN-TAIL PROTOCOL FIX (r17, VERDICT r16 #2 — measurement-only
    # change, fields unchanged): the median re-passes for the heavy set
    # used to run in ONE block at the END of the ~190-query process, where
    # accumulated JVM/metastore state inflated every sample ~2-5x on a
    # loaded host (measured r16: lsh_bucket_skew_preflight 22.6 s in-bench
    # at position ~190 vs 4.0 s warm in a fresh serialized process) —
    # making BENCH_DETAIL medians incomparable across rounds.  Now each
    # rest-tier query runs cold -> warm -> (if median-eligible) 2 extra
    # passes IMMEDIATELY, so all three median samples see the same process
    # state as the query's own warm pass.  Eligibility per VERDICT r15 #5:
    # warm >= 4 s, the WATCH set, every recent addition — plus a top-10-by-
    # warm supplement after the loop for sub-4 s queries that turn out to
    # lead the tier (cheap by construction, so tail position moves them
    # little).
    heavy: list[str] = []
    for name in rest:
        times[name] = run_query(name)
        warm[name] = run_query(name)
        if name in watch or name in recent or warm[name] >= 4.0:
            heavy.append(name)
            warm_med[name] = sorted(
                [warm[name], run_query(name), run_query(name)]
            )[1]
    for name in sorted(rest, key=lambda n: warm[n], reverse=True)[:10]:
        if name not in warm_med:
            heavy.append(name)
            warm_med[name] = sorted(
                [warm[name], run_query(name), run_query(name)]
            )[1]

    def ivfpq_phase_timings() -> dict[str, float]:
        # VERDICT r11 #7: the index-family headline numbers conflate one-time
        # build/write floors with the serve path, hiding serve regressions.
        # Measure each lifecycle phase separately on ONE shared index:
        # build/append/delete/compact are one-time table writes (compare each
        # only to itself round-over-round), serve/stats/tuning are the
        # steady-state paths (serve gets a 3-pass median like the shared-13).
        from pyspark.sql import functions as F

        from bigdata_rags_spark.io.bucketing import drop_managed_table
        from bigdata_rags_spark.io.readers import read_testdata
        from bigdata_rags_spark.io.tablesets import staging_name
        from bigdata_rags_spark.similarity.pq import (
            append_ivfpq_index,
            build_ivfpq_index,
            compact_ivfpq_index,
            delete_from_ivfpq_index,
            ivfpq_index_serve,
            ivfpq_index_stats,
            ivfpq_tuning_report,
        )

        prefix = "bench_ivfpq_phase"
        live = [f"{prefix}_{s}" for s in ("codes", "vectors", "meta", "tombstones")]
        tables = live + [staging_name(t) for t in live]
        for t in tables:
            drop_managed_table(spark, t)
        e = read_testdata(spark, SF_DIR, "embeddings")["embeddings"]
        q = e.filter(F.col("vec_id") < 5)
        phases: dict[str, float] = {}

        def timed(key: str, fn) -> None:
            t0 = time.perf_counter()
            fn()
            phases[key] = round(time.perf_counter() - t0, 3)
            clear_persisted()

        def noop(df) -> None:
            df.write.mode("overwrite").format("noop").save()

        timed(
            "build",
            lambda: build_ivfpq_index(
                e.filter(F.col("vec_id") % 3 != 0), table_prefix=prefix
            ),
        )
        serve = lambda: noop(  # noqa: E731
            ivfpq_index_serve(q, k=5, table_prefix=prefix, n_probe=4, shortlist=50)
        )
        s_times = []
        for _ in range(3):
            t0 = time.perf_counter()
            serve()
            s_times.append(round(time.perf_counter() - t0, 3))
            clear_persisted()
        phases["serve_med"] = sorted(s_times)[1]
        timed(
            "append",
            lambda: append_ivfpq_index(
                e.filter(F.col("vec_id") % 3 == 0), table_prefix=prefix
            ),
        )
        timed(
            "delete",
            lambda: delete_from_ivfpq_index(
                e.filter(F.col("vec_id") % 5 == 0).select("vec_id"),
                table_prefix=prefix,
            ),
        )
        timed("serve_post_mutations", serve)
        timed("compact", lambda: compact_ivfpq_index(spark, table_prefix=prefix))
        timed("stats", lambda: noop(ivfpq_index_stats(spark, table_prefix=prefix)))
        timed(
            "tuning",
            lambda: noop(ivfpq_tuning_report(q, k=5, table_prefix=prefix)),
        )
        for t in tables:
            drop_managed_table(spark, t)
        return phases

    ivfpq_phases = ivfpq_phase_timings()

    def tier_totals(ts: dict[str, float]) -> dict[str, float]:
        by: dict[str, float] = {}
        for name, t in ts.items():
            tier = REGISTRY[name].tier
            by[tier] = round(by.get(tier, 0.0) + t, 3)
        return by

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    # The driver captures only the tail of stdout, and ~80 per-query entries
    # overflow it — every BENCH_r{N}.json through r7 recorded parsed: null
    # (VERDICT r7 #8).  Full detail goes to a file; the PRINTED line stays
    # compact (summary + shared-13 stats) so the driver can parse it.
    # Round resolution (ADVICE r8): explicit SPARK_GRAFT_ROUND wins; else the
    # driver writes CORRECTNESS_r{N} BEFORE bench, so a newer correctness file
    # than any bench file names the in-flight round; else next-after-max-bench.
    # (A rerun after the driver wrote BOTH r{N} files still needs the env var.)
    # A run at another core count than the default is its own series
    # (BENCH_r{N}_c{cores}.json): its round counts only that series' bench
    # files, and its detail file carries the same suffix.
    cores = "" if CPUS == DEFAULT_CPUS else f"_c{CPUS}"

    def _max_round(prefix: str, suffix: str = "") -> int:
        return max(
            (
                int(m.group(1))
                for f in os.listdir(os.path.dirname(os.path.abspath(__file__)))
                if (m := re.fullmatch(rf"{prefix}(\d+){suffix}\.json", f))
            ),
            default=0,
        )

    max_bench = _max_round("BENCH_r", cores)
    max_corr = _max_round("CORRECTNESS_r")
    round_no = (
        int(env_round)
        if env_round
        else (max_corr if max_corr > max_bench else 1 + max_bench)
    )
    summary = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "value_warm": round(sum(warm.values()), 3),
        "n_queries": len(times),
        "queries_by_tier": tier_totals(times),
        "queries_by_tier_warm": tier_totals(warm),
        "shared_r1_sec": round(sum(times[n] for n in SHARED_R1), 3),
        "shared_r1_warm_sec": round(sum(warm[n] for n in SHARED_R1), 3),
        "shared_r1_warm_med": warm_totals[1],
        "shared_r1_warm_min": warm_totals[0],
        "shared_r1_warm_max": warm_totals[2],
        "sf": sf_val,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        f"BENCH_DETAIL_r{round_no}{cores}.json",
    )
    with open(detail_path, "w") as fh:
        json.dump(
            {
                **summary,
                "queries": times,
                "queries_warm": warm,
                "queries_warm_med": warm_med,
                "heavy_top10": heavy,
                "ivfpq_phases": ivfpq_phases,
            },
            fh,
            indent=1,
        )
    summary["detail_file"] = os.path.basename(detail_path)
    summary["queries_warm_med"] = warm_med
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
