"""The declared query surface (SURVEY.md §2.3) — driver-gradable.

Each registered query is a pair: a Spark implementation (DataFrame API,
Catalyst-optimized) and an equivalent ANSI-SQL oracle string DuckDB runs
on the same parquet tables. The grading driver compares row count,
schema, and an order-insensitive value hash at sf0.01 — so every
computed column is aliased identically on both sides, and floating-point
aggregation is routed through exact decimal arithmetic with a final
IEEE-double cast (identical bits on both engines) rather than raw double
sums (whose accumulation order differs).

Registry modules:
- ``dedupe_index``  — DQ1-DQ12: the reference's index queries, expressed
  over a SQL-derivable chunk index of the ``documents`` table
- ``relational``    — DQ13-DQ20: joins/aggs/windows/setops/scalar fns
- ``events``        — event-time windows (tumbling/sliding/session) and
  dedup — batch equivalents of the streaming module
- ``llm_pipeline``  — exact/near dedup, text analysis, similarity search
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None => not SQL-expressible; driver does rows-only
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        _REGISTRY[name] = QuerySpec(name=name, spark=fn, oracle=oracle, doc=doc)
        return fn

    return deco


# The grading driver checks the FIRST 50 registered queries against the
# DuckDB oracle each round. Round 1 graded slots 0-49 (39 green, 11
# no_oracle, 0 wrong); round 2 rotated the relational/TPC-H/window/
# set-op/events surface in (50/50 green). Round 3 rotates in the last
# never-driver-graded oracled queries (all pass tools/check.py locally)
# plus the 11 formerly-no_oracle entries that since gained real oracles,
# so every oracled query in the registry has a driver-graded row across
# rounds. Ordering contract (public API): names listed here come first
# (in this order), then every other oracled query in registration
# order, then rows-only queries last — a graded slot must never be
# burned on `no_oracle`. ``all_queries()`` asserts every listed name
# exists, so a rename fails loudly instead of silently dropping a query
# out of the window.
_GRADING_PRIORITY = [
    # r12 window — standing rotation: new-this-round first, then
    # change-risk, then the LONGEST-UNGRADED oracled queries. This
    # round tier 3 is the ENTIRE r4/r5-stale cohort (42 queries whose
    # last driver grade is six+ rounds old — the round-11 verdict's #1
    # item); after this window no registry query's last driver grade
    # is older than round 6.
    #
    # Tier 1 — BUILT IN ROUND 12 (4): incremental optimize()
    # (store.compact_parts folds only the parts appended since the
    # last clustering pass; baseline part survives by path, zero-IO
    # no-op when fully clustered), the consistent-scrub retention
    # contract (optimize() records a consistency point; expired-ledger
    # scrubs raise one remediation error and heal on the next op),
    # explicit orphan-part vacuum (grace + retention protections), and
    # per-part Bloom sidecars on the hash-keyed tables (session-3:
    # membership pruning where spans can't prune; this row also drives
    # the restructured store.read_point end-to-end on both hash- and
    # span-keyed tables, so it doubles as that change's risk row —
    # window_rank_lag yields its slot and rolls to the r13 rotation).
    "engine_optimize_incremental", "engine_verify_consistent_retention",
    "engine_vacuum_orphans", "engine_bloom_prune",
    # Tier 2 — change risk (5): optimize() was rewritten onto
    # compact_parts and records checkpoints (clustering + multibatch
    # consumers re-grade), verify(consistent=True) gained the
    # retention fallback (live-race rows re-grade, now handshake-paced),
    # shard_range error bounds changed (shard scrub row), and
    # clone(at=) fails loudly without a max_id high-water (PITR row;
    # engine_restore_inplace sat here too but yielded its slot — its
    # code is untouched this round and its last driver grade is r11).
    "engine_optimize_clustering", "engine_verify_consistent_live",
    "engine_verify_consistent_live_sqlite", "engine_verify_shards",
    "engine_pitr_clone",
    # Tier 3 — the full r4/r5-stale cohort (42), oldest first:
    "events_session_streamed", "multimodal_wav_roundtrip",
    "cdc_chunk_index", "ddp_gc_candidates", "ddp_object_map_lookup",
    "ddp_ratio", "ddp_refcount", "ddp_stats", "docs_dup_clusters",
    "docs_dup_spans", "docs_dup_weighting", "docs_exact_dedup",
    "docs_incremental_dedup", "docs_jaccard_pairs",
    "docs_minhash_accuracy", "docs_minhash_pairs", "docs_pack_sequences",
    "docs_strip_dup_spans", "docs_token_budget_mix", "docs_winnowing",
    "docs_winnowing_pairs", "emb_ann_recall_ivfpq", "emb_ann_topk_ivf",
    "emb_ann_topk_ivfpq", "emb_ann_topk_ivfpq_refined",
    "emb_ann_topk_lsh", "emb_ann_topk_pq", "emb_cosine_topk_float",
    "emb_dim_stats", "emb_knn_cosine", "emb_knn_cosine_np",
    "emb_semantic_dedup", "events_interval_join_streamed",
    "events_session", "events_tumbling_streamed",
    "events_user_totals_streamed", "setops_multiset", "tpch_q1_pricing",
    "tpch_q21_waiting_supplier", "tpch_q3_topk", "tpch_q6_revenue",
    # window_rank_lag was the 50th slot; it yielded to engine_bloom_prune
    # (sweep-green every round; first in line for the r13 rotation)
    #
    # r11 window — standing rotation: new-this-round first, then
    # change-risk, then the LONGEST-UNGRADED oracled queries (ranked by
    # last CORRECTNESS_r{N} appearance: the r3 cohort last saw a driver
    # row 8 rounds ago, then the r4 cohort).
    #
    # Tier 1 — BUILT IN ROUND 11 (3): verify(consistent=True) under a
    # REAL cross-process racing writer on both backends (a second Spark
    # process ingests four batches while the parent scrubs pinned to
    # the ledger cut; zero violations mid-stream, pinned counts equal
    # batch-prefix closed forms, planted-tear default/consistent
    # contrast), plus the range-clustered optimize() layout contract
    # (disjoint file spans, shard-predicate pushdown, exact 4-shard
    # partition, byte-identical reads through the rewrite).
    "engine_verify_consistent_live", "engine_verify_consistent_live_sqlite",
    "engine_optimize_clustering",
    # Tier 2 — change risk (7): restore() gained the all-or-nothing
    # expired-point admission check, recover() now checkpoints on
    # commits (stale-refcount repair), clone(at=) carries the meta
    # high-water, verify(shards=) validates index types, and
    # max_cosine_vs_set's reference collect is capped — so the DR/scrub
    # scenario queries and the decontamination consumer re-grade.
    "engine_restore_inplace", "engine_pitr_clone", "engine_clone_roundtrip",
    "engine_recover_roundtrip", "engine_verify_shards",
    "engine_verify_incremental", "emb_decontaminate",
    # Tier 3 — longest-ungraded rotation: the full r3 cohort (11, last
    # driver row 8 rounds ago), then the r4 cohort (the window cuts at
    # 50, so the tail — multimodal_wav_roundtrip,
    # events_session_streamed — rolls to next round).
    "docs_stratified_sample", "docs_token_freq_cms",
    "docs_top_quality_per_source", "events_cohort_retention",
    "events_daily_locf", "events_distinct_users_salted",
    "events_funnel_conversion", "events_json_props", "events_user_zscore",
    "grouping_sets_orders", "unpivot_part_measures",
    "docs_boundary_overlap", "docs_bpe_merge_round", "docs_bpe_pair_scores",
    "docs_canonical_per_cluster", "docs_curation_funnel",
    "docs_dedup_threshold_sweep", "docs_dsir_weights",
    "docs_dup_clusters_star", "docs_dup_gram_ratio",
    "docs_dup_rate_estimate", "docs_heavy_hitters", "docs_hybrid_rrf",
    "docs_leakage_safe_split", "docs_lm_quality",
    "docs_near_dup_filter_replay", "docs_ngram_novelty",
    "docs_passage_chunks", "docs_rendezvous_reshard", "docs_simhash",
    "docs_simhash_candidates", "docs_snapshot_diff", "emb_ann_recall_audit",
    "emb_ann_topk_lsh_mp", "emb_kmeans_refined_assign", "emb_near_dup_pairs",
    "events_series_knn", "events_user_hll_by_type",
    "multimodal_frame_sample", "multimodal_png_roundtrip",
    "multimodal_wav_roundtrip",
    #
    # r10 window — standing rotation: new-this-round first, then
    # change-risk, then the LONGEST-UNGRADED oracled queries (ranked by
    # last CORRECTNESS_r{N} appearance — the round-2 relational/TPC-H
    # block has not had a driver row in 8 rounds, the oldest cohort in
    # the registry).
    #
    # Tier 1 — BUILT IN ROUND 10 (2): the cross-process write-vs-delete
    # race on both store backends (a second Spark process cascading-
    # deletes the even half while the parent re-ingests the same shared
    # content under new keys; merged state vs the serial closed forms).
    "engine_concurrent_write_delete", "engine_concurrent_write_delete_sqlite",
    # ... plus the scoped-scrub pair (session 2): the rolling shard
    # partition contract and the incremental append-diff scope, each
    # with planted-fault closed forms.
    "engine_verify_shards", "engine_verify_incremental",
    # ... and the cross-backend consistent-clone roundtrip (backup/DR
    # verb: lock-pinned snapshots, copy outside the lock, graded via
    # the full invariant table on the OTHER backend).
    "engine_clone_roundtrip",
    # ... and point-in-time restore over the new consistency-point
    # ledger (clone(at=seq): restores a pre-delete state, graded
    # against the first-two-batches closed form).
    "engine_pitr_clone",
    # ... and the in-place metadata-only rollback (restore(at=seq):
    # one catalog flip, no payload movement; same closed form as
    # the PITR clone because restore IS clone-onto-self minus the copy).
    "engine_restore_inplace",
    # Tier 2 — change risk (4): the quality pair gained the empty-text
    # exclusion (NULL-bucket ordering divergence), the integrity scan
    # went null-safe (NULL payloads now flagged + canonicalized), and
    # the segmented chunker's position-restore broadcast is now
    # count-confirmed before being forced.
    "docs_quality_auc", "docs_quality_pr_curve", "engine_integrity_scan",
    "cdc_chunk_index_segmented",
    # Tier 3 — longest-ungraded rotation (44): the full round-2 block
    # (31 — last driver row 8 rounds ago), then the oldest round-3
    # names (13).
    "cube_orders_status_year", "date_funcs", "distinct_agg",
    "events_sessionize_gap", "events_trailing_window", "hash_funcs",
    "join_full_outer_nation_counts", "listagg_nation_brands",
    "percentile_agg", "pivot_segment_year", "regexp_extract_parts",
    "scalar_funcs", "stats_corr_qty_price", "tpch_q10_returns",
    "tpch_q11_important_stock", "tpch_q12_priority_class",
    "tpch_q13_order_count_distribution", "tpch_q14_promo",
    "tpch_q15_top_supplier", "tpch_q16_supplier_part_counts",
    "tpch_q17_small_qty", "tpch_q18_big_orders", "tpch_q19_disjunctive",
    "tpch_q20_part_movers", "tpch_q22_idle_rich",
    "tpch_q2_min_cost_supplier", "tpch_q4_priority",
    "tpch_q7_nation_volume", "tpch_q8_market_share",
    "tpch_q9_profit_by_nation", "window_rank_family",
    "approx_distinct_parts", "approx_percentile_qty",
    "bloom_semi_revenue", "docs_bm25_lite", "docs_dup_graph_stats",
    "docs_entity_mask", "docs_length_histogram", "docs_lsh_levenshtein",
    "docs_stratified_sample", "docs_token_freq_cms",
    "docs_top_quality_per_source", "events_cohort_retention",
    "events_daily_locf",
    #
    # r9 window — standing rotation: new-this-round first, then
    # change-risk, then the LONGEST-UNGRADED oracled queries (ranked by
    # last CORRECTNESS_r{N} appearance: the r1/r2-graded tier has not
    # had a driver row in 7+ rounds).
    #
    # Tier 1 — BUILT IN ROUND 9 (4): cross-process multi-writer CAS as
    # a graded row on both store backends (two real Spark processes
    # ingest one index concurrently; merged state vs the serial
    # closed forms), and the quality-filter validation pair — exact
    # per-language ROC-AUC against dup labels plus the
    # precision/recall threshold sweep (both bounded-bucket
    # Mann-Whitney machinery — no global sort).
    "engine_concurrent_writers", "engine_concurrent_writers_sqlite",
    "docs_quality_auc", "docs_quality_pr_curve", "engine_integrity_scan",
    "engine_stats_history",
    # Tier 2 — change risk (16): the segmented chunker was rewritten
    # again (AQE rebalance frame shuffle, bounded Arrow flush,
    # thresholded position-restore broadcast); store.read_point gained
    # the bisect span test + hash-keyed skip and list_objects the true
    # prefix-successor bound; get_chunks/get_batch lost their driver
    # collects — so every consumer of the point-read/listing path and
    # the engine lifecycle scenarios re-grade.
    "cdc_chunk_index_segmented", "engine_point_reads",
    "ddp_list_page", "ddp_chunks_of_object", "ddp_exists",
    "ddp_point_lookup", "ddp_range_lookup", "ddp_position_window",
    "engine_write_roundtrip", "engine_write_roundtrip_sqlite",
    "engine_replace_roundtrip", "engine_recover_roundtrip",
    "engine_multibatch_roundtrip", "engine_incremental_objects",
    "engine_crash_matrix", "engine_crash_matrix_sqlite",
    # Tier 3 — longest-ungraded rotation (32): the 18 queries whose
    # only driver row is from ROUND 1, then the oldest round-2 block.
    "docs_norm_dedup", "docs_token_count", "docs_quality", "docs_langid",
    "docs_fingerprint", "emb_ann_buckets", "docs_pipeline_filter",
    "docs_repetition_ratio", "docs_cross_source_overlap", "docs_top_ngrams",
    "docs_mixture_sample", "docs_hash_topk_sample", "docs_length_curriculum",
    "events_variant_props", "events_transition_matrix", "docs_profile",
    "dq_expectations", "events_mad_outliers",
    "events_tumbling", "events_sliding", "events_dedupe_first",
    "docs_shard_manifest", "tpch_q5_region_revenue", "join_semi_anti",
    "join_left_agg", "topk_orders", "setops_nations", "rollup_orders",
    "distinct_agg", "scalar_funcs", "hash_funcs", "date_funcs",
    #
    # r8 window — standing rotation: new-this-round first, then
    # change-risk, then the last never-driver-graded stragglers (after
    # this window every registered query has had a driver-graded row).
    #
    # Tier 1 — BUILT IN ROUND 8 (3): the point-read loop over a
    # three-part store grading manifest min/max data skipping;
    # session 2: paragraph-level (CCNet) dedup and embedding-space
    # eval-set decontamination.
    "engine_point_reads", "docs_paragraph_dedup", "docs_strip_paragraphs",
    "emb_decontaminate",
    # Tier 2 — change risk (20): the 11 shuffle-hash pins from the
    # no-corpus-broadcast audit (plans changed; results must not),
    # the two plans rewritten by the single-partition funnel audit
    # (vocab rank -> two-phase prefix scan; watermark lateness ->
    # fixed block count; the other two funnel fixes are already in
    # this window), the segmented chunker (frame stage rewritten:
    # explode offsets then substring; graded query now releases the
    # payload cache), and every engine lifecycle scenario (point reads
    # now resolve through pruned store reads; get/get_range are
    # two-phase IN-list).
    "docs_vocab_coverage_curve", "events_watermark_lateness",
    "docs_cluster_repair", "docs_cluster_density_audit",
    "docs_dup_ratio_by_source", "docs_dedup_impact_audit",
    "docs_dup_graph_pagerank", "docs_decontaminate",
    "docs_token_chi2_drift", "docs_length_ks_drift", "ddp_coverage",
    "cdc_chunk_index_segmented",
    "engine_write_roundtrip", "engine_write_roundtrip_sqlite",
    "engine_replace_roundtrip", "engine_recover_roundtrip",
    "engine_multibatch_roundtrip", "engine_incremental_objects",
    "engine_crash_matrix", "engine_crash_matrix_sqlite",
    # Tier 3 — the 7 never-driver-graded stragglers (r7 overflow; after
    # these, full driver coverage):
    "docs_vocab_growth_curve", "emb_lsh_capacity_plan",
    "lineitem_equidepth_histogram", "events_bot_screen",
    "part_trigram_like_search", "lineitem_cramers_v",
    "docs_quality_buckets",
    #
    # r7 window (now pads, all re-graded green in CORRECTNESS_r07):
    #
    # Tier 1 — BUILT IN ROUND 7 (3): the 4-point crash matrix on both
    # store backends (one catalog flip per composite op) and the
    # cluster-repair operator (exact-Jaccard re-verify + split of
    # chain-risk clusters).
    "engine_crash_matrix", "engine_crash_matrix_sqlite",
    "docs_cluster_repair",
    # Tier 2 — change risk (11): every engine lifecycle scenario
    # re-grades because the commit path changed this round (objects
    # staged concurrently, manifest flip last); the two advisor-fixed
    # queries (bloom FPR per-distinct-h, weighted-sample zero guard);
    # the plane-adaptive mutual-kNN oracle; the fused one-scan as-of
    # join; and the segmented chunker whose position restore was
    # rewritten (broadcast count-prefix instead of a payload window).
    "engine_write_roundtrip", "engine_write_roundtrip_sqlite",
    "engine_replace_roundtrip", "engine_recover_roundtrip",
    "engine_multibatch_roundtrip", "engine_incremental_objects",
    "docs_bloom_fpr_audit", "docs_weighted_sample",
    "emb_mutual_knn_pairs", "events_asof_view_click",
    "cdc_chunk_index_segmented",
    # Tier 3 — never-driver-graded round-6 backlog (36): the r6 list's
    # slot-51+ overflow plus the session-2 additions, oldest first.
    "emb_opq_distortion", "docs_lsh_precision_recall", "emb_pq_adc_sdc",
    "orders_abc_analysis", "events_burst_hours", "events_activity_streaks",
    "docs_text_vs_embedding_dedup", "docs_langid_confusion",
    "docs_vocab_coverage_curve", "docs_mixture_diversity",
    "emb_vector_quality", "docs_dedup_impact_audit", "docs_length_ks_drift",
    "lineitem_price_regression", "emb_silhouette", "events_pit_features",
    "events_ewma_anomaly", "events_cusum_shift", "events_autocorr_daily",
    "events_chi2_assoc", "events_gini_concentration",
    "events_attribution_ushape", "events_top_paths", "events_scd2_lookup",
    "events_interval_left_join_streamed", "orders_inflight_by_day",
    "lineitem_weighted_median_price", "docs_gopher_rules_audit",
    "docs_token_chi2_drift", "docs_compaction_plan",
    "docs_boilerplate_prefixes", "docs_dup_graph_pagerank",
    "multimodal_scene_cuts", "orders_cohort_ltv_curve",
    "events_pchart_error_rate", "events_interarrival_burstiness",
    # (end of the r7 50-slot window; the still-ungraded remainder —
    # docs_vocab_growth_curve, emb_lsh_capacity_plan,
    # docs_cluster_density_audit, lineitem_equidepth_histogram,
    # events_bot_screen, part_trigram_like_search, lineitem_cramers_v —
    # sits immediately below and is covered by the committed
    # CHECK_r07.json full-registry sweep.)
    "docs_vocab_growth_curve", "emb_lsh_capacity_plan",
    "docs_cluster_density_audit", "lineitem_equidepth_histogram",
    "events_bot_screen", "part_trigram_like_search", "lineitem_cramers_v",
    #
    # r6 window (now pads, all re-graded green in CORRECTNESS_r06):
    #
    # Tier 1 — BUILT IN ROUND 6, never driver-graded (12): the engine
    # write->CAS->read-back loop on both store backends plus the
    # replace-cascade, crash-repair, multi-batch-append+optimize, and
    # time-travel-incremental scenarios; incremental ANN append parity;
    # the RocksDB-provider streamed replay; the two multimodal queries
    # that graduated from rows-only to full SQL oracles (closed-form
    # payload features); and the two new curation ops (hashed-linear
    # classifier inference, data-constrained repetition schedule).
    "engine_write_roundtrip", "engine_write_roundtrip_sqlite",
    "engine_replace_roundtrip", "engine_recover_roundtrip",
    "engine_multibatch_roundtrip", "engine_incremental_objects",
    "emb_ann_append_parity", "events_tumbling_streamed_rocksdb",
    "multimodal_image_features", "multimodal_feature_near_dups",
    "docs_hashed_linear_score", "docs_repetition_schedule",
    # ... plus the round-6 infrastructure grades: the Z-order Morton
    # curve, the custom Python Data Source connector, and the SQL UDTF
    "zorder_morton_codes", "blobgen_source_audit", "udtf_chunk_spans",
    # ... and the round-6 late additions: asymmetric containment dedup,
    # TF-IDF keyword extraction, and the single-pass CollectMetrics
    # funnel (df.observe) — never driver-graded.
    "docs_shingle_containment", "docs_tfidf_topk", "docs_observed_funnel",
    # ... and the corpus-level estimators: MinHash source-pair overlap
    # (with its exact audit arm) and the quantized cluster-centroid
    # cosine matrix — never driver-graded.
    "docs_source_overlap_minhash", "emb_label_centroid_sim",
    "emb_matryoshka_recall",
    # ... and the round-6 diagnostics batch: IVF list-balance audit,
    # top-PC power iteration, watermark-lateness profile, and the
    # dup-size/token-count correlation — never driver-graded.
    "emb_ivf_balance_audit", "emb_top_pc_power",
    "events_watermark_lateness", "docs_quality_dup_corr",
    "emb_ivf_probe_sweep",
    # ... the JL-sketch recall audit, the vocab-coverage audit, and the
    # partition-pruned persisted-IVF probe
    "emb_jl_recall", "docs_oov_rate", "emb_ann_partitioned_probe",
    # ... and the sliding-window streamed replay (completes the
    # streamed window-shape matrix) plus the LSH-bucket label-impurity
    # screen
    "events_sliding_streamed", "emb_label_impurity",
    # ... collocation mining, last-touch attribution, and the PQ
    # distortion audit (completes the ANN diagnostics trio)
    "docs_collocation_lift", "events_attribution", "emb_pq_distortion",
    # ... and the int8 scalar-quantization recall audit (the 4x
    # no-codebook compression arm of the storage/recall frontier)
    # plus contrastive hard-negative mining (top-k different-label
    # neighbors per anchor — the selection step of retrieval training)
    "emb_sq8_recall", "emb_hard_negatives",
    # ... and the per-(lang, source) tokenizer-fertility audit (the
    # cross-language fairness table behind token-budgeted mixtures)
    # plus rolling-distinct DAU/WAU/stickiness (COUNT DISTINCT over a
    # RANGE frame via the bounded-explode decomposition)
    "docs_token_fertility", "events_dau_wau",
    # ... and exact-k size-biased sequential Poisson sampling (priority
    # = md5-uniform // weight, k smallest — permanent random numbers)
    # plus the SCD Type-2 interval build (change compression -> LEAD
    # validity stitching, one per-user shuffle)
    "docs_weighted_sample", "events_scd2_intervals",
    # ... and per-source quality-score rank calibration (quantile
    # normalization before any cross-source threshold) plus the
    # (dow, hour) seasonal-baseline 3-sigma anomaly profile
    "docs_quality_calibration", "events_seasonal_anomaly",
    # ... and the streamed dropDuplicates replay (cross-micro-batch
    # key suppression — the fourth stateful streaming operator family)
    "events_dedupe_streamed",
    # ... and RFM quintile segmentation (percentile_disc thresholds
    # broadcast back — quantile bucketing without a global ntile sort)
    # plus market-basket support/confidence/lift (order-keyed bounded
    # pair fan-out, never all-pairs over the catalog)
    "orders_rfm_segments", "lineitem_market_basket",
    # ... and the sort-based skyline (Pareto dominance via two window
    # specs — never the quadratic dominance self-join) plus the b-bit
    # MinHash estimator audit (1/32 sketch bytes, collision-corrected)
    "part_skyline_by_brand", "docs_minhash_bbit",
    # ... and the SimHash Hamming-vs-exact-Jaccard calibration audit
    # (completes the sketch-audit family) plus the sample-domain audio
    # feature path (closed-form square-wave oracle)
    "docs_simhash_accuracy", "multimodal_audio_features",
    # ... and the conversion-latency percentile row (the funnel's time
    # axis via conditional MINs + a 1-row percentile_disc reduce) plus
    # the OPQ-lite energy-balanced permutation distortion audit
    "events_conversion_latency", "emb_opq_distortion",
    # ... and the LSH end-to-end precision/recall audit (retrieval
    # quality of the banded candidates vs exact ground truth) plus the
    # ADC-vs-SDC PQ scoring-mode recall comparison
    "docs_lsh_precision_recall", "emb_pq_adc_sdc",
    # ... and the ABC/Pareto revenue-concentration table (decile
    # bucketing via broadcast percentile thresholds, window over 10 rows)
    # plus trailing-baseline burst detection over the hourly rollup
    "orders_abc_analysis", "events_burst_hours",
    # ... and gaps-and-islands consecutive-day streaks per user plus
    # the cross-modality (text-vs-embedding) dedup agreement audit
    "events_activity_streaks", "docs_text_vs_embedding_dedup",
    # ... and the relational Bloom-filter FPR audit (observed vs
    # fill-ratio^k, zero-false-negative guarantee graded) plus the
    # language-ID confusion matrix (classifier vs corpus labels)
    "docs_bloom_fpr_audit", "docs_langid_confusion",
    # ... and the vocabulary coverage curve (token mass per vocab cut)
    # plus the Simpson mixture-diversity monitor and the pre-ANN
    # embedding vector-quality screen
    "docs_vocab_coverage_curve", "docs_mixture_diversity",
    "emb_vector_quality",
    # ... and the dedup survivorship audit (kept-vs-dropped mass per
    # source — the post-dedup mixture-correction input) plus the
    # integer-exact per-source KS drift test
    "docs_dedup_impact_audit", "docs_length_ks_drift",
    # ... and grouped OLS from exact decimal moments (per-brand
    # price~quantity slope/intercept/r^2)
    "lineitem_price_regression",
    # NOTE (r6 close): the never-driver-graded round-6 backlog now
    # exceeds the 50-slot window — everything from emb_opq_distortion
    # down sits at slot 51+ and is verified this round by the committed
    # 226/226 full-registry sweep (CHECK_r06.json); these overflow
    # entries are the r7 window's natural Tier 1 — together with the
    # 25 session-2 additions (emb_mutual_knn_pairs, emb_silhouette,
    # events_pit_features, events_ewma_anomaly, events_cusum_shift,
    # events_autocorr_daily, events_chi2_assoc, events_gini_concentration,
    # events_attribution_ushape, events_top_paths, events_scd2_lookup,
    # events_interval_left_join_streamed, orders_inflight_by_day,
    # lineitem_weighted_median_price, docs_gopher_rules_audit,
    # docs_token_chi2_drift, docs_compaction_plan,
    # docs_boilerplate_prefixes, docs_dup_graph_pagerank,
    # multimodal_scene_cuts, orders_cohort_ltv_curve,
    # events_pchart_error_rate, events_interarrival_burstiness,
    # docs_vocab_growth_curve, emb_lsh_capacity_plan), all registered
    # after this list and all verified by the committed full-registry
    # sweep this round.
    # Tier 2 — change risk (2): the split-file staging used by the
    # multi-micro-batch replays gained a flock around its evict-and-
    # retry path this round (queries/events.py), so both its consumers
    # re-grade.
    "events_user_totals_streamed", "docs_near_dup_filter_replay",
    # Tier 3 — least-recently-graded (33): the r3/r4 window members and
    # r1/r2-era canaries that sat in the pad tier through r5.
    "events_session_streamed", "emb_near_dup_pairs",
    "docs_curation_funnel", "events_series_knn",
    "docs_heavy_hitters", "docs_lm_quality",
    "docs_simhash", "docs_simhash_candidates",
    "emb_kmeans_refined_assign", "multimodal_png_roundtrip",
    "docs_passage_chunks", "docs_leakage_safe_split",
    "docs_canonical_per_cluster", "docs_boundary_overlap",
    "docs_dup_gram_ratio",
    "multimodal_wav_roundtrip", "multimodal_frame_sample",
    "docs_dsir_weights", "docs_snapshot_diff",
    "docs_hybrid_rrf", "docs_quality_buckets", "docs_bpe_pair_scores",
    "docs_dedup_threshold_sweep", "emb_ann_recall_audit",
    "docs_bpe_merge_round", "docs_ngram_novelty",
    "docs_dup_clusters_star", "docs_dup_ratio_by_source",
    "docs_rendezvous_reshard", "docs_dup_rate_estimate",
    "emb_ann_topk_lsh_mp",
    "unpivot_part_measures", "docs_length_histogram",
    # pads past slot 50: first the remaining formerly-padded canaries,
    # then the r5 window members (all re-graded green in r5) ahead of
    # the remaining oracled registry
    "docs_entity_mask", "events_cohort_retention", "events_daily_locf",
    "events_user_zscore", "approx_distinct_parts",
    "approx_percentile_qty", "events_json_props",
    "bloom_semi_revenue", "docs_token_freq_cms",
    "grouping_sets_orders", "events_user_hll_by_type",
    "docs_top_quality_per_source", "docs_stratified_sample",
    "docs_dup_graph_stats", "events_distinct_users_salted",
    "events_funnel_conversion", "docs_lsh_levenshtein", "docs_bm25_lite",
    "ddp_point_lookup", "ddp_coverage", "ddp_stats", "ddp_ratio",
    "ddp_refcount", "ddp_gc_candidates", "ddp_exists", "ddp_list_page",
    "ddp_chunks_of_object", "ddp_object_map_lookup", "ddp_range_lookup",
    "ddp_position_window",
    "cdc_chunk_index", "cdc_chunk_index_segmented",
    "docs_winnowing", "docs_winnowing_pairs",
    "emb_dim_stats",
    "emb_ann_topk_pq", "emb_ann_topk_ivfpq", "emb_ann_topk_ivfpq_refined",
    "emb_cosine_topk_float", "emb_knn_cosine_np", "emb_ann_recall_ivfpq",
    "docs_exact_dedup", "docs_minhash_pairs", "docs_jaccard_pairs",
    "docs_dup_clusters", "docs_dup_spans", "docs_strip_dup_spans",
    "docs_incremental_dedup", "docs_decontaminate", "docs_pack_sequences",
    "emb_knn_cosine", "emb_ann_topk_lsh", "emb_ann_topk_ivf",
    "emb_semantic_dedup", "docs_minhash_accuracy",
    "tpch_q1_pricing", "tpch_q3_topk", "tpch_q6_revenue",
    "tpch_q21_waiting_supplier", "window_rank_lag", "events_session",
    "setops_multiset", "events_asof_view_click",
    "events_tumbling_streamed", "events_interval_join_streamed",
    "docs_token_budget_mix", "docs_dup_weighting",
]
# Rotation reuses names: a query promoted into the new window head may
# still be listed in an older tier below. First occurrence wins (that IS
# the rotation semantics); the dedupe keeps the list a clean total order
# for the driver and the no-duplicates hygiene test.
_GRADING_PRIORITY = list(dict.fromkeys(_GRADING_PRIORITY))


def all_queries() -> dict[str, QuerySpec]:
    # import for side effect of registration
    from watsondedupe_spark.queries import (  # noqa: F401
        curation_ext,
        dedupe_index,
        dq_ops,
        engine_native,
        events,
        export_ops,
        llm_pipeline,
        pipeline_ext,
        relational,
        relational_ext,
        retrieval_ext,
        scale_ops,
        tpch_full,
    )

    missing = [n for n in _GRADING_PRIORITY if n not in _REGISTRY]
    assert not missing, (
        f"_GRADING_PRIORITY names not in registry (renamed/removed?): {missing}"
    )
    ordered: dict[str, QuerySpec] = {}
    for name in _GRADING_PRIORITY:
        ordered[name] = _REGISTRY[name]
    for name, spec in _REGISTRY.items():
        if name not in ordered and spec.oracle is not None:
            ordered[name] = spec
    for name, spec in _REGISTRY.items():
        if name not in ordered:
            ordered[name] = spec
    return ordered


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.spark for name, spec in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in all_queries().items() if spec.oracle is not None
    }
