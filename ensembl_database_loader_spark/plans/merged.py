"""Window-consolidation probes: several same-shaped single-row probes
fused into one row so every declared SURVEY §2.3 capability fits inside
the correctness driver's 50-probe window alongside the full
LLM-pipeline and streaming surface.

Each merged probe is a pure composition: it CALLS the original
registered probes (which stay registered, individually bench-timed,
and locally oracle-checked) and cross-joins their one-row outputs
with unambiguous column renames. The oracle is built the same way —
the original oracle strings wrapped as renamed subselects and
cross-joined — so Spark and DuckDB stay in lock-step by construction.
The probe name carries every covered probe ID (e.g.
``q04_q05_q06_filter_family`` covers Q04+Q05+Q06).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ensembl_database_loader_spark.plans.registry import get, probe

#: merged name -> [(original probe, [(src_col, out_col), ...]), ...]
MERGE_SPECS: dict[str, list[tuple[str, list[tuple[str, str]]]]] = {
    # Multi-row components are safe to cross-join as long as the row
    # product stays small. A green composite hash verifies each
    # component's row SET given the others are non-empty and
    # duplicate-free: in theory multiplicity-compensating errors
    # (component A duplicated k×, B shrunk k×) survive a sorted product
    # hash, but every multi-row component here carries a unique
    # tie-break key column, so duplicates are impossible and the
    # precondition holds by construction.
    "q01_q03_scan_projection": [
        ("q01_parquet_scan", [("cnt", "scan_cnt")]),
        (
            "q03_projection",
            [("l_orderkey", "l_orderkey"), ("l_linenumber", "l_linenumber")],
        ),
    ],
    "q16_q31_distinct_date_fns": [
        ("q16_count_distinct", [("cnt", "distinct_custkeys")]),
        (
            "q31_date_fns",
            [
                ("month_start", "month_start"),
                ("cnt", "month_cnt"),
                ("sum_price", "sum_price"),
                ("y1996", "y1996"),
            ],
        ),
        # late-r7: the single-pass column profiler rides this window
        # row (4 rows keyed uniquely by "column"; product bounded by
        # q31's month rows)
        (
            "dq_profile",
            [
                ("column", "dq_column"),
                ("n_rows", "dq_n_rows"),
                ("n_nulls", "dq_n_nulls"),
                ("n_distinct", "dq_n_distinct"),
                ("min_val", "dq_min_val"),
                ("max_val", "dq_max_val"),
            ],
        ),
        # r8: exact quantile profile (2 rows keyed uniquely by column)
        (
            "dq_profile_quantiles",
            [
                ("column", "dqq_column"),
                ("q25", "dqq_q25"),
                ("q50", "dqq_q50"),
                ("q75", "dqq_q75"),
            ],
        ),
        # r8: key-skew fingerprint (single row) — the quantile profile's
        # routing companion
        (
            "dq_key_skew",
            [
                ("n_keys", "sk_n_keys"),
                ("n_rows", "sk_n_rows"),
                ("p50", "sk_p50"),
                ("p90", "sk_p90"),
                ("p99", "sk_p99"),
                ("max_freq", "sk_max_freq"),
                ("top_share", "sk_top_share"),
            ],
        ),
        # r9: declarative expectation suite (8 rows keyed uniquely by
        # rule name) — the data-contract gate rides the DQ window row
        (
            "dq_expectations",
            [
                ("rule", "ex_rule"),
                ("kind", "ex_kind"),
                ("violations", "ex_violations"),
                ("observed", "ex_observed"),
                ("passed", "ex_passed"),
            ],
        ),
        # r9: PSI drift monitor (2 rows keyed uniquely by column)
        (
            "dq_drift_psi",
            [
                ("column", "dr_column"),
                ("psi", "dr_psi"),
                ("n_ref", "dr_n_ref"),
                ("n_cur", "dr_n_cur"),
                ("n_bins", "dr_n_bins"),
            ],
        ),
        # r11: the STREAMING drift gate rides the DQ row beside its
        # batch sibling dq_drift_psi (the wm-family slots are
        # baseline-shared bench identities that must stay probe-for-
        # probe comparable, so the streaming composites live here):
        # end-to-end two-batch routing under a planted drift batch,
        # four-table atomic group commits
        (
            "ws8_streaming_drift_gate",
            [
                ("gd_good_rows", "gd_good_rows"),
                ("gd_good_id_sum", "gd_good_id_sum"),
                ("gd_quar_rows", "gd_quar_rows"),
                ("gd_clean_batch_ok", "gd_clean_batch_ok"),
                ("gd_drift_flags_ok", "gd_drift_flags_ok"),
            ],
        ),
        # r11: approved re-baseline of a running gate — the same feed
        # stops alarming after update_drift_profile publishes the new
        # baseline (atomic catalog group commit, exactly-once, audited)
        (
            "ws9_drift_rebaseline",
            [
                ("rb_good_rows", "rb_good_rows"),
                ("rb_good_id_sum", "rb_good_id_sum"),
                ("rb_quar_rows", "rb_quar_rows"),
                ("rb_flags_ok", "rb_flags_ok"),
                ("rb_replay_noop", "rb_replay_noop"),
                ("rb_audit_ok", "rb_audit_ok"),
            ],
        ),
    ],
    "q18_q20_condagg_having": [
        (
            "q18_conditional_agg",
            [
                ("o_orderpriority", "o_orderpriority"),
                ("f_cnt", "f_cnt"),
                ("o_cnt", "o_cnt"),
                ("p_cnt", "p_cnt"),
                ("total", "total"),
            ],
        ),
        ("q20_having", [("cnt", "having_cnt")]),
        # late-r7: snapshot merge (MERGE INTO) rides this window row
        (
            "llp_snapshot_merge",
            [
                ("n_rows", "merge_n_rows"),
                ("key_sum", "merge_key_sum"),
                ("price_cents", "merge_price_cents"),
                ("n_inserted", "merge_n_inserted"),
            ],
        ),
        # r8: the manifest-committed lake (atomic snapshot commits,
        # reader pinning, exactly-once txn appends) rides here too —
        # the MERGE INTO twin with durability
        (
            "llp_manifest_commit",
            [
                ("mc_n_rows", "mc_n_rows"),
                ("mc_key_sum", "mc_key_sum"),
                ("mc_price_cents", "mc_price_cents"),
                ("mc_pinned_ok", "mc_pinned_ok"),
                ("mc_versions", "mc_versions"),
                ("mc_compact_ok", "mc_compact_ok"),
            ],
        ),
        # r8: manifest-stats file skipping (scan_table) rides here too
        (
            "llp_manifest_skipping",
            [
                ("sk_n_rows", "sk_n_rows"),
                ("sk_key_sum", "sk_key_sum"),
                ("sk_price_cents", "sk_price_cents"),
                ("sk_files_skipped", "sk_files_skipped"),
            ],
        ),
        # r10: file-level CDC reads — incremental rollup folded from
        # read_changes lands on the from-scratch recompute (5 rows
        # keyed uniquely by cdc_g)
        (
            "llp_manifest_cdc",
            [
                ("g", "cdc_g"),
                ("cnt", "cdc_cnt"),
                ("sum_cents", "cdc_sum_cents"),
                ("cdc_parity_ok", "cdc_parity_ok"),
                ("cdc_files_ok", "cdc_files_ok"),
                ("cdc_only_new_rows", "cdc_only_new_rows"),
            ],
        ),
        # r12.2: incremental replication + the O(delta) row-level
        # change feed — value-exact replica fingerprint (count + key /
        # cents sums computed FROM THE REPLICA), cross-location CDC
        # identity, delta-only shipping, replay no-op, verbatim head
        (
            "llp_manifest_replica",
            [
                ("rp_n", "rp_n"),
                ("rp_k_sum", "rp_k_sum"),
                ("rp_cents", "rp_cents"),
                ("rp_feed_exact", "rp_feed_exact"),
                ("rp_delta_only", "rp_delta_only"),
                ("rp_replay_noop", "rp_replay_noop"),
                ("rp_verbatim", "rp_verbatim"),
            ],
        ),
        # r8: row-level DELETE/UPDATE (copy-on-write, stats-pruned)
        (
            "llp_manifest_delete",
            [
                ("du_n_rows", "du_n_rows"),
                ("du_key_sum", "du_key_sum"),
                ("du_price_cents", "du_price_cents"),
                ("du_del_rows", "du_del_rows"),
                ("du_upd_rows", "du_upd_rows"),
                ("du_pruned_ok", "du_pruned_ok"),
            ],
        ),
    ],
    "q30_q32_string_math_fns": [
        ("q30_string_fns", [("p_partkey", "p_partkey"), ("s", "str_s")]),
        (
            "q32_math_fns",
            [
                ("revenue", "revenue"),
                ("floor_qty", "floor_qty"),
                ("ceil_disc", "ceil_disc"),
                ("abs_dev", "abs_dev"),
                ("pow_sum", "pow_sum"),
                ("mod_cnt", "mod_cnt"),
            ],
        ),
    ],
    "q33_q34_case_array_fns": [
        (
            "q33_case_null_fns",
            [("score", "score"), ("type_flag", "type_flag"), ("cnt", "case_cnt")],
        ),
        ("q34_array_fns", [("word", "word"), ("cnt", "word_cnt")]),
    ],
    "q04_q05_q06_filter_family": [
        ("q04_filter_predicate", [("cnt", "pred_cnt")]),
        ("q05_filter_regex", [("like_cnt", "like_cnt"), ("re_cnt", "re_cnt")]),
        ("q06_filter_inlist", [("in_cnt", "in_cnt"), ("anti_cnt", "anti_cnt")]),
    ],
    "q09_q10_outer_joins": [
        ("q09_left_outer_join", [("cnt", "left_unmatched_cnt")]),
        (
            "q10_full_outer_join",
            [
                ("cnt", "full_cnt"),
                ("nation_only", "nation_only"),
                ("supplier_only", "supplier_only"),
            ],
        ),
    ],
    "q11_q12_semi_anti_join": [
        ("q11_semi_join", [("cnt", "semi_cnt")]),
        ("q12_anti_join", [("cnt", "anti_cnt")]),
    ],
    "q13_q14_range_cross_join": [
        ("q13_range_join", [("cnt", "range_cnt")]),
        ("q14_cross_join", [("cnt", "cross_cnt")]),
    ],
    "q23_q24_q25_window_family": [
        (
            "q23_window_rank",
            [("cnt", "rank_cnt"), ("sum_price", "rank_sum_price")],
        ),
        (
            "q24_window_lag",
            [("sum_delta", "lag_sum_delta"), ("cnt_delta", "lag_cnt_delta")],
        ),
        (
            "q25_window_frame",
            [("sum_mov", "frame_sum_mov"), ("cnt", "frame_cnt")],
        ),
    ],
    "q26_q27_set_ops": [
        (
            "q26_union",
            [("all_cnt", "union_all_cnt"), ("uniq_cnt", "union_uniq_cnt")],
        ),
        (
            "q27_intersect_except",
            [("inter_cnt", "inter_cnt"), ("except_cnt", "except_cnt")],
        ),
    ],
    "q28_q29_subqueries": [
        ("q28_scalar_subquery", [("cnt", "above_avg_cnt")]),
        ("q29_exists_subquery", [("cnt", "exists_cnt")]),
    ],
    # r6: two text/multimodal pairs consolidated to free window slots
    # for the round-6 flagships (ss_ann_ivf_indexed,
    # llp_incremental_dedup) — components stay registered and timed.
    "tx_tokens_fingerprint": [
        (
            "tx_token_counts",
            [
                ("lang", "lang"),
                ("total_tokens", "total_tokens"),
                ("total_distinct_tokens", "total_distinct_tokens"),
                ("avg_tok_len", "avg_tok_len"),
            ],
        ),
        (
            "tx_fingerprint",
            [
                ("distinct_fp", "distinct_fp"),
                ("min_fp", "min_fp"),
                ("max_fp", "max_fp"),
            ],
        ),
        # r7: exact-substring dedup (ExactSubstr) rides the window here
        (
            "tx_substr_dedup",
            [
                ("n_windows", "sd_n_windows"),
                ("n_dup_hashes", "sd_n_dup_hashes"),
                ("docs_affected", "sd_docs_affected"),
                ("tokens_removed", "sd_tokens_removed"),
                ("distinct_clean_md5", "sd_distinct_clean_md5"),
            ],
        ),
        # r8: trained quality classifier (train + codegen serving)
        (
            "tx_quality_classifier",
            [
                ("clf_n_train", "clf_n_train"),
                ("clf_n_holdout", "clf_n_holdout"),
                ("clf_holdout_pos", "clf_holdout_pos"),
                ("clf_acc_ok", "clf_acc_ok"),
            ],
        ),
    ],
    "mm_decode_frames": [
        (
            "mm_decode_stats",
            [
                ("img_cnt", "img_cnt"),
                ("sum_width", "sum_width"),
                ("sum_height", "sum_height"),
                ("sum_mean_b", "sum_mean_b"),
                ("sum_mean_r", "sum_mean_r"),
                ("wav_cnt", "wav_cnt"),
                ("sum_frames", "sum_frames"),
                ("sum_amp", "sum_amp"),
            ],
        ),
        (
            "mm_frame_sample",
            [
                ("frame_cnt", "frame_cnt"),
                ("sum_frame_idx", "sum_frame_idx"),
                ("sum_frame_bytes", "sum_frame_bytes"),
            ],
        ),
    ],
    "q35_q36_json_casts": [
        ("q35_json_fns", [("k_sum", "json_k_sum"), ("hi_cnt", "json_hi_cnt")]),
        (
            "q36_casts",
            [
                ("qty_sum", "qty_sum"),
                ("ship_days", "ship_days"),
                ("tax_roundtrip", "tax_roundtrip"),
            ],
        ),
    ],
    # r6b: the approx-contract pair and the UDF pair consolidate to free
    # two window slots for the corpus-construction composites below —
    # components stay registered, timed, and locally oracle-checked.
    # late-r7: the mergeable-sketch layer (storable HLL batch sketches +
    # theta set algebra) joins its one-shot sibling q17 in the window
    "q17_q37_approx_sketch": [
        (
            "q17_approx_count_distinct",
            [("exact_cnt", "exact_cnt"), ("within_5pct", "within_5pct")],
        ),
        (
            "q37_sampling",
            [
                ("total", "total"),
                ("lo", "lo"),
                ("hi", "hi"),
                ("within_bounds", "within_bounds"),
            ],
        ),
        (
            "ss_sketch_distinct_overlap",
            [
                ("en_distinct", "sk_en_distinct"),
                ("de_distinct", "sk_de_distinct"),
                ("inter_exact", "sk_inter_exact"),
                ("jaccard_exact", "sk_jaccard_exact"),
                ("hll_ok", "sk_hll_ok"),
                ("merge_ok", "sk_merge_ok"),
                ("theta_ok", "sk_theta_ok"),
            ],
        ),
        # r8: Misra-Gries frequent items (mergeable heavy hitters)
        # joins the sketch window — exact token total in SQL, the MG
        # contract (bounds/survivors/error cap) gated Spark-side
        (
            "dq_freq_items",
            [
                ("fi_n_tokens", "fi_n_tokens"),
                ("fi_err_ok", "fi_err_ok"),
                ("fi_bounds_ok", "fi_bounds_ok"),
                ("fi_heavy_found", "fi_heavy_found"),
            ],
        ),
        # r8: mergeable log-bucket quantile histogram — completes the
        # storable-sketch trio (HLL distincts, MG heavy hitters,
        # histogram quantiles); merge is bucket-for-bucket EXACT
        (
            "dq_quantile_hist",
            [
                ("qh_n", "qh_n"),
                ("qh_p50_ok", "qh_p50_ok"),
                ("qh_p99_ok", "qh_p99_ok"),
                ("qh_merge_exact", "qh_merge_exact"),
            ],
        ),
    ],
    "q38_q39_udf_family": [
        (
            "q38_python_udf_bsd_sum",
            [
                ("sum_checksum", "sum_checksum"),
                ("distinct_checksums", "distinct_checksums"),
            ],
        ),
        (
            "q39_pandas_udf_zscore",
            [
                ("lang", "lang"),
                ("mean_abs_z", "mean_abs_z"),
                ("std_z", "std_z"),
                ("cnt", "z_cnt"),
            ],
        ),
        # r8: distributed table checksum — the row-level analogue of
        # the file-checksum UDFs this window already gates; drill-down
        # side counts are oracle-exact
        (
            "dq_table_checksum",
            [
                ("tc_n_rows", "tc_n_rows"),
                ("tc_only_a", "tc_only_a"),
                ("tc_only_b", "tc_only_b"),
                ("tc_equal_ok", "tc_equal_ok"),
                ("tc_mut_detected", "tc_mut_detected"),
            ],
        ),
    ],
    # round-6 corpus-construction flagships: decontamination + PII scrub
    # and mixing + packing ride the window as composites so the driver
    # hash-gates them directly.
    "tx_decontam_pii": [
        (
            "tx_contamination",
            [
                ("n_docs", "n_docs"),
                ("n_flagged_any", "n_flagged_any"),
                ("n_flagged_frac", "n_flagged_frac"),
                ("total_hits", "total_hits"),
                ("mean_frac", "mean_frac"),
            ],
        ),
        (
            "tx_pii_redact",
            [
                ("emails", "emails"),
                ("ips", "ips"),
                ("phones", "phones"),
                ("docs_touched", "docs_touched"),
                ("distinct_redacted", "distinct_redacted"),
                ("total_chars", "total_chars"),
            ],
        ),
        # r11: SEMANTIC benchmark decontamination rides its n-gram
        # sibling's window row — flagged/kept id sums row-level exact
        # vs the oracle's full cross-join recompute, IVF path
        # subset-gated
        (
            "tx_semantic_decontam",
            [
                ("sd_n_train", "sd_n_train"),
                ("sd_flagged", "sd_flagged"),
                ("sd_flag_id_sum", "sd_flag_id_sum"),
                ("sd_hits", "sd_hits"),
                ("sd_kept_id_sum", "sd_kept_id_sum"),
                ("sd_ivf_subset_ok", "sd_ivf_subset_ok"),
                ("sd_ivf_found_any", "sd_ivf_found_any"),
            ],
        ),
    ],
    # round-7 flagships ride the window as composites: embedding
    # near-dup + SemDeDup (exact AND ANN-candidate paths) fused into
    # one row, and the planted-near-dup LSH contract fused with the
    # clustered-fixture recall@5 gates. Components stay registered,
    # individually timed, and locally oracle-checked.
    "dd_embedding_neardup_semantic": [
        (
            "dd_embedding_neardup",
            [
                ("near_cnt", "near_cnt"),
                ("dup_cnt", "dup_cnt"),
                ("max_cos", "max_cos"),
            ],
        ),
        (
            "dd_semantic_dedup",
            [
                ("n_input", "sd_n_input"),
                ("n_dropped", "sd_n_dropped"),
                ("n_kept", "sd_n_kept"),
                ("kept_id_sum", "sd_kept_id_sum"),
            ],
        ),
        (
            "dd_semantic_dedup_ann",
            [
                ("n_dropped_exact", "ann_n_dropped_exact"),
                ("ivf_superset_ok", "ivf_superset_ok"),
                ("lsh_superset_ok", "lsh_superset_ok"),
                ("ivf_drops", "ivf_drops"),
                ("lsh_drops", "lsh_drops"),
            ],
        ),
        # r8: incremental semantic dedup rides here — two-batch ==
        # one-shot gate + proof the store caused cross-batch drops
        (
            "dd_semantic_dedup_incr",
            [
                ("sdi_store_rows", "sdi_store_rows"),
                ("sdi_matches_oneshot", "sdi_matches_oneshot"),
                ("sdi_store_drops", "sdi_store_drops"),
                ("sdi_kept_nonempty", "sdi_kept_nonempty"),
            ],
        ),
    ],
    # r7: language-ID confusion + bigram-LM perplexity scoring share a
    # window row (both per-lang with unique keys; product <= 125 rows)
    "tx_langid_lm": [
        (
            "tx_langid",
            [
                ("lang", "lid_lang"),
                ("lang_guess", "lang_guess"),
                ("cnt", "lid_cnt"),
            ],
        ),
        (
            "tx_lm_perplexity",
            [
                ("lang", "lm_lang"),
                ("scored_docs", "lm_scored_docs"),
                ("avg_logprob", "lm_avg_logprob"),
                ("en_best", "lm_en_best"),
            ],
        ),
        # r11: DSIR importance resampling joins the per-lang quality
        # scorers it complements (kept SET row-level exact via per-lang
        # id sums; ds_en_top is the model-free twin of lm_en_best;
        # rows keyed uniquely by ds_lang)
        (
            "tx_dsir_select",
            [
                ("lang", "ds_lang"),
                ("ds_kept", "ds_kept"),
                ("ds_id_sum", "ds_id_sum"),
                ("ds_avg_logw", "ds_avg_logw"),
                ("ds_en_top", "ds_en_top"),
            ],
        ),
    ],
    "ss_ann_lsh_recall": [
        (
            "ss_ann_lsh",
            [
                ("returned_k", "planted_returned_k"),
                ("planted_found", "planted_found"),
            ],
        ),
        (
            "ss_ann_recall_clustered",
            [
                ("exact_in_cluster0", "exact_in_cluster0"),
                ("lsh_returned_5", "lsh_returned_5"),
                ("ivf_returned_5", "ivf_returned_5"),
                ("recall_lsh_ok", "recall_lsh_ok"),
                ("recall_ivf_ok", "recall_ivf_ok"),
            ],
        ),
        # r8: the int8-quantized IVF index rides here — recall +
        # full-precision agreement + measured byte-halving gates
        (
            "ss_ann_ivf_quant",
            [
                ("qi_returned_k", "qi_returned_k"),
                ("qi_recall_ok", "qi_recall_ok"),
                ("qi_matches_full", "qi_matches_full"),
                ("qi_bytes_halved", "qi_bytes_halved"),
            ],
        ),
        # r8: MMR diversity re-ranking rides the retrieval window —
        # rank-1 == SQL cosine argmax exactly, pool-subset + diversity
        # contracts
        (
            "ss_mmr_rerank",
            [
                ("mm_k", "mm_k"),
                ("mm_top1_id", "mm_top1_id"),
                ("mm_subset_ok", "mm_subset_ok"),
                ("mm_diverse_ok", "mm_diverse_ok"),
            ],
        ),
        # r10: IVF x PQ materialized index — ADC + refine recall,
        # residual >= plain, measured float > int8 > pq byte ladder
        (
            "ss_ann_pq_indexed",
            [
                ("pqix_returned_k", "pqix_returned_k"),
                ("pqix_cluster_pure", "pqix_cluster_pure"),
                ("pqix_refine_recall_ok", "pqix_refine_recall_ok"),
                ("pqix_residual_fidelity", "pqix_residual_fidelity"),
                ("pqix_bytes_lt_int8", "pqix_bytes_lt_int8"),
            ],
        ),
        # r10: batch-query ANN — 100 queries in one plan, each of 8
        # row-identical to its 1-element batch + an independent numpy
        # mirror
        (
            "ss_ann_batch",
            [
                ("bq_n_queries_ok", "bq_n_queries_ok"),
                ("bq_n_pairs_ok", "bq_n_pairs_ok"),
                ("bq_matches_loop", "bq_matches_loop"),
                ("bq_matches_mirror", "bq_matches_mirror"),
            ],
        ),
        # r11: batch ANN over MATERIALIZED indexes (float IVF + PQ ADC)
        # — a 1-element list batch hash-gated row-identical to its
        # qid's rows in the DataFrame batch
        (
            "ss_ann_batch_indexed",
            [
                ("bi_ivf_matches", "bi_ivf_matches"),
                ("bi_pq_matches", "bi_pq_matches"),
                ("bi_ivf_pairs", "bi_ivf_pairs"),
                ("bi_pq_pairs", "bi_pq_pairs"),
            ],
        ),
        # r11: BM25 sparse retrieval — value-exact top-5 rows per query
        # (keyed uniquely by (bm_qid, bm_rank)) from a list wave; the
        # DataFrame wave is TRUE-gated row-identical
        (
            "ss_bm25_topk",
            [
                ("qid", "bm_qid"),
                ("doc_id", "bm_doc_id"),
                ("score", "bm_score"),
                ("rank", "bm_rank"),
                ("bm_idx_matches", "bm_idx_matches"),
            ],
        ),
        # r11: hybrid RRF fusion of the lexical + dense paths —
        # value-exact fused rows (keyed uniquely by (hy_qid, hy_rank))
        (
            "ss_hybrid_rrf",
            [
                ("qid", "hy_qid"),
                ("doc_id", "hy_doc_id"),
                ("rrf", "hy_rrf"),
                ("rank", "hy_rank"),
            ],
        ),
        # r12.2: incremental index sync — one VALUE-EXACT fingerprint
        # row (BM25 + full-probe ANN serving from the SYNCED indexes
        # vs the oracle's from-scratch recompute of the mutated
        # corpus), plus rebuild-identity / replay / O(delta)-CDC gates
        (
            "ss_index_sync",
            [
                ("sy_bm_n", "sy_bm_n"),
                ("sy_bm_qid_sum", "sy_bm_qid_sum"),
                ("sy_bm_doc_sum", "sy_bm_doc_sum"),
                ("sy_bm_cents", "sy_bm_cents"),
                ("sy_ann_n", "sy_ann_n"),
                ("sy_ann_qid_sum", "sy_ann_qid_sum"),
                ("sy_ann_doc_sum", "sy_ann_doc_sum"),
                ("sy_ann_microcos", "sy_ann_microcos"),
                ("sy_bm_rebuild_identical", "sy_bm_rebuild_identical"),
                ("sy_ann_rebuild_identical", "sy_ann_rebuild_identical"),
                ("sy_replay_noop", "sy_replay_noop"),
                ("sy_cdc_o_delta", "sy_cdc_o_delta"),
                ("sy_bm_append_only", "sy_bm_append_only"),
            ],
        ),
        # r11: the ANN index AS A MANIFEST TABLE — cell-scoped
        # appends/deletes, exactly-once ingest, metadata-only serving
        # rollback
        (
            "ss_ann_manifest_index",
            [
                ("mi_append_served", "mi_append_served"),
                ("mi_append_scoped", "mi_append_scoped"),
                ("mi_replay_noop", "mi_replay_noop"),
                ("mi_delete_served_out", "mi_delete_served_out"),
                ("mi_delete_scoped", "mi_delete_scoped"),
                ("mi_restore_serves", "mi_restore_serves"),
                ("mi_rebalance_ok", "mi_rebalance_ok"),
            ],
        ),
    ],
    "llp_mix_packing": [
        (
            "llp_mix_sample",
            [
                ("lang", "lang"),
                ("n_input", "n_input"),
                ("n_kept", "n_kept"),
                ("achieved_rate", "achieved_rate"),
            ],
        ),
        (
            "llp_seq_packing",
            [
                ("n_docs", "pack_n_docs"),
                ("total_tokens", "total_tokens"),
                ("each_doc_once", "each_doc_once"),
                ("no_overflow", "no_overflow"),
                ("ffd_bound_ok", "ffd_bound_ok"),
                ("above_lower_bound", "above_lower_bound"),
            ],
        ),
        # r7: token-budget corpus selection rides the window here (the
        # bucketed scale plan hash-gated against the naive-window
        # oracle; kept_id_sum is row-level)
        (
            "llp_token_budget",
            [
                ("lang", "tb_lang"),
                ("kept_cnt", "tb_kept_cnt"),
                ("kept_tokens", "tb_kept_tokens"),
                ("kept_id_sum", "tb_kept_id_sum"),
                ("overshoot_bounded", "tb_overshoot_bounded"),
            ],
        ),
        # r8: exact-k deterministic sampling (hash-order top-k) — the
        # size-targeted sibling of the rate-based mix sample; id-sum
        # fingerprint makes the window hash row-level exact
        (
            "llp_sample_exact_k",
            [
                ("lang", "ks_lang"),
                ("ks_n", "ks_n"),
                ("ks_id_sum", "ks_id_sum"),
                ("g_n", "ks_g_n"),
                ("g_id_sum", "ks_g_id_sum"),
            ],
        ),
        # r8: per-row weighted Poisson sampling (quality-weighted
        # downsampling) — id-sum row-level exact
        (
            "llp_weighted_sample",
            [
                ("ws_n", "ws_n"),
                ("ws_id_sum", "ws_id_sum"),
            ],
        ),
    ],
}


def _merged_spark_fn(spec: list[tuple[str, list[tuple[str, str]]]]):
    def spark_fn(spark: SparkSession, sf: str) -> DataFrame:
        out: DataFrame | None = None
        for name, cols in spec:
            df = get(name).spark_fn(spark, sf)
            df = df.selectExpr(*[f"`{src}` AS `{dst}`" for src, dst in cols])
            out = df if out is None else out.crossJoin(df)
        assert out is not None
        return out

    return spark_fn


def _merged_oracle(spec: list[tuple[str, list[tuple[str, str]]]]) -> str:
    subs = []
    for i, (name, cols) in enumerate(spec):
        orig = get(name).oracle
        assert orig is not None, f"merged component {name} has no oracle"
        # quote both sides: component columns may collide with SQL
        # reserved words (dq_profile's "column")
        select = ", ".join(f'"{src}" AS "{dst}"' for src, dst in cols)
        subs.append(f"(SELECT {select} FROM ({orig}) _m{i}) s{i}")
    return "SELECT * FROM " + " CROSS JOIN ".join(subs)


def _register_all() -> None:
    for merged_name, spec in MERGE_SPECS.items():
        covered = ", ".join(n for n, _ in spec)
        fn = _merged_spark_fn(spec)
        fn.__doc__ = f"Window-consolidation of: {covered} (see MERGE_SPECS)."
        probe(merged_name, oracle=_merged_oracle(spec), tags=("merged",))(fn)


_register_all()
