"""Shared fixtures: one SparkSession per test session, DuckDB oracle con."""

from __future__ import annotations

import contextlib
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cosmap_spark.session import get_spark  # noqa: E402
from cosmap_spark.tables import TABLES  # noqa: E402

#: sf0.001 keeps the unit suite fast; the driver's gate runs sf0.01.
SF_DIR = os.environ.get("COSMAP_TEST_SF_DIR", "/root/testdata/sf0.001")


#: The slow tier (round 11): test FUNCTIONS (all parametrizations),
#: or single ``fn[param]`` cells, whose full-suite call time totalled
#: >= 4 s in the --durations=0
#: profile of commit 16ff5b1 (992 passed, 54m18s total).  Marked
#: centrally here - not with per-test decorators - so the tier has
#: ONE auditable definition; the parity mirror and plan audit are
#: never listed (they ARE the gate).  A stale entry (a renamed or
#: removed test function) fails collection below.
SLOW_TESTS = {
    "test_analysis_e2e.py::test_quickstart_end_to_end",
    "test_asof.py::test_asof_ungrouped",
    "test_asof.py::test_cogroup_twin_equals_distributed",
    "test_chunking.py::test_chunk_embed_ann_composition",
    "test_classifier.py::test_trainer_separates_and_auc",
    "test_classifier.py::test_training_deterministic",
    "test_curation_e2e.py::test_curation_pipeline",
    "test_dedup_knn.py::test_dedup_clusters_one_expensive_job_per_round",
    "test_dedup_knn.py::test_dedup_clusters_raises_when_not_converged",
    "test_dedup_knn.py::test_dedup_clusters_empty_and_real_pairs_match_union_find",
    "test_dedup_knn.py::test_dedup_clusters_matches_union_find",
    "test_dedup_knn.py::test_embedding_dup_lsh_recall_vs_bruteforce",
    "test_dedup_knn.py::test_hard_negative_pairs_excludes_dups_and_ranks_by_sim",
    "test_dedup_knn.py::test_incremental_minhash_dedup_two_batches",
    "test_dedup_knn.py::test_kmeanspp_seeding_degenerate_small_corpus",
    "test_dedup_knn.py::test_knn_binary_recall_and_exactness_law",
    "test_dedup_knn.py::test_knn_ivf_recall_vs_bruteforce",
    "test_dedup_knn.py::test_knn_lsh_multiprobe_improves_recall",
    "test_dedup_knn.py::test_knn_lsh_recall_vs_bruteforce",
    "test_dedup_knn.py::test_leakage_safe_split_keeps_clusters_together",
    "test_dedup_knn.py::test_minhash_lsh_recall_on_high_similarity",
    "test_dedup_knn.py::test_ngram_jaccard_pins_no_storage_blocks",
    "test_dedup_knn.py::test_semantic_contamination_recall_vs_bruteforce",
    "test_dedup_knn.py::test_semantic_dedup_kmeanspp_seeding_recall_and_balance",
    "test_dedup_knn.py::test_semantic_dedup_recall_vs_bruteforce",
    "test_dedup_knn.py::test_shingles_short_docs_yield_empty_not_crash",
    "test_dedup_knn.py::test_simhash_flags_exact_copies",
    "test_dedup_knn.py::test_winnow_fingerprints_matches_reference",
    "test_diff.py::test_heavy_hitter_frozen_categories_match_exact_topn",
    "test_diff.py::test_snapshot_drift_matches_python_psi",
    "test_dsir.py::test_gumbel_sample_exact_k_and_enriched",
    "test_editdist.py::test_matches_bruteforce",
    "test_editdist.py::test_short_strings_match_bruteforce",
    "test_empty_inputs.py::test_change_feed_empty_sides",
    "test_empty_inputs.py::test_operator_sweep",
    "test_fault_injection.py::test_kill_point_matrix",
    "test_fault_injection.py::test_mor_manifest_ingest_kill_matrix",
    "test_fault_injection.py::test_merge_upsert_interrupted_window",
    # two cells (reservoir, write_incremental) stay in the default tier
    *(f"test_fault_injection.py::test_rebuilt_checkpoint_replay[{k}]"
      for k in ("abtest", "category", "decontaminate", "dedup", "drift",
                "heavy_hitters", "knn_serve", "ks", "lex_ingest", "mor",
                "sketch", "upsert", "vector_ingest")),
    "test_funnel.py::test_attribution_credit_conservation_property",
    "test_funnel.py::test_cohort_retention_month_boundary_property",
    "test_funnel.py::test_sliding_randomized_differential",
    "test_graph.py::test_pagerank_deterministic_across_partitionings",
    "test_graph.py::test_pagerank_matches_numpy_reference",
    "test_graph.py::test_pagerank_quantized_matches_float_and_python",
    "test_graph.py::test_pagerank_quantized_python_replay_property",
    "test_graph.py::test_pagerank_tol_early_stop",
    "test_graph.py::test_triangle_counts_matches_python_reference",
    "test_index_store.py::test_ann_index_manifest_backend",
    "test_index_store.py::test_lex_append_fresh_ids_equals_rebuild",
    "test_index_store.py::test_lex_append_null_text_retracts_doc",
    "test_index_store.py::test_lex_append_refuses_null_doc_ids",
    "test_index_store.py::test_lex_append_resubmitted_doc_equals_rebuild",
    "test_index_store.py::test_lex_index_manifest_backend",
    "test_index_store.py::test_lex_positional_save_load_append_phrase_identity",
    "test_index_store.py::test_lex_save_load_serve_identical",
    "test_index_store.py::test_lex_segment_stack_appends_equal_rebuild",
    "test_index_store.py::test_opq_save_load_serve_identical",
    "test_index_store.py::test_partial_save_round_trips",
    "test_index_store.py::test_pq_append_matches_full_encode",
    "test_index_store.py::test_prune_scan_partition_filters_on_persisted_store",
    "test_index_store.py::test_residual_flag_round_trips_and_serves",
    "test_index_store.py::test_save_load_serve_identical",
    "test_index_store.py::test_token_bags_manifest_backend",
    "test_layout.py::test_write_zordered_skips_files",
    "test_lm.py::test_empty_reference_raises_loudly",
    "test_lm.py::test_nll_matches_python_reference",
    "test_lm.py::test_partition_independent",
    "test_lm.py::test_perplexity_filter_keeps_tail_and_featureless",
    "test_merge.py::test_apply_agg_delta_chains_across_refreshes",
    "test_merge.py::test_apply_agg_delta_double_apply_raises",
    "test_merge.py::test_apply_agg_delta_ivm_law",
    "test_merge.py::test_change_feed_apply_law_and_classification",
    "test_merge.py::test_merge_randomized_differential",
    "test_merge.py::test_scd2_chain_invariants_property",
    "test_merge.py::test_scd2_close_insert_noop",
    "test_merge.py::test_scd2_idempotent_reapply",
    "test_merge.py::test_scd2_late_update_ignored",
    "test_merge.py::test_snapshot_cdc_nan_and_negzero_payloads",
    "test_merge.py::test_snapshot_cdc_null_shifted_int_payloads",
    "test_merge.py::test_snapshot_cdc_round_trip_and_minimality",
    "test_mor.py::test_mor_changes_across_compaction_and_empty_ranges",
    "test_mor.py::test_mor_changes_basic_and_apply_law",
    "test_mor.py::test_mor_changes_net_semantics",
    "test_mor.py::test_mor_changes_schema_widening",
    "test_mor.py::test_mor_compact_preserves_view_and_clears_log",
    "test_mor.py::test_mor_compact_zordered",
    "test_mor.py::test_mor_delete_is_o_batch_and_idempotent",
    "test_mor.py::test_mor_ingest_stream",
    "test_mor.py::test_mor_maintain_policy",
    "test_mor.py::test_mor_manifest_append_cas_retry_self_heals",
    "test_mor.py::test_mor_manifest_cas_conflict_and_concurrent_append",
    "test_mor.py::test_mor_manifest_compact_race_with_interleaved_compact",
    "test_mor.py::test_mor_manifest_custom_commitfs",
    "test_mor.py::test_mor_manifest_epoch_watermark_never_recycles",
    "test_mor.py::test_mor_manifest_lifecycle_needs_no_rename",
    "test_mor.py::test_mor_manifest_time_travel_and_history",
    "test_mor.py::test_mor_model_differential_random_ops",
    "test_mor.py::test_mor_read_plan_gate",
    "test_mor.py::test_mor_read_predicate_pushdown",
    "test_mor.py::test_mor_restore_round_trip_and_feed",
    "test_mor.py::test_mor_restore_widened_store_and_guards",
    "test_mor.py::test_mor_round_trip_law",
    "test_mor.py::test_mor_schema_alignment",
    "test_mor.py::test_mor_schema_evolution",
    "test_mor.py::test_mor_sync_agg_law_and_incremental",
    "test_mor.py::test_mor_sync_agg_replay_windows",
    "test_mor.py::test_mor_sync_bootstrap_and_incremental",
    "test_mor.py::test_mor_sync_over_custom_commitfs",
    "test_mor.py::test_mor_sync_replay_windows",
    "test_mor.py::test_mor_writes_never_touch_base",
    "test_oracle_types.py::test_oracle_type_parity",
    "test_pq.py::test_ivfpq_full_probe_equals_flat_adc",
    "test_pq.py::test_ivfpq_opq_distances_invariant_and_recall",
    "test_pq.py::test_ivfpq_recall_and_plan",
    "test_pq.py::test_opq_beats_plain_pq_on_correlated_data",
    "test_pq.py::test_persisted_artifacts_equal_self_built",
    "test_pq.py::test_residual_ivfpq_distances_match_numpy_adc",
    "test_pq.py::test_residual_ivfpq_recall_at_least_raw",
    "test_properties.py::test_canonical_url_idempotent",
    "test_properties.py::test_kmv_merge_closure_bit_exact",
    "test_properties.py::test_pack_offsets_prefix_sum_invariants",
    "test_properties.py::test_temperature_mixture_invariants",
    "test_properties.py::test_znorm_subsequence_affine_invariant",
    "test_retrieval.py::test_bm25_null_text_docs_excluded_consistently",
    "test_retrieval.py::test_bm25_scored_variants_one_pass",
    "test_retrieval.py::test_bm25_weighted_tf_literal_vocab_path",
    "test_retrieval.py::test_maxsim_matches_reference_and_layouts",
    "test_retrieval.py::test_maxsim_plaid_token_bags",
    "test_retrieval.py::test_maxsim_rerank_pruned_identity_and_recall",
    "test_retrieval.py::test_maxsim_string_ids",
    "test_retrieval.py::test_phrase_match_multi_equals_per_phrase",
    "test_retrieval.py::test_phrase_match_slop_differential",
    "test_retrieval.py::test_rm3_expansion_matches_python_reference",
    "test_sampler.py::test_negative_pairs_uniform_never_self_excludable",
    "test_sinks.py::test_lex_append_forwards_allow_new_columns",
    "test_sketch.py::test_quantile_rollup_rank_error_bounded",
    "test_skew.py::test_cone_search_3m_cones_complete_at_1g_heap",
    "test_skew.py::test_sweep_tunes_a_real_operator",
    "test_skew.py::test_threshold_sweep_one_pass",
    "test_spatial.py::test_non_divisor_sector_width_equals_bruteforce",
    "test_spatial.py::test_pole_and_wraparound",
    "test_stats_tests.py::test_chi2_two_stage_matches_python_property",
    "test_stats_tests.py::test_decide_pvalues_match_python_references",
    "test_stats_tests.py::test_ks_matches_python_and_is_exact",
    "test_stats_tests.py::test_mann_whitney_matches_python",
    "test_streaming.py::test_category_drift_chi2_matches_batch",
    "test_streaming.py::test_category_drift_stream_frozen_categories",
    "test_streaming.py::test_changepoint_stream_matches_reference_across_batches",
    "test_streaming.py::test_dedup_stream_matches_batch_incremental",
    "test_streaming.py::test_drift_stream_matches_batch_snapshot_drift",
    "test_streaming.py::test_funnel_stream_property_random_streams_and_splits",
    "test_streaming.py::test_ks_stream_matches_batch_ks_test",
    "test_streaming.py::test_ledgered_loop_crash_window_stamp",
    "test_streaming.py::test_lex_ingest_resubmitted_doc_last_writer_wins",
    "test_streaming.py::test_lex_ingest_stream_matches_batch_rebuild",
    "test_streaming.py::test_monitor_report_unifies_all_live_verdicts",
    "test_streaming.py::test_reservoir_stream_matches_batch_exact_k_sample",
    "test_streaming.py::test_store_health_sync_staleness",
    "test_streaming.py::test_stream_stream_join_matches_batch",
    "test_streaming.py::test_tumbling_stream_matches_batch",
    "test_streaming.py::test_upsert_stream_applies_cdc_batches",
    "test_streaming.py::test_upsert_stream_ledgers_do_not_collide",
    "test_streaming.py::test_vector_ingest_maintains_pq_coded",
    "test_streaming.py::test_vector_ingest_stream_matches_batch_index",
    "test_tpch_extra.py::test_extra_parity",
    "test_tpch_extra.py::test_extra_plan_decorrelated",
    "test_tseries.py::test_changepoint_hypothesis_differential",
    "test_webcuration_e2e.py::test_web_curation_pipeline",
}


def pytest_collection_modifyitems(config, items):
    """Two-tier suite (round 11): the DEFAULT run (`pytest tests/`) is
    the driver-completable gate — parity mirror, plan audit, and the
    fast unit tests (~13 min of call time on this sandbox).  The
    long-running model-based/property/e2e tests (SLOW_TESTS above,
    plus anything carrying an explicit ``@pytest.mark.slow``) run only
    when ``COSMAP_RUN_SLOW=1`` — the full ~55 min tier, run at round
    close.  The round-10 suite had grown ~10× past the driver's gate
    budget and its pytest run truncated un-inspectably at 36%."""
    gate = sorted(
        e for e in SLOW_TESTS
        if e.split("::")[0] in ("test_parity.py", "test_plan_audit.py")
    )
    if gate:
        raise pytest.UsageError(
            f"SLOW_TESTS must not list the parity mirror or the plan "
            f"audit (they are the gate tier): {gate}"
        )
    run_slow = bool(os.environ.get("COSMAP_RUN_SLOW"))
    skip = pytest.mark.skip(
        reason="slow tier (set COSMAP_RUN_SLOW=1 to run)"
    )
    for item in items:
        base = f"{os.path.basename(str(item.fspath))}::"
        for key in (base + item.name.split("[")[0], base + item.name):
            if key in SLOW_TESTS:
                item.add_marker(pytest.mark.slow)
        if not run_slow and "slow" in item.keywords:
            item.add_marker(skip)
    # stale-entry guard: an entry whose module was collected but does
    # not define its function has rotted — a rename would otherwise
    # silently promote a slow test into the gate tier.  Checked against
    # the module, not the collected items, so a subset run
    # (`pytest file::test`) does not make the other entries look stale.
    modules = {
        os.path.basename(str(i.fspath)): getattr(i, "module", None) for i in items
    }
    stale = sorted(
        e for e in SLOW_TESTS
        if (mod := modules.get(e.split("::")[0])) is not None
        and not callable(getattr(mod, e.split("::")[1].split("[")[0], None))
    )
    if stale:
        raise pytest.UsageError(
            f"SLOW_TESTS entries name no test function in their module: {stale}"
        )


@contextlib.contextmanager
def jvm_round_trips():
    """Count the py4j commands the driver sends to the JVM inside the
    block: ``with jvm_round_trips() as n: ...; n[0]``.  Each ``F.*`` call
    or DataFrame method is one or more round trips.  Memory-release
    commands (prefix ``"m\\nd\\n"``) are skipped: Python's GC decides
    when they are sent, so counting them would make the total vary from
    run to run."""
    from py4j.clientserver import ClientServerConnection

    count = [0]
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            count[0] += 1
        return send(self, command, *args, **kwargs)

    ClientServerConnection.send_command = counting
    try:
        yield count
    finally:
        ClientServerConnection.send_command = send


@pytest.fixture(scope="session")
def spark():
    import tempfile

    warehouse = tempfile.mkdtemp(prefix="cosmap-warehouse-")
    s = get_spark(app_name="cosmap-tests", master="local[8]",
                  extra_conf={"spark.sql.shuffle.partitions": "8",
                              "spark.ui.enabled": "false",
                              "spark.sql.warehouse.dir": warehouse})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()
