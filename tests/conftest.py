import os

import pytest

from trial_submission_studio_spark import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=4)
    yield s


def rows(df, *cols):
    """Sorted list-of-tuples helper for order-insensitive asserts."""
    sel = df.select(*cols) if cols else df
    return sorted(tuple(r) for r in sel.collect())


# --- slow-test marking (r17, verdict task 2) -------------------------
#
# The full suite is ~40 min on a 32-core host; the external driver's
# pytest budget is ~30 min, so its r16 run TIMED OUT at ~70% with
# zero failures (VERIFY_r16 tests_ok:false). Tests that measured
# >= 6 s each (96 of 1016, ~23 min of the total — heavyweight
# model-fuzz sweeps, multi-writer races, end-to-end lifecycle
# integrations) are auto-marked `slow` from the frozen list below and
# EXCLUDED BY DEFAULT via addopts (-m "not slow"). Run them with:
#
#     python -m pytest tests/ -m slow          # the slow tier only
#     python -m pytest tests/ -m ""            # everything
#
# The full suite (including slow) ran green at the start of r17:
# 1016 passed, 1 skipped in 41m35s.
#
# The paper's golden lifecycle tests (test_study_flow.py) are not in
# the list: the create -> build -> validate -> export path now takes
# 2-6 s per test on 4 cores, and the default tier must cover it.

import pytest as _pytest

SLOW_TESTS = frozenset(
    [
        ("test_advice_r14.py", "test_delete_where_rows_dropped_counts_live_rows"),
        ("test_advice_r14.py", "test_rel_path_col_interior_substring_not_miskeyed"),
        ("test_advice_r15.py", "test_feed_retention_conflict_is_typed"),
        ("test_advice_r15.py", "test_format_schema_honors_contract_not_one_footer"),
        ("test_advice_r15.py", "test_pushed_filter_on_evolved_column_reads_old_files"),
        ("test_bm25.py", "test_append_crash_leaves_readable_consistent_index"),
        ("test_bm25.py", "test_append_matches_full_rebuild"),
        ("test_bm25.py", "test_append_refuses_legacy_layout"),
        ("test_bm25.py", "test_append_saved_index_incremental"),
        ("test_bm25.py", "test_append_twice_stays_exact"),
        ("test_bm25.py", "test_compact_bm25_index_folds_increments"),
        ("test_bm25.py", "test_concurrent_reader_isolated_from_append"),
        ("test_bm25.py", "test_vacuum_reclaims_crashed_append_orphans"),
        ("test_bucketed_table.py", "test_catalog_bridge_delivers_exchange_free_join"),
        ("test_bucketed_table.py", "test_compaction_preserves_bucket_layout"),
        ("test_bucketed_table.py", "test_merge_preserves_layout_and_prunes_planning"),
        ("test_bucketed_table.py", "test_random_sequences_match_dict_model"),
        ("test_bucketed_table.py", "test_sorted_bucket_spec_composes_zone_maps"),
        ("test_column_mapping.py", "test_dml_families_on_renamed_column"),
        ("test_commit_protocol.py", "test_merge_rebases_over_maintenance_but_not_over_merge"),
        ("test_commit_protocol.py", "test_table_history_describes_the_commit_log"),
        ("test_corpus_ops.py", "test_paragraph_dedup_identity_property"),
        ("test_corpus_ops.py", "test_remove_repeated_substrings_identity_property"),
        ("test_corpus_ops.py", "test_semantic_dedup_drops_planted_keeps_min_id"),
        ("test_datasource.py", "test_batch_format_matches_explicit_readers"),
        ("test_datasource.py", "test_format_reads_shallow_clone_abs_entries"),
        ("test_datasource.py", "test_stream_feed_signed_aggregate_and_restart"),
        ("test_datasource.py", "test_stream_feed_survives_midstream_rename"),
        ("test_datasource.py", "test_streaming_sink_exactly_once_append"),
        ("test_datasource.py", "test_writer_create_append_overwrite"),
        ("test_deletion_vectors.py", "test_merge_folds_dv_of_rewritten_files_and_carries_the_rest"),
        ("test_deletion_vectors.py", "test_repeated_dv_deletes_never_double_list"),
        ("test_lifecycle_integration.py", "test_merge_optimize_prune_cycle"),
        ("test_lifecycle_r13.py", "test_constrained_dv_maintenance_clone"),
        ("test_linkage.py", "test_property_similarity_bounds_and_identity"),
        ("test_lm.py", "test_broadcast_model_auto_switch"),
        ("test_lm.py", "test_short_docs_score_null_and_filter_drops_them"),
        ("test_lm.py", "test_trigram_kn_distribution_and_short_docs"),
        ("test_merge.py", "test_merge_then_read_via_manifest_only"),
        ("test_merge.py", "test_shuffle_join_regime_equivalent"),
        ("test_merge.py", "test_update_where_rewrites_only_matching_files"),
        ("test_partition_evolution.py", "test_history_rides_every_commit_and_format_route"),
        ("test_partitioned_table.py", "test_rewrites_preserve_the_directory_layout"),
        ("test_plan_shapes.py", "test_no_cartesian_products_in_data_plane_queries"),
        ("test_publish_clone.py", "test_publish_appends_to_fork_era_sidecars"),
        ("test_publish_clone.py", "test_dv_rekey_roundtrip_through_publish"),
        ("test_publish_clone.py", "test_publish_equals_direct_ops"),
        ("test_publish_clone.py", "test_two_branches_second_publish_conflicts"),
        ("test_publish_clone.py", "test_vacuum_refuses_while_clone_pins_files"),
        ("test_review_r16.py", "test_evolved_column_stays_nullable_and_is_null_works"),
        ("test_shallow_clone.py", "test_clone_is_zero_copy_and_localizes_cow"),
        ("test_shallow_clone.py", "test_clone_of_bucketed_table_keeps_pruning"),
        ("test_table_model.py", "test_random_commit_sequences_match_dict_model"),
        ("test_table_schema.py", "test_check_constraints_enforced_at_commit"),
        ("test_temporal.py", "test_asof_join_sliced_equivalence"),
        ("test_unicode_norm.py", "test_skeleton_is_idempotent"),
    ]
)


def _slow_tests_drift(items):
    """SLOW_TESTS entries whose file is missing, or whose collected file
    defines no such test. Checked against the module object, so a run
    narrowed by node id or ``-k`` reports no false drift."""
    here = os.path.dirname(os.path.abspath(__file__))
    modules = {
        item.fspath.basename: item.module for item in items if hasattr(item, "module")
    }
    drift = []
    for fname, test in sorted(SLOW_TESTS):
        if not os.path.isfile(os.path.join(here, fname)):
            drift.append(f"{fname}::{test} (no such file)")
        elif fname in modules and not hasattr(modules[fname], test):
            drift.append(f"{fname}::{test} (no such test)")
    return drift


def pytest_collection_modifyitems(config, items):
    drift = _slow_tests_drift(items)
    if drift:
        raise _pytest.UsageError(
            "tests/conftest.py SLOW_TESTS names tests that do not exist: "
            + ", ".join(drift)
        )
    for item in items:
        base = item.name.split("[", 1)[0]
        if (item.fspath.basename, base) in SLOW_TESTS:
            item.add_marker(_pytest.mark.slow)
