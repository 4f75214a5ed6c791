import logging
import sys
import uuid
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from open_street_map_data_wrangling_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("osmdw-tests", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(params=["driver", "spark"])
def fixpoint_path(request, monkeypatch, caplog):
    """Run the test once per fixpoint path of scale.collect_if_small:
    the default bound (the fixtures' tiny relations take the driver
    path) and a negative bound, which forces the Spark round loop even
    for an empty relation.  Afterwards every path decision the test
    triggered must have taken the requested path."""
    from open_street_map_data_wrangling_spark.operators import scale

    if request.param == "spark":
        monkeypatch.setattr(scale, "DRIVER_SOLVE_BOUND", -1)
    caplog.set_level(logging.INFO, logger=scale.__name__)
    yield request.param
    taken = [
        r.getMessage()
        for r in caplog.get_records("call")
        if r.name == scale.__name__
    ]
    assert taken, "no fixpoint path decision was made"
    assert all(f" {request.param} path " in m for m in taken), taken


@pytest.fixture
def count_jobs(spark):
    """count_jobs(fn) -> number of Spark jobs fn() starts, counted by
    a job group around the call."""
    sc = spark.sparkContext

    def run(fn) -> int:
        group = f"job-pin-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job-count pin")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return run


# ---------------------------------------------------------------------------
# Fast CI lane (r11): the suite's measured >=2.5s tail — registry-wide
# sweeps, streaming soaks, build/serve roundtrips — is auto-marked
# `slow` by name here (one maintainable set, no per-file decorator
# drift).  `pytest -m "not slow"` is the <5-minute iteration lane;
# plain `pytest tests/` still runs everything (CI / judge lane).
# Names measured from a full --durations run at r11 HEAD; a renamed
# test silently falls back into the fast lane, which only costs lane
# time, never coverage.

_SLOW_TESTS = {
    "test_all_bucket_pairs_equals_bruteforce",
    "test_ann_recall_family_is_checkpoint_fed",
    "test_asof_join_matches_python",
    "test_bm25_index_build_serve_matches_inline",
    "test_bm25_index_maintenance_matches_batch_build",
    "test_bpe_merges_match_pure_python_replay",
    "test_capped_band_pairs_drop_semantics",
    "test_cms_counter_maintenance_needs_and_uses_markers",
    "test_datasource_matches_mapinpandas_path",
    "test_drift_stats_maintenance_matches_batch_and_serves_report",
    "test_etl_to_sqlite_reference_migration",
    "test_every_registered_query_survives_empty_tables",
    "test_every_registered_query_survives_null_payloads",
    "test_full_etl_roundtrip",
    "test_geohash_clustering_buys_prefix_and_bbox_skipping",
    "test_greedy_chain_rejects_semantics",
    "test_hardneg_cells_maintenance_matches_rebuild",
    "test_hardneg_index_build_serve",
    "test_hll_sketch_maintenance_matches_batch_and_survives_replay",
    "test_incremental_hourly_rollup",
    "test_incremental_near_dedup_stream",
    "test_int8_scales_maintenance_matches_batch_and_serves",
    "test_interval_bucket_join_equals_nlj",
    "test_ivf_lloyd_training_improves_assignment_quality",
    "test_ivfpq_compaction_folds_history_and_applies_updates",
    "test_ivfpq_index_maintenance_matches_rebuild_and_survives_replay",
    "test_ivfpq_maintenance_soak_survives_restarts",
    "test_ivfpq_persisted_index_matches_inline",
    "test_kcore_toy_path_vs_clique_and_fixpoint",
    "test_keep_best_containment_clusters_excerpt_lsh_misses",
    "test_lm_vocab_maintenance_matches_batch_and_serves_scoring",
    "test_maxsim_served_matches_inline_and_prunes",
    "test_near_dedup_merge_is_retry_safe",
    "test_near_dedup_soak_restart_and_redeliver",
    "test_no_cartesian_products_anywhere",
    "test_oracle_checked_queries_emit_only_hash_safe_dtypes",
    "test_pagerank_matches_pure_python_replay_bit_for_bit",
    "test_pagerank_top20_is_stable",
    "test_pq_trained_recall_never_below_seed",
    "test_pq_training_reduces_quantization_error",
    "test_rrf_served_is_partition_pruned",
    "test_rrf_search_over_maintained_stores_matches_batch",
    "test_epoch_shuffle_is_seeded_permutation",
    "test_loader_batches_fill_budget_and_tile_positions",
    "test_loss_mask_spans_agree_with_dup_spans",
    "test_rrf_served_matches_inline_fusion",
    "test_sampled_queries_identical_under_relayout",
    "test_scd2_dimension_maintenance",
    "test_scd2_merge_is_idempotent_on_retry",
    "test_scd2_merge_matches_python",
    "test_scd2_soak_survives_restarts",
    "test_scd2_three_generations_and_empty_batch",
    "test_semantic_dedup_matches_numpy_replay",
    "test_shard_manifest_maintenance_matches_one_shot_plan",
    "test_source_overlap_maintenance_matches_inline",
    "test_span_gram_store_matches_batch_and_gates_new_docs",
    "test_stream_reader_ingests_file_drops",
    "test_text_index_maintenance_matches_batch_build",
    "test_update_stamps_is_idempotent_and_sound",
    "test_weighted_sample_rule_matches_python",
    "test_winnow_print_maintenance_matches_batch_and_is_idempotent",
    "test_write_training_corpus_sink_roundtrip",
    "test_bm25_search_arbitrary_term_width",
    "test_bm25_search_many_equals_per_query_serving",
    "test_ivfpq_search_many_equals_per_query_serving",
    "test_rrf_search_many_equals_per_query_serving",
    "test_maxsim_search_many_equals_per_query_serving",
    "test_jpeg_codec_roundtrip_entropy_and_profile_rejects",
    # r12 additions (build/serve roundtrips and registry queries on
    # real fixtures — each measured >= 15 s)
    "test_purge_bm25_index_matches_filtered_rebuild",
    "test_purge_ivfpq_index_matches_filtered_rebuild",
    "test_purge_text_index_matches_filtered_rebuild",
    "test_purge_image_prints_and_contamination_bands",
    "test_tombstone_served_never_surfaces_deleted",
    "test_image_dedup_finds_planted_twin_not_distinct",
    "test_filtered_batch_search_avoids_post_filter_starvation",
    "test_filtered_bm25_batch_keeps_global_idf",
    "test_model_token_counts_consistent_with_loader_manifest",
    "test_contamination_store_serves_inline_gate",
    "test_image_prints_store_serves_dedup_gate",
    "test_proximity_search_matches_brute_force",
    "test_geo_index_maintenance_replay_and_purge",
    "test_meta_store_lifecycle_preserves_filter_columns",
    "test_multimodal_dedup_merges_channels",
    # starts a second Spark session in a subprocess (~10 s)
    "test_foreign_cwd_session_runs_python_tasks",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.name.split("[")[0] in _SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
