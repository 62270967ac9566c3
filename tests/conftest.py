import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ideafast_etl_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


# ---------------------------------------------------------------------------
# Fast default profile (r13; VERDICT r12 #1).
#
# The full suite outgrew the round driver's verify window (~39-46 min:
# VERIFY_r12 truncated mid-run with zero failures shown), so the heavy
# crash-matrix / hypothesis / scale-parity tests are marked
# `slow` and the DEFAULT profile skips them (pyproject addopts `-m "not
# slow"`), keeping a <10-minute gate that still touches every operator
# family at least once. Nothing is deleted: run EVERYTHING with
#
#     python -m pytest tests/ -m "slow or not slow"
#
# The split is centralized here (not scattered per-file decorators) so the
# curated list is one diff to audit and parametrized ids can be matched
# exactly. Criteria: measured call time >= ~4 s in the r13 full-suite
# durations run, minus one kept representative per operator family.
# ---------------------------------------------------------------------------

# whole files: themed heavy suites — e2e pipelines, streaming DAG restarts,
# the delta-publish protocol, dup-dense posture parity
SLOW_FILES = {
    "test_pipeline_e2e.py",           # 105 s: full-DAG e2e reruns
    "test_streaming_pipeline.py",     # 53 s: streaming DAG restarts
    "test_state_delta.py",            # 56 s: delta-publish protocol
    "test_auto_postures.py",          # 57 s: dup-dense posture parity
}

# individual tests (file::name, parametrized ids exact) — heavy members of
# otherwise-fast files; at least one fast representative per family stays
# in the default profile
SLOW_TESTS = {
    "test_cdc_changes.py::test_incremental_view_maintenance_from_cdc",
    "test_clustering.py::test_hierarchical_kmeans_planted_dups_and_determinism",
    "test_clustering.py::test_hierarchical_small_corpus_falls_back_to_flat",
    "test_clustering.py::test_semantic_dedup_cap_keeps_lowest_id_semantics",
    "test_dedup_and_joins.py::test_star_candidates_preserve_dup_cluster_connectivity",
    "test_interval_join.py::test_bucketed_parity_fuzz_with_hot_device",
    "test_ivf.py::test_seed_determinism",
    "test_ivf.py::test_partial_probe_recall_on_clustered_data",
    "test_ivfpq.py::test_hotsplit_deterministic_under_repartition",
    "test_ivfpq.py::test_hotsplit_breaks_up_dup_dense_cell",
    "test_ivfpq.py::test_hotsplit_auto_cap_is_identity_on_uniform",
    "test_ivfpq.py::test_hotsplit_huge_cap_is_identity",
    "test_ivfpq.py::test_ivfpq_deterministic_under_repartition",
    "test_ivfpq.py::test_hotsplit_degenerate_cell_keeps_parent_centroid",
    "test_ivfpq.py::test_ivfpq_recall_vs_brute_force",
    "test_jpeg.py::test_progressive_through_spark_decode_path",
    "test_lm.py::test_fused_equals_composed_addk_and_kn",
    "test_metrics_and_fetch.py::test_distributed_fetch_skips_unavailable",
    "test_multi_device.py::test_two_device_types_share_state_without_interference",
    "test_mview_stats.py::test_state_is_mergeable",
    "test_optimize.py::test_compaction_preserves_data",
    "test_packing.py::test_weighted_sample_properties",
    "test_packing.py::test_weighted_sample_weight_domain",
    "test_packing.py::test_assign_shards_contiguous_positions_and_stability",
    "test_plan_audits.py::test_plan_markers_hold[embedding_topk_ivfpq_hotsplit]",
    "test_plan_audits.py::test_plan_markers_hold[leakage_safe_splits]",
    "test_plan_audits.py::test_plan_markers_hold[embedding_topk_ivfpq]",
    "test_plan_audits.py::test_plan_markers_hold[quality_classifier_scores]",
    "test_plan_audits.py::test_plan_markers_hold[embedding_topk_ivf]",
    "test_pq.py::test_pq_deterministic_under_repartition",
    "test_pq.py::test_pq_retrieves_planted_near_dup",
    "test_pq.py::test_pq_topk_matches_twin_scores",
    "test_properties.py::test_shingle_rows_equals_array_shingles",
    "test_properties.py::test_day_bucket_invariants",
    "test_rest_datasource.py::test_partitioned_rest_scan_reads_all_rows",
    "test_retrieval.py::test_mmr_matches_python_twin_fuzz[distributed]",
    "test_retrieval.py::test_mmr_loop_strategy_parity_with_planted_ties",
    "test_selective_merge.py::test_selective_merge_rewrites_only_target_partition",
    "test_skew_gate.py::test_interval_join_bucketed_decomposition_holds",
    "test_store_model.py::test_store_matches_model",
    "test_streaming.py::test_streaming_dedup_within_watermark_differing_event_times",
    "test_substring_dedup.py::test_hypothesis_twin",
    "test_substring_dedup.py::test_min_len_boundary",
    "test_text_and_similarity.py::test_lsh_topk_subset_of_brute_force_quality",
    "test_text_and_similarity.py::test_grid_near_dup_star_linear_on_hot_cluster",
    "test_timeseries_fuzz.py::test_timeseries_ops_match_oracle_on_random_events",
    "test_tokenizer.py::test_bpe_deterministic_under_repartition",
    "test_tokenizer.py::test_bpe_merges_match_twin_exactly",
}


def pytest_collection_modifyitems(config, items):
    """Mark the curated tests ``slow``. An entry that names a missing file,
    or a test its fully collected file no longer has, is stale and raises:
    a deleted or renamed test must leave the lists with it."""
    here = os.path.dirname(os.path.abspath(__file__))
    missing = sorted(f for f in SLOW_FILES if not os.path.exists(os.path.join(here, f)))
    if missing:
        raise pytest.UsageError(f"SLOW_FILES names missing files: {missing}")
    slow = pytest.mark.slow
    collected, matched = set(), set()
    for item in items:
        fname = os.path.basename(str(item.fspath))
        short_id = f"{fname}::{item.nodeid.split('::', 1)[-1]}"
        collected.add(fname)
        if short_id in SLOW_TESTS:
            matched.add(short_id)
        if fname in SLOW_FILES or short_id in SLOW_TESTS:
            item.add_marker(slow)
    # a file selected by node id yields only the named tests
    narrowed = {os.path.basename(a.split("::")[0]) for a in config.args if "::" in a}
    stale = sorted(
        t for t in SLOW_TESTS - matched if t.split("::")[0] in collected - narrowed
    )
    if stale:
        raise pytest.UsageError(f"SLOW_TESTS names tests that were not collected: {stale}")
