import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    import tempfile

    from tradingview_data_pipeline_spark.session import get_spark
    s = get_spark("tests", master="local[4]",
                  extra_conf={
                      "spark.sql.shuffle.partitions": "4",
                      "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="wh_"),
                  })
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


# ---------------------------------------------------------------------------
# r13 (VERDICT r12 task 1 — the driver's pytest window): tests whose call
# time exceeded ~5 s in the round-13 full-suite timing run (/tmp durations,
# 480 tests / 1962 s total; the 92 names below carry ~1500 s of it) are
# marked `scale` here CENTRALLY so the default run (`pytest.ini` addopts
# -m "not scale") finishes in ~7-8 min. Nothing is deleted: run the scale
# tier with `-m scale`, or the whole suite with `-m ""` (round-close does).
# Names are bare test-function names; test_reachability.py fails on one
# that no longer names a test under tests/ or perfbench/, so a rename or
# a deletion cannot leave a dead entry behind.
# ---------------------------------------------------------------------------
_SCALE_TESTS = {
    # test_bloom.py
    "test_build_bloom_matches_python_reference",
    "test_decontaminate_bloom_prefilter_is_exact",
    # test_bpe.py
    "test_bpe_local_path_matches_distributed",
    "test_bpe_pair_batch_is_exact",
    # test_classify.py
    "test_logreg_artifact_round_trip",
    "test_logreg_separates_and_score_matches_driver_math",
    # test_graph.py
    "test_matches_numpy_reference_with_dangling",
    "test_null_endpoints_dropped_and_mass_conserved",
    "test_star_graph_center_dominates",
    # test_jobs.py
    "test_backfill_replays_history_in_mtime_order",
    "test_cli_reconcile_detects_divergence",
    "test_cli_reconcile_flags_missing_column",
    "test_cli_train_classifier_then_gate",
    "test_cli_train_logreg_then_gate",
    "test_corpus_prep_learned_quality_gate",
    "test_corpus_prep_logreg_quality_gate",
    "test_corpus_prep_sequence_targets_causal",
    "test_corpus_prep_tokenize_pack_stage",
    "test_full_dag",
    # test_pipelines.py
    "test_fundamental_ranks",
    # test_plan_shapes.py
    "test_single_partition_exchanges_carry_only_aggregates",
    # test_property_cleaning.py
    "test_clean_value_matches_pandas_round2",
    # test_property_corpus.py
    "test_bigram_lm_profile_matches_reference",
    "test_dedupe_lines_global_matches_reference",
    "test_remove_dup_spans_matches_reference",
    "test_repetition_gate_agrees_with_signals",
    "test_repetition_signals_match_reference",
    "test_rrf_property_matches_python",
    "test_token_rarity_matches_reference",
    # test_property_fingerprint_cdc.py
    "test_cdc_and_fingerprint_laws",
    # test_registry_contract.py
    "test_registry_oracle_types_match_spark_schemas",
    # test_scoring.py
    "test_fundamental_modes_and_rank_modes_agree",
    # test_stateful_skew.py
    "test_running_entity_stats_event_time_eviction",
    "test_running_entity_stats_state_across_batches",
    # test_streaming.py
    "test_stream_news_dedup",
    # test_streaming_ema.py
    "test_streaming_ema_drops_late_events",
    "test_streaming_ema_equal_ts_across_batch_boundary",
    "test_streaming_ema_equals_batch_across_microbatches",
    # test_streaming_windows.py
    "test_stream_stream_join_matches_batch",
    # test_temporal_corpus_vectors.py
    "test_semantic_dedup_multi_probe_finds_straddling_pair",
    "test_weighted_sample_k_deterministic_and_biased",
    # test_text_dedup_similarity.py
    "test_connected_components_distributed_matches_driver_path",
    "test_connected_components_distributed_path_graph_converges",
    # test_urls.py
    "test_domain_cap_mode_equivalence",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.name.split("[")[0] in _SCALE_TESTS:
            item.add_marker(pytest.mark.scale)
