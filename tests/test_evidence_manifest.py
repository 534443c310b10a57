"""Independent-evidence manifest — round-4 verdict task #2.

The driver's bit-exact gate proves Spark and DuckDB COMPUTE THE SAME
THING; it cannot prove they compute the RIGHT thing when both sides
splice the same Python-built fragment (the round-3 median bug passed
the gate for two rounds because engine and oracle shared the formula
text).  This manifest records, for EVERY registered query, the evidence
that is independent of the shared fragments:

- "oracle" — the oracle shares no value-producing expression with the
  engine: it re-states the semantics in hand-written SQL over standard
  functions (two engines independently implementing SQL semantics), so
  the gate row itself is two independent computations.  Shared synthetic
  INPUT derivations (the _PTS_SQL point/field synthesis) do not count as
  value-producing: both sides see the same input rows by construction
  and a bug there changes the test data, not the operator's semantics.
- "tests/<file>::<test>" — a pytest whose expected values come from a
  hand calculation, an independent numpy/Python/hashlib reference, a
  pinned external vector, or a planted-ground-truth construction.

test_manifest_covers_registry fails when a new query lands without an
entry; test_manifest_pointers_resolve fails when a referenced test is
renamed or deleted.  Adding a query therefore forces choosing (and
keeping alive) its independent evidence.
"""

import re
import sys

sys.path.insert(0, "/root/repo")

T = "tests"

EVIDENCE: dict[str, list[str]] = {
    # ---------------- spatial / interpolation kernels (sqlgen fragments)
    "tile_bilinear": [
        f"{T}/test_spark_spatial.py::test_spatial_join_matches_numpy_oracle",
        f"{T}/test_core_kernels.py::test_bilinear_goldens",
        f"{T}/test_spark_spatial.py::test_cell_id_expr_matches_numpy",
    ],
    "temporal_interp": [
        f"{T}/test_spark_spatial.py::test_temporal_join_matches_numpy_oracle",
        f"{T}/test_core_kernels.py::test_temporal_weights_linear",
    ],
    "temporal_interp_irregular": [
        f"{T}/test_spark_spatial.py::test_temporal_irregular_boundary_and_midpoint",
    ],
    "asof_irregular": [
        f"{T}/test_spark_spatial.py::test_temporal_irregular_boundary_and_midpoint",
    ],
    "alt_interp_trilinear": [
        f"{T}/test_spark_spatial.py::test_trilinear_matches_independent_numpy",
        f"{T}/test_spark_spatial.py::test_trilinear_plane_exactness_and_clamp",
    ],
    "grid_cells_join": [
        f"{T}/test_spark_spatial.py::test_spatial_join_matches_numpy_oracle",
    ],
    "grid_merge": [
        f"{T}/test_merge.py::test_two_file_merge_spans_and_fills",
        f"{T}/test_merge.py::test_merge_tecu_fill_rescales_exponent",
    ],
    "grid_3x3_mean": [
        # mean over the 3x3 ring: ring membership is the risky kernel
        f"{T}/test_core_cellid.py::test_ring_interior",
        f"{T}/test_core_cellid.py::test_ring_pole_clamps_rows",
        "oracle",
    ],
    "grid_resample": [
        f"{T}/test_core_linspace.py::test_stretch_resample_invariants",
    ],
    "gap_fill_epochs": [
        f"{T}/test_spark_spatial.py::test_gap_fill_series_hand_computed",
        f"{T}/test_properties.py::test_gap_fill_matches_pandas_interpolate",
    ],
    "ionex_file_bilinear": [
        # oracle NEVER reads the file: pure arithmetic twin of an
        # ingest -> cell rebuild -> bilinear pipeline
        "oracle",
        f"{T}/test_ionex_spark_io.py::test_ingest_values_match_core_parser",
        f"{T}/test_core_ionex_io.py::test_testpoint_vector_against_field",
    ],
    "cell_geodesic_metrics": [
        f"{T}/test_geodesic.py::test_unit_cell_goldens",
        f"{T}/test_geodesic.py::test_meridian_quarter",
    ],
    "ipp_slant": [
        f"{T}/test_ipp.py::test_ipp_matches_numpy_twin",
        f"{T}/test_ipp.py::test_ipp_sidecar_pinned_to_numpy_twin",
    ],
    "quantize_roundtrip": [
        f"{T}/test_core_quantized.py::test_round_trip",
        f"{T}/test_core_quantized.py::test_tec_scaling",
    ],
    "nearest_grid_lines": [
        f"{T}/test_core_linspace.py::test_nearest_lower",
        f"{T}/test_core_linspace.py::test_nearest_above",
    ],
    "epochs_distinct": ["oracle"],
    "epoch_bounds": ["oracle"],
    "epoch_mask_filters": ["oracle"],
    "timeseries_cells": ["oracle"],
    "filename_attributes": ["oracle"],
    "roi_filter": [
        "oracle",
        f"{T}/test_roi.py::test_worldwide_to_regional_bounds",
    ],
    # ---------------- tiles / cell ids (cellid packing fragments)
    "cell_rollup": [
        f"{T}/test_spark_spatial.py::test_cell_id_expr_matches_numpy",
        f"{T}/test_spark_spatial.py::test_cell_parent_expr_matches_numpy",
        f"{T}/test_core_cellid.py::test_parent_contains_child",
    ],
    "tile_kring_counts": [
        f"{T}/test_core_cellid.py::test_ring_interior",
        f"{T}/test_core_cellid.py::test_ring_dateline_wraps",
    ],
    "tile_polyfill": [
        f"{T}/test_spark_ops.py::test_pip_known_points",
        f"{T}/test_spark_spatial.py::test_cell_id_expr_matches_numpy",
    ],
    "tile_compact": [
        f"{T}/test_spark_ops.py::test_compact_uncompact_roundtrip",
    ],
    "tile_coverage_gaps": ["oracle"],
    "zorder_blocks": [
        f"{T}/test_spark_ops.py::test_morton_key_locality",
    ],
    "geohash_prefix_counts": [
        f"{T}/test_spark_ops.py::test_geohash_known_vectors",
    ],
    "zonal_stats_polygons": [
        f"{T}/test_spark_ops.py::test_pip_known_points",
        f"{T}/test_spark_ops.py::test_pip_edges_vs_winding_udf",
    ],
    "pip_polygons": [
        f"{T}/test_spark_ops.py::test_pip_known_points",
        f"{T}/test_spark_ops.py::test_pip_edges_vs_winding_udf",
    ],
    # ---------------- kNN / geo
    "knn_grid": [
        f"{T}/test_spark_ops.py::test_knn_matches_brute_force",
    ],
    "knn_points": [
        "oracle",  # exhaustive exact kNN SQL vs engine filter-refine
        f"{T}/test_spark_ops.py::test_knn_points_exact_both_paths",
    ],
    "knn_points_metrics": [
        f"{T}/test_spark_ops.py::test_knn_fallback_metrics_pathological_sparse",
        f"{T}/test_spark_ops.py::test_knn_points_exact_both_paths",
    ],
    "radius_search_sites": [
        f"{T}/test_geo.py::test_radius_search_matches_unfiltered_brute_force",
        f"{T}/test_geo.py::test_haversine_known_distances",
    ],
    "voronoi_site_rollup": [
        f"{T}/test_geo.py::test_nearest_site_assign_matches_numpy_argmin",
    ],
    "user_tracks": [
        f"{T}/test_geo.py::test_haversine_known_distances",
    ],
    # ---------------- dedup family (md5 hash twins are definitional;
    # evidence = planted ground truth / semantic recall)
    "dedup_exact": [
        "oracle",
        f"{T}/test_spark_ops.py::test_exact_dedup",
    ],
    "dedup_minhash": [
        f"{T}/test_spark_ops.py::test_minhash_lsh_finds_near_dups",
    ],
    "dedup_minhash_pairs": [
        f"{T}/test_spark_ops.py::test_minhash_lsh_finds_near_dups",
        f"{T}/test_spark_ops.py::test_minhash_lsh_recall_statistical",
    ],
    "dedup_simhash": [
        f"{T}/test_spark_ops.py::test_simhash_similarity",
    ],
    "dedup_simhash_pairs": [
        f"{T}/test_spark_ops.py::test_simhash_near_dup_pairs_end_to_end",
        f"{T}/test_spark_ops.py::test_simhash_refined_candidates_complete_and_near_linear",
    ],
    "dedup_simhash_pairs_bands": [
        f"{T}/test_spark_ops.py::test_simhash_refined_matches_band_scheme",
    ],
    "dedup_groups": [
        f"{T}/test_spark_ops.py::test_connected_components_chain_and_convergence_guard",
        f"{T}/test_spark_ops.py::test_connected_components_deep_chain_and_parity",
    ],
    "dedup_groups_star": [
        f"{T}/test_spark_ops.py::test_connected_components_deep_chain_and_parity",
    ],
    "embedding_near_dups": [
        f"{T}/test_spark_ops.py::test_phash_near_dup_pairs",
        f"{T}/test_spark_ops.py::test_planes_for_bounds_candidate_count",
    ],
    "embedding_dedup_groups": [
        "oracle",  # recursive-CTE CC vs union-find: different algorithms
        f"{T}/test_spark_ops.py::test_connected_components_deep_chain_and_parity",
    ],
    "dedup_containment_pairs": [
        f"{T}/test_spark_ops.py::test_containment_asymmetric_planted",
    ],
    "dedup_containment_capped": [
        f"{T}/test_spark_ops.py::test_containment_asymmetric_planted",
        f"{T}/test_spark_ops.py::test_containment_doc_freq_cap_never_false_positive",
    ],
    "decontam_bench_overlap": [
        f"{T}/test_spark_ops.py::test_contamination_hits_planted",
        f"{T}/test_spark_ops.py::test_contamination_id_collision_is_not_exempt_by_default",
    ],
    # ---------------- text / tokens
    "text_features": [
        f"{T}/test_independent_fixtures.py::test_text_features_python_reference",
    ],
    "lang_id_accuracy": [
        f"{T}/test_independent_fixtures.py::test_text_features_python_reference",
    ],
    "corpus_quality_filter": [
        f"{T}/test_independent_fixtures.py::test_text_features_python_reference",
    ],
    "text_normalize": ["oracle"],  # two regexp engines, hand-written both sides
    "token_counts_bpe": [
        "oracle",  # Java regex vs RE2 independently implement the pattern
        f"{T}/test_spark_ops.py::test_whitespace_class_tokenization_parity",
        f"{T}/test_independent_fixtures.py::test_text_features_python_reference",
    ],
    "token_doc_frequency": ["oracle"],
    "tfidf_top_terms": [
        f"{T}/test_independent_fixtures.py::test_tfidf_hand_computed",
    ],
    "doc_rolling_hash": [
        f"{T}/test_independent_fixtures.py::test_rolling_hash_hand_computed",
    ],
    "token_drift_top": [
        f"{T}/test_independent_fixtures.py::test_token_drift_hand_computed",
    ],
    "repetition_ngrams": [
        f"{T}/test_spark_ops.py::test_repetition_stats_hand_computed",
    ],
    "stratified_sample": [
        f"{T}/test_independent_fixtures.py::test_stratified_sample_python_reference",
    ],
    "pack_sequences": [
        f"{T}/test_independent_fixtures.py::test_pack_sequences_python_reference",
    ],
    "bpe_pair_counts": [
        f"{T}/test_spark_ops.py::test_bpe_train_matches_reference",
    ],
    "domain_blocklist_rollup": ["oracle"],
    # ---------------- sketches
    "token_countmin_sketch": [
        f"{T}/test_spark_ops.py::test_countmin_overestimate_and_bound",
    ],
    "distinct_users_kmv": [
        f"{T}/test_spark_ops.py::test_kmv_distinct_accuracy_and_exact_regime",
        f"{T}/test_spark_ops.py::test_kmv_distinct_multi_group_and_backends",
    ],
    "bloom_filter_tokens": [
        f"{T}/test_spark_ops.py::test_bloom_filter_semantics",
    ],
    "histogram_quantiles_value": [
        f"{T}/test_independent_fixtures.py::test_histogram_quantiles_hand_computed",
    ],
    "url_dedup_canonical": [
        f"{T}/test_independent_fixtures.py::test_canonical_url_python_reference",
    ],
    "tile_representative_image": [
        f"{T}/test_independent_fixtures.py::test_tile_representative_hand_computed",
    ],
    "domain_pagerank": [
        f"{T}/test_independent_fixtures.py::test_pagerank_int_python_reference",
        f"{T}/test_independent_fixtures.py::test_pagerank_int_duplicate_and_self_edges_ignored",
    ],
    # ---------------- similarity / embeddings
    "similarity_topk": [
        f"{T}/test_spark_ops.py::test_brute_force_topk_matches_numpy",
    ],
    "similarity_lsh_ann": [
        f"{T}/test_spark_ops.py::test_lsh_ann_recall",
    ],
    "similarity_lsh_multiprobe": [
        f"{T}/test_spark_ops.py::test_lsh_multiprobe_beats_single_bucket",
    ],
    "similarity_ivf": [
        f"{T}/test_spark_ops.py::test_ivf_recall_guardrail",
    ],
    "similarity_ivf_bucketed": [
        f"{T}/test_spark_ops.py::test_ivf_recall_guardrail",
        f"{T}/test_bucketed.py::test_bucketed_ivf_lists_aggregate_no_exchange",
    ],
    "embedding_quantize_int8": [
        f"{T}/test_spark_ops.py::test_quantize_int8_error_bound",
    ],
    # ---------------- OLAP parity (standard SQL both sides)
    "agg_pricing_summary": ["oracle"],
    "rollup_pricing_levels": ["oracle"],
    "join_orders_customers": ["oracle"],
    "semi_join_active_customers": ["oracle"],
    "topk_orders_per_customer": ["oracle"],
    "revenue_by_nation": ["oracle"],
    "median_value_by_type": [
        f"{T}/test_spark_ops.py::test_median_odd_even_groups",
    ],
    "quartiles_value_by_type": [
        f"{T}/test_spark_ops.py::test_quartiles_hand_computed",
    ],
    "quality_decile_stats": ["oracle"],  # ntile is standard SQL both sides
    "funnel_view_click_purchase": ["oracle"],
    "range_join_windows": ["oracle"],
    "sessionize_events": [
        "oracle",
        f"{T}/test_streaming_sessionize.py::test_streaming_sessionize_matches_batch",
    ],
    "windowed_event_counts": ["oracle"],
    "skew_salted_rollup": [
        "oracle",  # plain GROUP BY vs two-stage salted plan
        f"{T}/test_skew.py::test_salted_rollup_equals_plain",
    ],
    "skew_salted_join": [
        "oracle",  # plain join vs salted join plan
        f"{T}/test_skew.py::test_salted_join_equals_plain_join_and_avoids_broadcast",
    ],
    # ---------------- joins / buckets / CDC / tableio
    "bucketed_join_rollup": [
        f"{T}/test_bucketed.py::test_gate_bucketed_join_query_plan_and_values",
    ],
    "snapshot_diff_events": [
        "oracle",
        f"{T}/test_tableio_streaming.py::test_upsert_copy_on_write_and_cdc",
    ],
    "schema_evolution_rollup": [
        "oracle",  # recomputes the union from raw events, no tableio
        f"{T}/test_tableio_streaming.py::test_schema_evolution_rename_add_and_time_travel",
    ],
    "compacted_snapshot_rollup": [
        "oracle",  # aggregates raw events directly, no tableio
        f"{T}/test_tableio_streaming.py::test_rewrite_data_files_compacts_and_preserves_data",
    ],
    # ---------------- streaming batch twins
    "streaming_neardup_batch": [
        f"{T}/test_streaming_neardup.py::test_streaming_near_dup_alerts_matches_batch",
    ],
    "streaming_dedup_batch": [
        f"{T}/test_tableio_streaming.py::test_streaming_dedup_exact",
    ],
    "attribution_interval_join": [
        "oracle",
        f"{T}/test_streaming_interval_join.py::test_stream_stream_interval_join_matches_batch",
    ],
    # ---------------- multimodal
    "audio_decode_durations": [
        f"{T}/test_av.py::test_audio_features_match_numpy",
        f"{T}/test_av.py::test_pcm16_roundtrip",
    ],
    "video_frame_sample_counts": [
        f"{T}/test_av.py::test_frame_sampling_feeds_image_pipeline",
        f"{T}/test_av.py::test_rawv_roundtrip",
    ],
    "domain_pagerank_dangling": [
        "oracle",  # independent recursive CTE incl. dangling-mass term
        f"{T}/test_independent_fixtures.py::test_pagerank_int_dangling_redistribution_python_reference",
    ],
    "knn_points_adaptive": [
        "oracle",  # certificate + derived cell size re-derived in SQL
        f"{T}/test_spark_ops.py::test_knn_adaptive_cell_beats_fixed_sparse",
        f"{T}/test_spark_ops.py::test_knn_points_exact_both_paths",
    ],
    "patch_extract_stats": [
        "oracle",  # re-derives every patch sum from the trig formula
        f"{T}/test_spark_ops.py::test_patchify_reconstructs_and_grid_shape",
    ],
    "streaming_histogram_batch": [
        "oracle",  # hand SQL over standard date/floor functions
        f"{T}/test_streaming_histogram.py::test_streaming_histogram_matches_batch",
    ],
    # ---------------- tokens -> training shards (round 6)
    "corpus_mixture_sample": [
        f"{T}/test_shards.py::test_mixture_thresholds_exact_arithmetic",
        f"{T}/test_shards.py::test_mixture_sample_matches_hashlib_reference",
        f"{T}/test_properties.py::test_mixture_thresholds_properties",
    ],
    "contamination_safe_split": [
        "oracle",  # transitive closure + hash split re-done in SQL
        f"{T}/test_spark_ops.py::test_contamination_safe_split_no_cross_split_pairs",
    ],
    "embedding_label_centroids": [
        "oracle",  # list_zip/unnest path vs posexplode path
        f"{T}/test_spark_ops.py::test_embedding_group_stats_numpy_reference",
    ],
    "group_sample_topk": [
        "oracle",  # plain window SQL over standard functions
        f"{T}/test_spark_ops.py::test_sample_topk_per_group_stability_properties",
    ],
    "boilerplate_ngram_stats": [
        "oracle",
        f"{T}/test_spark_ops.py::test_boilerplate_ngram_planted_template",
    ],
    "patch_pack_sequences": [
        "oracle",  # patch counts from the (w,h) formula, never decoded
        f"{T}/test_spark_ops.py::test_patchify_reconstructs_and_grid_shape",
    ],
    "mixture_quality_curriculum": [
        "oracle",  # stratum derivation + thresholds + gate all in SQL
        f"{T}/test_shards.py::test_mixture_thresholds_exact_arithmetic",
        f"{T}/test_shards.py::test_mixture_sample_matches_hashlib_reference",
    ],
    "incremental_dedup_bloom": [
        "oracle",  # bitmap + k-bit probe + exact truth re-done in SQL
        f"{T}/test_spark_ops.py::test_incremental_dedup_no_false_negatives_and_prefilter",
    ],
    "dedup_group_representatives": [
        "oracle",  # transitive closure + packed argmax re-done in SQL
        f"{T}/test_spark_ops.py::test_group_representatives_planted_quality_and_ties",
    ],
    "shard_bytes_manifest": [
        "oracle",  # greedy byte fill replayed with one global window
        f"{T}/test_shards.py::test_shard_assign_bytes_matches_single_sort_reference",
    ],
    "shard_manifest_rollup": [
        f"{T}/test_shards.py::test_shard_assign_matches_single_sort_reference",
        f"{T}/test_shards.py::test_shard_manifest_checksum_hashlib_reference",
    ],
}


def _registry_names() -> list[str]:
    import __spark_entry__ as m

    return list(m.queries())


def test_manifest_covers_registry():
    names = set(_registry_names())
    missing = names - set(EVIDENCE)
    assert not missing, (
        f"queries with NO independent-evidence entry: {sorted(missing)};"
        " add a hand-computed/numpy/planted fixture (or justify 'oracle')"
        " in tests/test_evidence_manifest.py"
    )
    stale = set(EVIDENCE) - names
    assert not stale, f"manifest entries for unregistered queries: {sorted(stale)}"


def test_manifest_entries_nonempty_and_valid_form():
    for name, ev in EVIDENCE.items():
        assert ev, name
        for e in ev:
            assert e == "oracle" or re.fullmatch(
                r"tests/[\w.]+\.py::test_\w+", e
            ), (name, e)


def test_manifest_pointers_resolve():
    """Every referenced test function must exist in its file — renames
    and deletions break the manifest loudly, not silently."""
    import os

    repo = "/root/repo"
    by_file: dict[str, set[str]] = {}
    for name, ev in EVIDENCE.items():
        for e in ev:
            if e == "oracle":
                continue
            path, func = e.split("::")
            by_file.setdefault(path, set()).add((name, func))
    for path, wanted in by_file.items():
        full = os.path.join(repo, path)
        assert os.path.exists(full), path
        src = open(full).read()
        defined = set(re.findall(r"^def (test_\w+)", src, re.M))
        for qname, func in wanted:
            assert func in defined, (
                f"{qname}: evidence pointer {path}::{func} does not resolve"
            )
