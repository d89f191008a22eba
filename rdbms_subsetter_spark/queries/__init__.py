"""The query registry: every graded entry, its DuckDB oracle, and the
order the entries are graded in.

Each domain module (subset, tpch, sql, events, dedup, similarity, text,
sources) decorates its query functions with ``register``; importing
this package imports them all, which fills ``QUERIES`` (name ->
``fn(spark, sf_dir) -> DataFrame``) and ``ORACLES`` (name -> DuckDB SQL;
entries graded rows-only have none).

Oracle contract: every computed column is aliased identically on both
engines; floats are rounded on both sides (JVM-side ``F.round``, never
numpy) so summation-order noise can't break the value hash; ordering
keys carry unique tie-breaks; outputs hold no array/map columns.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

Query = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, Query] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[Query], Query]:
    """Decorator: register ``fn`` as the entry ``name`` with its oracle SQL."""

    def deco(fn: Query) -> Query:
        if name in QUERIES:
            raise ValueError(f"query {name!r} is already registered")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# Entries are graded in this order, a limited window of them per run.
# Place a new entry, or one whose semantics (and oracle) changed, at the
# front so it grades in the next window.
GRADING_ORDER: tuple[str, ...] = (
    "subset_summary", "subset_integrity", "row_counts", "filter_eq",
    "point_lookup", "anti_join_childless", "semi_join_parents", "child_topk",
    "sample_fraction", "sample_logarithmic", "forced_rows_closure",
    "sequence_resync", "plan_preview", "schema_overview",
    "agg_pricing_summary", "join_revenue_by_nation", "window_rank_running",
    "set_ops", "scalar_functions", "date_functions", "json_extract_events",
    "events_hourly", "sessionize", "dedup_exact", "dedup_ngram_jaccard",
    "dedup_minhash_lsh", "dedup_simhash", "dedup_embedding_cosine",
    "ann_cosine_topk", "ann_srp_bucketed", "text_stats", "lang_id",
    "multimodal_metadata", "multimodal_decode", "multimodal_frame_sample",
    "streaming_hourly", "asof_join_latest_order", "asof_join_prev_event",
    "range_join_price_bands", "agg_rollup", "agg_cube", "map_functions",
    "agg_distinct_percentile", "join_topk_unshipped", "sample_stratified",
    "agg_approx_sketches", "top_orders_global", "window_lag_lead_ntile",
    "csv_source_agg", "json_source_agg", "text_tokenize_bpe",
    "doc_fingerprint_winnow", "ann_ivf_topk", "join_outer_full",
    "string_functions", "sql_api", "events_sliding", "streaming_sliding",
    "agg_pivot", "array_functions", "multimodal_resize", "multimodal_features",
    "udf_grouped_zscore", "udtf_sentence_split", "streaming_sessions",
    "streaming_stateful_totals", "sql_exists_subquery", "join_in_having",
    "sql_scalar_subquery", "agg_grouping_sets", "agg_custdist",
    "embed_quantize_int8", "doc_chunk_windows", "doc_pack_sequences",
    "window_first_last_nth", "array_higher_order", "udf_scalar_pandas",
    "sql_correlated_scalar", "sql_not_in_null_aware", "agg_unpivot",
    "agg_collect_set", "window_time_range", "agg_stats_moments", "set_ops_all",
    "dedup_cc_clusters", "merge_upsert_latest", "explode_posexplode",
    "events_rollup_daily", "docpipe_quality_filter",
    "partitioned_source_prune", "agg_salted_skew", "orc_source_agg",
    "join_bucketed", "events_gapfill", "streaming_dedup_keys",
    "streaming_static_join", "streaming_foreachbatch", "scalar_try_functions",
    "sql_recursive_cte", "agg_listagg", "agg_argminmax", "sql_lateral_topk",
    "text_repetition_ngrams", "graph_triangle_count", "events_funnel",
    "events_retention", "xml_source_agg", "binaryfile_source",
    "pysource_generate", "streaming_stream_join", "mixture_weighted_sample",
    "decontaminate_ngram", "dedup_semdedup", "tfidf_bm25",
    "events_interpolate", "graph_pagerank", "scd2_intervals",
    "mixture_temperature_sample", "join_salted_skew", "events_downsample_m4",
    "cdc_apply_changelog", "window_running_distinct", "json_variant_extract",
    "sql_pipe_syntax", "udf_map_in_arrow", "streaming_transform_with_state",
    "text_source_agg", "pii_redact", "shard_assignment", "zorder_cluster",
    "curation_funnel", "docpipe_gopher_rules", "split_train_valid_test",
    "heavy_hitters_tokens", "token_length_histogram", "skew_report",
    "events_anomaly_zscore", "incr_ingest_watermark",
    "dedup_substring_coverage", "embed_norm_stats", "sql_group_by_all",
    "agg_unpivot_grouped", "dq_constraint_report", "er_fuzzy_join",
    "file_layout_report", "events_winsorize", "events_attribution",
    "events_cohort_matrix", "events_mad_outliers", "dq_benford_digits",
    "orders_seasonality", "lineitem_pareto_share", "events_changepoint_cusum",
    "quality_lm_score", "mixture_dsir_weights", "embed_pca_project",
    "dedup_ngram_containment", "text_token_entropy",
    "streaming_curation_funnel", "dq_observed_metrics", "incr_agg_maintenance",
    "sql_null_semantics", "sample_weighted_topk", "doc_keywords_tfidf",
    "asof_join_nearest", "equidepth_histogram", "jdbc_source_agg",
    "graph_pagerank_fixture", "dedup_semdedup_fixture", "docs_per_source_cap",
    "dedup_paragraph_exact", "corpus_overlap_jaccard", "eval_balanced_sample",
    "knn_graph_degree", "sql_parameterized", "sql_identifier_clause",
    "sql_session_variables", "sql_lateral_alias", "sql_execute_immediate",
    "pysource_stream_agg", "subset_incremental_delta", "ann_ivf_fixture",
    "schema_evolution_agg", "nested_struct_ops", "json_struct_parse",
    "multimodal_real_roundtrip", "hybrid_search_rrf",
    "streaming_stream_join_outer", "udtf_dynamic_schema",
    "sessionize_dynamic_gap", "streaming_chained_agg", "compaction_plan",
    "udf_cogrouped_merge", "join_strategy_hints", "dq_quarantine_split",
    "agg_bitmap_distinct", "child_topk_with_ties", "sql_collations",
    "set_union_missing_cols", "mixture_epoch_upsample", "ann_srp_fixture",
    "embed_pca_fixture", "agg_sketch_error_bounds", "join_runtime_bloom",
    "streaming_dedup_ttl", "merge_partition_pruned",
    "streaming_state_introspection", "pysource_write_roundtrip",
    "tpch_min_cost_supplier", "tpch_forecast_revenue", "tpch_volume_shipping",
    "tpch_market_share", "tpch_product_profit", "tpch_returned_items",
    "tpch_important_parts", "tpch_priority_class", "tpch_promo_revenue",
    "tpch_top_supplier", "tpch_parts_supplier_counts",
    "tpch_disjunctive_filter", "tpch_waiting_suppliers", "tpch_idle_customers",
    "tpch_dominant_supplier", "sql_qualify_topk", "embed_quant_recall",
    "join_cardinality_sketch", "streaming_session_append", "incr_agg_retract",
    "dedup_minhash_cross_corpus", "agg_approx_top_k", "streaming_ttl_activity",
    "dedup_cc_clusters_minlabel", "dedup_substring_exact",
    "window_salted_running_total", "dedup_minhash_keep", "agg_hll_rollup",
    "agg_regression", "ann_srp_recall", "ann_ivf_recall",
    "streaming_asof_enrich", "decontaminate_substring", "knn_graph_blocked",
    "dedup_simhash_pairs", "avro_source_agg", "agg_quantile_rollup",
)

# Each domain module registers its entries on import.
from rdbms_subsetter_spark.queries import (  # noqa: E402,F401
    dedup,
    events,
    similarity,
    sources,
    sql,
    subset,
    text,
    tpch,
)
