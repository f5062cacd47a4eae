"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over the engine's query registry
(``workshoop2_etl_spark/plans/reference_queries.py`` and friends):
``entry`` runs the flagship merge-with-indicator pipeline on sf0.001,
``queries``/``oracle_sql`` expose every implemented operator from
SURVEY.md §2 for the driver's DuckDB correctness gate.

Window rotation contract (VERDICT r11 item 1 / r12 item 1)
----------------------------------------------------------
The driver hash-checks only the FIRST ``_CORRECTNESS_WINDOW`` (50)
``queries()`` entries against their DuckDB oracles; the rest get a
rows-only check.  Which entries occupy the window is therefore part of
the evidence contract.  Since round 13 the window is COMPUTED, not
hand-curated:

1. the 2 anchors (flagship + the parquet-sink round trip) stay pinned;
2. every oracle-backed entry with NO green driver round yet
   (first-timers — including any query added this round) enters next;
3. the remaining slots go to the LEAST-windowed oracles, ranked by
   (green-round count, last green round, name).

``_WINDOW_HISTORY`` below is machine-generated from the recorded
``CORRECTNESS_r*.json`` files by ``tools/rotate_window.py``; run that
first thing each round (and ``--check`` is wired into
``tools/close_round.sh``) so the rotation can never silently go stale.
Every demoted oracle remains exact-value-checked at sf0.01 on every
pytest run by ``tests/test_oracle_parity.py``.

Round-13 rotation (executes the plan codified in round 12): the 18
promised first-timers — 10 holdovers (``active_users_7d_events``,
``activity_streaks_events``, ``attribution_events``,
``clustered_scan_events``, ``holt_trend_events``,
``interpolate_linear_events``, ``kaplan_meier_customers``,
``session_concurrency_events``, ``versioned_timetravel_orders``,
``zscore_lineitem_price``) + 8 round-12 newcomers (Avro/TFRecord
round trips, conditional fetch, classifier training, GIF resize,
schema evolution, wikidump ingest + index fetch) — window beside
the anchors, joined automatically by the 9 round-13 newcomers (PDF
extraction, trained language ID, XML/model-registry/WARC-PDF/FLAC
round trips, JSON-LD, page directives, reservoir sampling; new
oracle-backed queries are first-timers by construction and enter
the window the moment they register), with the least-windowed
oracles filling the remaining slots.  ROUND-14 AND BEYOND is
mechanical: once the driver writes ``CORRECTNESS_r{N}.json``, run
``python tools/rotate_window.py`` — the ledger updates, the window
recomputes onto whatever evidence is thinnest, and the close gate
refuses to ship a stale ledger.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

import workshoop2_etl_spark.plans.basket_queries  # noqa: F401 — registers queries
import workshoop2_etl_spark.plans.coverage_queries  # noqa: F401 — registers queries
import workshoop2_etl_spark.plans.llm_queries  # noqa: F401 — registers queries
import workshoop2_etl_spark.plans.sql_queries  # noqa: F401 — registers queries
import workshoop2_etl_spark.plans.streaming_queries  # noqa: F401 — registers queries
import workshoop2_etl_spark.plans.timeseries_queries  # noqa: F401 — registers queries
import workshoop2_etl_spark.plans.tpch_queries  # noqa: F401 — registers queries
import workshoop2_etl_spark.plans.window_queries  # noqa: F401 — registers queries
from workshoop2_etl_spark.plans.reference_queries import (
    ORACLE_SQL,
    SPARK_QUERIES,
    flagship_merge_indicator,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return flagship_merge_indicator(spark, "/root/testdata/sf0.001")


_CORRECTNESS_WINDOW = 50

#: Pinned first: the reference's flagship pipeline and the canonical
#: parquet sink round trip (window-green every recorded round).
_ANCHORS = ("flagship_merge_indicator", "sink_roundtrip_orders")

# --- WINDOW_HISTORY:BEGIN (generated by tools/rotate_window.py) ---
#: name -> driver rounds where this entry was window-GREEN
#: (rows+schema+hash matched, err null in CORRECTNESS_r{N}.json).
_WINDOW_HISTORY: dict[str, tuple[int, ...]] = {
    "abc_pareto_parts": (12,),
    "active_users_7d_events": (13,),
    "activity_streaks_events": (13,),
    "allpairs_jaccard_documents": (7, 8, 9),
    "anchor_stats_documents": (12,),
    "array_hof_documents": (10, 13),
    "asof_join_events_orders": (6, 7),
    "association_rules_lineitem": (10, 13),
    "attribution_events": (13,),
    "audio_adpcm_features_documents": (9, 13),
    "audio_features_documents": (10, 13),
    "audio_flac_features_documents": (13,),
    "auto_salt_join_orders": (9, 13),
    "avg_price_by_segment": (1, 2, 3, 4, 5, 6, 7, 8),
    "avro_roundtrip_orders": (13,),
    "benford_orders_totalprice": (10, 13),
    "bloom_semijoin_lineitem": (9, 13),
    "bm25_search_documents": (8, 9),
    "brute_force_topk_embeddings": (2, 3, 4, 5, 6, 7, 8, 9),
    "cdc_apply_orders": (6, 7),
    "cdc_read_changes_orders": (9, 13),
    "cdx_fetch_plan_documents": (12,),
    "cdx_ingest_documents": (12,),
    "cdx_range_fetch_documents": (12,),
    "char_entropy_documents": (11, 15),
    "charset_decode_documents": (10, 13),
    "chisq_events_weekday": (10, 14),
    "chunk_documents_128": (10, 14),
    "chunk_overlap_documents": (12,),
    "clustered_scan_events": (13,),
    "coerce_numeric_events_props": (2, 3, 4, 5, 6, 7, 8),
    "cohort_ltv_orders": (12,),
    "compact_roundtrip_orders": (11, 15),
    "concentration_metrics_orders": (12,),
    "conditional_fetch_documents": (13,),
    "contribution_analysis_orders": (12,),
    "corpus_diff_documents": (11, 15),
    "corr_matrix_lineitem": (2, 3, 4, 5, 6, 7),
    "count_distinct_customers": (1, 2, 3, 4, 5, 6),
    "crawl_prep_documents": (10, 14),
    "crawl_upsert_timetravel_documents": (11, 15),
    "csv_roundtrip_region": (2, 3, 4, 5),
    "cube_status_priority": (10, 14),
    "cumulative_monthly_revenue": (3, 4, 5, 6, 7, 8),
    "days_between_events": (2, 3, 4, 5),
    "decontaminate_documents": (11, 15),
    "dedup_rows_order_flags": (2, 3, 4, 5, 6, 7, 8),
    "dim_build_priority": (1, 2, 3, 4, 5, 6, 7, 8, 9),
    "domain_cap_documents": (12,),
    "dp_counts_orders": (10, 14),
    "dq_report_orders": (10, 14),
    "dsir_sample_documents": (7, 8, 9),
    "duplicate_groups_documents": (2, 3, 4, 5, 6, 7),
    "duplicate_spans_documents": (11, 15),
    "dynamic_overwrite_orders": (10, 14),
    "ensure_columns_conform": (2, 3, 4, 5, 6, 7, 8),
    "entity_resolution_customers": (7, 8, 9),
    "ewma_value_events": (8, 9),
    "exact_dedup_documents": (2, 3, 4, 5, 6, 7, 8, 9),
    "filtered_count_distinct": (1, 2, 3, 4, 5, 6, 7, 8),
    "fingerprint_documents": (2, 3, 4, 5, 6),
    "fix_mojibake_documents": (10, 14),
    "flagship_merge_indicator": (1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15),
    "flatten_first_tokens": (2, 3, 4, 5),
    "frame_sample_documents": (2, 3, 4, 5, 6, 7),
    "from_records_lookup_join": (2, 3, 4, 5, 6, 7, 8, 9),
    "frontier_crawl_delay_documents": (11, 15),
    "frontier_waves_documents": (11, 15),
    "funnel_conversion_events": (11, 15),
    "fuzzy_join_big_customers": (8, 9),
    "fuzzy_join_nation_names": (10, 14),
    "geomean_grouped_agg_orders": (10, 14),
    "global_ids_documents": (11, 15),
    "gopher_rules_documents": (11, 15),
    "group_mean_event_value": (2, 3, 4, 5, 6),
    "grouped_quantiles_by_status": (2, 3, 4, 5, 6, 7, 8),
    "grouping_sets_orders": (10, 14),
    "hard_negatives_embeddings": (10, 14),
    "hash_split_documents": (10, 14),
    "heavy_hitters_bigrams_documents": (8, 9),
    "heavy_keys_orders_custkey": (9, 13),
    "histogram_totalprice": (1, 2, 3, 4, 5, 6),
    "holt_trend_events": (13,),
    "holt_winters_daily_revenue": (7, 8, 9),
    "host_graph_documents": (12,),
    "html_extract_documents": (10, 14),
    "hybrid_rrf_search_documents": (11, 15),
    "image_ahash_documents": (12,),
    "image_ahash_pairs_documents": (12,),
    "image_decode_documents": (6, 7),
    "image_dhash_documents": (12,),
    "incremental_agg_orders": (10, 14),
    "incremental_join_agg_dimchange_orders": (8, 9),
    "incremental_join_agg_orders": (8, 9),
    "interpolate_linear_events": (13,),
    "jdbc_roundtrip_orders": (10, 14),
    "join_health_events_customer": (10, 14),
    "json_props_extract": (2, 3, 4, 5, 6, 7),
    "jsonl_roundtrip_documents": (10, 14),
    "jsonld_extract_documents": (13,),
    "k_anonymity_customers": (10, 14),
    "kaplan_meier_customers": (13,),
    "kcore_word_cooccurrence": (9, 13),
    "kfold_split_documents": (11, 15),
    "ks_drift_orders": (8, 9),
    "label_propagation_copurchase": (9, 13),
    "lakehouse_roundtrip_orders": (7, 8, 9),
    "langid_trained_documents": (13,),
    "language_id_documents": (2, 3, 4, 5, 6, 7, 8, 9),
    "line_dedup_documents": (11, 15),
    "link_graph_documents": (11, 15),
    "lm_quality_buckets_documents": (11, 15),
    "mad_outliers_events": (10, 14),
    "media_metadata_documents": (2, 3, 4, 5, 6, 7),
    "media_payload_dedup": (11, 15),
    "minmax_orderdate": (1, 2, 3, 4, 5),
    "mixture_sample_documents": (11, 15),
    "mode_or_first_lineitem": (1, 2, 3, 4, 5, 6, 7, 8),
    "model_registry_roundtrip_documents": (13,),
    "mom_revenue_growth": (12,),
    "moment_stats_orders": (10, 14),
    "nested_lineitems_orders": (10, 14),
    "nfc_normalize_documents": (14,),
    "ngram_jaccard_pairs_documents": (10, 14),
    "normalize_text_documents": (11, 15),
    "ntile_quartiles_orders": (10, 14),
    "null_profile_events": (2, 3, 4, 5, 6, 7, 8, 9),
    "ols_trend_orders": (10, 14),
    "orc_roundtrip_orders": (10, 14),
    "outlink_stats_documents": (12,),
    "overlap_join_events": (11, 15),
    "pack_chunks_by_lang": (10, 14),
    "page_directives_documents": (13,),
    "pagerank_fixed_point_copurchase": (9, 13),
    "pandas_api_orders": (10, 14),
    "pdf_encrypted_extract_documents": (14,),
    "pdf_text_extract_documents": (13,),
    "pdf_xrefstream_extract_documents": (14,),
    "percent_rank_customers": (10, 14),
    "phrase_search_documents": (11, 15),
    "pii_redact_documents": (6, 7),
    "pivot_status_by_priority": (3, 4, 5, 6, 7, 8),
    "pmi_collocations_documents": (11, 15),
    "pricing_summary": (1, 2, 3, 4, 5, 6, 7, 8),
    "psi_drift_orders": (10, 14),
    "python_datasource_synthetic": (12,),
    "python_stream_datasource_synthetic": (11, 15),
    "quality_classifier_documents": (11, 15),
    "quality_score_documents": (2, 3, 4, 5, 6, 7, 8, 9),
    "quality_train_score_documents": (13,),
    "quantiles_totalprice": (2, 3, 4, 5, 6, 7, 8, 9),
    "range_join_events_within_hour": (6, 7, 8, 9),
    "recode_event_types": (2, 3, 4, 5, 6, 7, 8),
    "recrawl_select_documents": (12,),
    "redirect_resolve_documents": (11, 15),
    "repetition_stats_documents": (10, 14),
    "resample_fill_events": (11, 15),
    "reservoir_sample_orders": (13,),
    "resize_images_documents": (7, 8),
    "resize_images_gif_documents": (13,),
    "resize_images_jpeg_documents": (9, 13),
    "resize_images_jpeg_progressive_documents": (14,),
    "resize_images_png_documents": (8, 9),
    "resize_images_tiff_documents": (14,),
    "resolve_fk_required_routing": (2, 3, 4, 5, 6, 7, 8, 9),
    "retention_cohorts_events": (11, 15),
    "rfm_segments_orders": (10, 14),
    "robots_filter_documents": (10, 14),
    "robots_wildcard_documents": (11, 15),
    "rolling_7d_revenue": (12,),
    "rollup_revenue_year_priority": (10, 14),
    "scd2_customer_status": (10, 14),
    "scd2_pointintime_orders": (10, 14),
    "schema_evolution_orders": (13,),
    "script_profile_documents": (12,),
    "semi_anti_customers": (10, 14),
    "session_concurrency_events": (13,),
    "session_window_events": (3, 4, 5, 6, 7, 8),
    "setops_customer_status": (3, 4, 5, 6),
    "sink_roundtrip_orders": (3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15),
    "sitemap_ingest_documents": (11, 15),
    "skew_profile_events": (9, 13),
    "split_sentences_documents": (12,),
    "sql_lateral_top2_nations": (11, 15),
    "sql_monthly_order_trend": (2, 3, 4, 5, 6),
    "sql_popularity_correlation": (11, 15),
    "sql_recursive_halving_depth": (11, 15),
    "sql_revenue_by_nation": (3, 4, 5, 6, 7, 8, 9),
    "sql_udtf_word_bigrams": (11, 15),
    "sql_variant_props": (11, 15),
    "star_fact_resolution": (1, 2, 3, 4, 5, 6, 7, 8, 9),
    "stratified_sample_documents": (11, 15),
    "streaming_dedup_events": (8, 9),
    "streaming_dedup_watermark_events": (11, 15),
    "streaming_heavy_hitters_events": (9, 13),
    "streaming_hourly_event_counts": (3, 5, 6, 7, 8, 9),
    "streaming_interval_join_events": (11, 15),
    "streaming_interval_join_full_outer_events": (11, 15),
    "streaming_interval_join_outer_events": (11, 15),
    "streaming_interval_join_semi_events": (9, 13),
    "streaming_sliding_event_counts": (11, 15),
    "streaming_static_join_events": (11, 15),
    "streaming_user_sessions": (9, 13),
    "streaming_versioned_sink_events": (11, 15),
    "substring_dedup_documents": (8, 9),
    "summary_stats_lineitem": (1, 2, 3, 4, 5, 6, 7, 8),
    "textrank_fixed_point_documents": (9, 13),
    "tfidf_documents": (3, 4, 5, 6, 7, 8, 9),
    "tfrecord_roundtrip_documents": (13,),
    "tiff_decode_documents": (14,),
    "token_budget_sample_documents": (11, 15),
    "token_stats_documents": (2, 3, 4, 5, 6, 7, 8),
    "top3_customers_per_segment": (3, 4, 5, 6),
    "top_customers_by_revenue": (1, 2, 3, 4, 5, 6, 7, 8, 9),
    "topk_pergroup_partial_lineitem": (10, 14),
    "tpch_q10_returned_items": (12,),
    "tpch_q11_important_suppliers": (12,),
    "tpch_q12_shipping_priority_buckets": (12,),
    "tpch_q13_customer_distribution": (12,),
    "tpch_q14_promo_revenue": (12,),
    "tpch_q15_top_supplier": (12,),
    "tpch_q16_supplier_part_relationship": (12,),
    "tpch_q17_small_quantity_revenue": (12,),
    "tpch_q18_large_volume_customers": (12,),
    "tpch_q19_disjunctive_revenue": (12,),
    "tpch_q20_part_promotion": (12,),
    "tpch_q21_waiting_suppliers": (12,),
    "tpch_q22_prospective_customers": (12,),
    "tpch_q2_min_cost_supplier": (12,),
    "tpch_q3_unshipped_orders": (12,),
    "tpch_q4_order_priority": (12,),
    "tpch_q5_local_supplier_volume": (12,),
    "tpch_q6_forecast_revenue": (12,),
    "tpch_q7_volume_shipping": (12,),
    "tpch_q8_market_share": (12,),
    "tpch_q9_product_type_profit": (12,),
    "training_export_documents": (6, 7),
    "transitions_events": (11, 15),
    "triangles_copurchase_lineitem": (10, 14),
    "unicode_nfc_documents": (9, 13),
    "unpivot_lineitem_metrics": (10, 14),
    "upsert_dim_incremental": (2, 3, 4, 5, 6, 7, 8, 9),
    "url_blocklist_filter_documents": (12,),
    "url_dedup_documents": (11, 15),
    "url_normalize_documents": (10, 14),
    "value_counts_event_type": (2, 3, 4, 5),
    "versioned_timetravel_orders": (13,),
    "video_demux_documents": (7, 8, 9),
    "warc_gzip_ingest_documents": (10, 15),
    "warc_http_encoded_ingest_documents": (11, 15),
    "warc_ingest_documents": (10, 15),
    "warc_pdf_extract_documents": (13,),
    "warc_revisit_dedup_documents": (12,),
    "warc_zst_ingest_documents": (14,),
    "wat_link_graph_documents": (12,),
    "web_curation_directives_documents": (13,),
    "web_curation_documents": (12,),
    "weighted_sample_documents": (11,),
    "wet_export_roundtrip_documents": (12,),
    "wet_ingest_documents": (11,),
    "wikidump_index_fetch_documents": (13,),
    "wikidump_ingest_documents": (13,),
    "winnow_candidates_documents": (7, 8, 9),
    "winsorize_orders_totalprice": (12,),
    "word_frequencies_documents": (2, 3, 4, 5),
    "xml_roundtrip_orders": (13,),
    "year_priority_counts": (1, 2, 3, 4, 5, 6),
    "zscore_lineitem_price": (13,),
}
# --- WINDOW_HISTORY:END ---


def _window_names() -> tuple[str, ...]:
    """Compute the 50-slot driver window per the rotation contract."""
    names = list(SPARK_QUERIES)
    pool = [n for n in names if n in ORACLE_SQL and n not in _ANCHORS]
    first_timers = sorted(n for n in pool if n not in _WINDOW_HISTORY)
    seasoned = sorted(
        (n for n in pool if n in _WINDOW_HISTORY),
        key=lambda n: (
            len(_WINDOW_HISTORY[n]),
            max(_WINDOW_HISTORY[n]),
            n,
        ),
    )
    budget = _CORRECTNESS_WINDOW - len(_ANCHORS)
    picked = (first_timers + seasoned)[:budget]
    return (*_ANCHORS, *picked)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, ordered
    window-first (see the rotation contract in the module docstring)."""
    names = list(SPARK_QUERIES)
    window = _window_names()
    in_window = set(window)
    demoted = [n for n in names if n in ORACLE_SQL and n not in in_window]
    rows_only = [n for n in names if n not in ORACLE_SQL]
    return {n: SPARK_QUERIES[n] for n in (*window, *demoted, *rows_only)}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle twins for every SQL-expressible query."""
    return dict(ORACLE_SQL)
