"""Registry of JUSTIFIED single-partition exchanges (VERDICT r5 #7).

``Exchange SinglePartition`` in a physical plan is the scale killer
*when row-scale data flows through it*.  Every registered query whose
plan carries one is listed here with the PROVEN BOUND on the frame that
actually crosses the exchange — so ``tools/plan_audit.py`` prints the
justification inline and a reviewer never re-derives it by hand.  The
three legitimate sources:

* **1-row scalar reduction** — a global ``agg`` with no keys is
  partial-aggregated map-side; only per-partition partial buffers (one
  row each) cross the exchange.  Constant at any corpus size.
* **bounded grid window/sort** — a global window or order over a frame
  whose cardinality is fixed by calendar/domain, not corpus (#days,
  #months, deciles, contingency cells…).  The site audit lives in
  ``tests/test_global_window_audit.py``; entries here name the bound.
* **rank/prefix substrate offsets** — ``with_global_row_number`` /
  ``median_rank_select`` route row-scale
  ranks through per-bucket totals: only ``PREFIX_BUCKETS`` (64) rows
  ever sit in the single partition.

``tests/test_single_partition_registry.py`` pins registry hygiene; the
plan audit fails REVIEW on any single-partition query missing here and
reports stale entries whose plans no longer carry the exchange.
"""

from __future__ import annotations

_SCALAR = "1-row scalar reduction (map-side partial agg; 1 row/partition crosses)"
_PREFIX = "rank/prefix substrate: ≤64 per-bucket totals cross (PREFIX_BUCKETS)"
_DAILY = "calendar-bounded daily grid window (#days rows)"
_MONTHLY = "calendar-bounded monthly grid window (#months rows)"
_HOURLY = "calendar-bounded hourly grid window (#hours rows)"
_WEEKLY = "calendar-bounded weekly grid window (#weeks rows)"

#: query name → justification for every Exchange SinglePartition in its
#: plan (one text covers all of a query's occurrences when they share a
#: source; composite entries name each).
BOUNDS: dict[str, str] = {
    # ── aggregates: statistical tests / distribution summaries ────────
    "agg_ab_test_lift": _SCALAR,
    "agg_anova_event_values": "group-mean frame (#event_type rows) + " + _SCALAR,
    "agg_association_measures": "contingency aggregate (#cat² cells) window ×2",
    "agg_benford_first_digit": "9-row first-digit histogram window",
    "agg_contribution_waterfall": "5-row category aggregate window",
    "agg_corr_matrix": _SCALAR,
    "agg_cramers_v_flag_status": "contingency aggregate (#flag×#status cells) ×2",
    "agg_gini_spend": _PREFIX,
    "agg_hll_set_operations": "4-row per-type sketch union + " + _SCALAR,
    "agg_information_value": "decile-grid WoE frame (10 rows)",
    "agg_ks_two_sample": _PREFIX,
    "agg_mann_whitney_u": _PREFIX,
    "agg_order_value_deciles": _PREFIX,
    "agg_pareto_concentration": _PREFIX,
    "agg_ratio_metric_delta_method": _SCALAR,
    "agg_seasonal_index": "12-row monthly-index aggregate window",
    "agg_student_ttest": "2-row group-stats frame + " + _SCALAR,
    "agg_value_auc": _PREFIX,
    "agg_weighted_median_price": _PREFIX,
    "agg_welch_ttest": "2-row group-stats frame + " + _SCALAR,
    # ── dedup / similarity ─────────────────────────────────────────────
    "dedup_embedding_cosine_pairs": "pair-count scalar + threshold-bounded pair sort",
    "dedup_embedding_cosine_bucketed": "data-driven band-width scalar (" + _SCALAR + ")",
    "join_fuzzy_entity_match": "data-driven block-key-length scalar (" + _SCALAR + ")",
    "dedup_exact_summary": _SCALAR,
    "dedup_shingle_cap_audit": _SCALAR,
    "sim_ivf_kmeans_topk": "k-means training sample ≤4096 rows + top-k heap frame",
    "sim_topk_cosine_bruteforce": "CAND_CAP-bounded candidate frame + top-k sort",
    # ── dialect ────────────────────────────────────────────────────────
    "dialect_tuple_in_subquery": _SCALAR,
    "dialect_with_fill_monthly": "WITH FILL month grid (#months) + its sort",
    # ── events: grids / funnels / 1-row totals ─────────────────────────
    "events_ab_srm_check": _SCALAR,
    "events_diff_in_diff": "4-cell period×group aggregate",
    "events_error_rate_sli": _SCALAR,
    "events_gapfill_hourly": _HOURLY,
    "events_growth_rates": _WEEKLY,
    "events_histogram_equidepth": _PREFIX,
    "events_id_gap_audit": "per-bucket (max_id/2¹⁶) boundary handoff frame",
    "events_in_session_conversion": _SCALAR,
    "events_linear_interp_hourly": _HOURLY,
    "events_locf_hourly_value": _HOURLY,
    "events_out_of_orderness_audit": _SCALAR,
    "events_purchase_streaks": _SCALAR,
    "events_repeat_purchase_rate": _SCALAR,
    "events_retention_steps": "step aggregate (#steps rows) window",
    "events_rfm_segments": _PREFIX + " — 3 axes (R, F, M) + totals",
    "events_session_abandonment": "4-row outcome aggregate window",
    "events_session_stats": _SCALAR,
    "events_survival_time_to_purchase": "event-day grid cumprod (#days rows)",
    "events_time_to_convert": _SCALAR,
    "events_type_share": "per-type aggregate (#event_type rows) share window",
    "events_value_histogram": "fixed bin-grid histogram (#bins rows)",
    "events_weekday_hour_matrix": "7×24 grid share window",
    "events_weekly_churn": _WEEKLY,
    # ── graph ──────────────────────────────────────────────────────────
    "graph_degree_distribution": "degree histogram (#distinct degrees rows)",
    "graph_density_summary": _SCALAR + " ×2 (node + edge counts)",
    "graph_triangles_clustering": _SCALAR + " ×2 (triangles + wedges)",
    # ── joins ──────────────────────────────────────────────────────────
    "join_bloom_prefilter": "Bloom-filter build aggregate (one sketch row)",
    "join_referential_audit": _SCALAR + " ×4 (one per audited FK edge)",
    # ── ml / stats ─────────────────────────────────────────────────────
    "ml_naive_bayes_langid": "per-class prior frame (#lang rows) + " + _SCALAR,
    "ml_ols_two_features": _SCALAR + " (moment matrix is one row)",
    "ts_autocorrelation": _HOURLY + " + mean scalar",
    "ts_cusum_changepoint": _DAILY + " (running sum + argmax rank)",
    "ts_decompose_additive": "bi-monthly bucket grid MA window",
    "ts_theil_sen_trend": _PREFIX + " (slope median) + intercept scalar",
    # ── multimodal ─────────────────────────────────────────────────────
    "multimodal_chunk_dedup_rate": _SCALAR,
    "multimodal_dedup_payloads": _SCALAR,
    # ── pipeline ───────────────────────────────────────────────────────
    "pipeline_capacity_plan_100tb": _SCALAR,
    "pipeline_curriculum_phases": "phase-boundary quantile frame + " + _PREFIX,
    "pipeline_dataset_card": _SCALAR,
    "pipeline_language_temperature_mix": "per-language aggregate (#lang rows) + totals scalar",
    "pipeline_split_leakage_audit": _SCALAR + " ×2 (per-split totals)",
    # ── sampling ───────────────────────────────────────────────────────
    "sample_class_balanced": "per-class count frame (#classes rows)",
    "sample_neyman_allocation": "per-stratum variance frame (#strata rows)",
    "sample_poisson_bootstrap_se": "per-replicate totals (#replicates rows)",
    "sample_systematic_every_kth": _PREFIX + " (global row numbers via buckets)",
    "sample_temperature_sources": "per-source weight frame (#sources rows)",
    "sample_temporal_holdout": "cutoff quantile scalar",
    # ── scalars / subqueries ───────────────────────────────────────────
    "scalar_point_in_polygon": "polygon vertex table (constant literal frame)",
    "subquery_scalar_above_avg": _SCALAR + " (the scalar subquery)",
    # ── text ───────────────────────────────────────────────────────────
    "text_js_divergence_sources": "shared-vocab distribution frame (capped vocab)",
    "text_stopword_discovery": _SCALAR + " (corpus totals)",
    "text_vocab_growth": "decile grid (10 rows) window + totals",
    "text_zipf_slope": "top-1000 rank frame + regression scalar",
    # ── tpch single-row scalars ────────────────────────────────────────
    "tpch_q6_forecast_revenue": _SCALAR,
    "tpch_q11_important_stock": _SCALAR + " (threshold subquery)",
    "tpch_q14_promo_revenue": _SCALAR,
    "tpch_q15_top_supplier": _SCALAR + " (max revenue subquery)",
    "tpch_q17_small_quantity_revenue": _SCALAR,
    "tpch_q19_discounted_revenue": _SCALAR,
    "tpch_q22_dormant_customers": _SCALAR + " (avg balance subquery)",
    # ── windows over bounded grids ─────────────────────────────────────
    "window_bollinger_daily_revenue": _DAILY,
    "window_cumulative_vwap": _DAILY + " (≤31 rows, 1 month)",
    "window_max_drawdown": _DAILY,
    "window_moving_median": _DAILY,
    "window_ntile_percentiles": _PREFIX,
    "window_obv_daily_revenue": _DAILY,
    "window_order_backlog": _DAILY,
    "window_percent_of_parent": "(region, nation) aggregate window (#region×#nation rows)",
    "window_rolling_correlation": _DAILY,
    "window_rsi_daily_revenue": _DAILY,
    "window_seasonal_naive_backtest": _DAILY,
}
