"""The one query registry: every query the repo runs, in one ordered map.

Two tags say who uses an entry:

- ``gate`` — in the driver's correctness window (exactly 50 entries, each
  with a DuckDB oracle).  ``corpus.full_registry()``, ``query_map()`` and
  ``oracle_sql_map()`` are views of these.
- ``bench`` — timed by ``bench.py``; ``bench.HEADLINE`` is these keys in
  registry order.

Untagged entries are kept for ``__spark_entry__.entry()`` and the tools.
"""

from __future__ import annotations

from jurimetria_etl_spark.plans import corpus as C
from jurimetria_etl_spark.plans import extensions as E
from jurimetria_etl_spark.plans import tpch as T
from jurimetria_etl_spark.plans.corpus import Q

REGISTRY: dict[str, Q] = {
    # Timed by bench.py, in its historical order.
    "q01_scan_project": Q(C.q01_scan_project, C.Q01_SQL, gate=True, bench=True),
    "q06_join_star": Q(C.q06_join_star, C.Q06_SQL, gate=True, bench=True),
    "q08_agg_hour": Q(C.q08_agg_hour, C.Q08_SQL, gate=True, bench=True),
    "q10_agg_conditional": Q(C.q10_agg_conditional, C.Q10_SQL, gate=True, bench=True),
    "q12_grouping": Q(C.q12_grouping, C.Q12_GROUPING_SQL, gate=True, bench=True),
    "q13_window_rank": Q(C.q13_window_rank, C.Q13_SQL, gate=True, bench=True),
    "q36_gapfill": Q(C.q36_gapfill, C.Q36_SQL, gate=True, bench=True),
    "q15_topk": Q(C.q15_topk, C.Q15_SQL, bench=True),
    "q20_array_agg": Q(C.q20_array_agg, C.Q20_SQL, gate=True, bench=True),
    "q22_dedup_exact": Q(C.q22_dedup_exact, C.Q22_SQL, bench=True),
    "q24_top_terms": Q(C.q24_top_terms, C.Q24_TOP_TERMS_SQL, bench=True),
    "q27_asof_join": Q(C.q27_asof_join, C.Q27_SQL, gate=True, bench=True),
    "q28_range_join": Q(C.q28_range_join, C.Q28_SQL, gate=True, bench=True),
    "q32_percentile": Q(C.q32_percentile, C.Q32_SQL, gate=True, bench=True),
    "t01_pricing_summary": Q(T.t01_pricing_summary, T.T01_SQL, gate=True, bench=True),
    "t02_shipping_priority": Q(
        T.t02_shipping_priority, T.T02_SQL, gate=True, bench=True
    ),
    "t03_local_supplier_volume": Q(T.t03_local_supplier_volume, T.T03_SQL, bench=True),
    "t04_returned_items": Q(T.t04_returned_items, T.T04_SQL, gate=True, bench=True),
    "t06_late_shipments": Q(T.t06_late_shipments, T.T06_SQL, bench=True),
    "t07_promo_revenue": Q(T.t07_promo_revenue, T.T07_SQL, bench=True),
    "t08_small_qty_revenue": Q(
        T.t08_small_qty_revenue, T.T08_SQL, gate=True, bench=True
    ),
    "t09_promotion_suppliers": Q(T.t09_promotion_suppliers, T.T09_SQL, bench=True),
    "t10_idle_rich_customers": Q(
        T.t10_idle_rich_customers, T.T10_SQL, gate=True, bench=True
    ),
    "t11_big_orders": Q(T.t11_big_orders, T.T11_SQL, gate=True, bench=True),
    "t12_waiting_suppliers": Q(
        T.t12_waiting_suppliers, T.T12_SQL, gate=True, bench=True
    ),
    "t13_min_cost_supplier": Q(
        T.t13_min_cost_supplier, T.T13_SQL, gate=True, bench=True
    ),
    "t14_customer_distribution": Q(T.t14_customer_distribution, T.T14_SQL, bench=True),
    "t15_disjunctive_pricing": Q(
        T.t15_disjunctive_pricing, T.T15_SQL, gate=True, bench=True
    ),
    "t16_important_parts": Q(T.t16_important_parts, T.T16_SQL, bench=True),
    "t17_top_supplier": Q(T.t17_top_supplier, T.T17_SQL, gate=True, bench=True),
    "t18_supplier_cnt_by_part": Q(T.t18_supplier_cnt_by_part, T.T18_SQL, bench=True),
    "t19_nation_volume": Q(T.t19_nation_volume, T.T19_SQL, bench=True),
    "t20_market_share": Q(T.t20_market_share, T.T20_SQL, gate=True, bench=True),
    "t21_product_profit": Q(T.t21_product_profit, T.T21_SQL, gate=True, bench=True),
    "t22_revenue_change": Q(T.t22_revenue_change, T.T22_SQL, bench=True),
    "x05_minhash_near_dups": Q(
        E.x05_minhash_near_dups, E.X05_SQL, gate=True, bench=True
    ),
    "x08_simhash_near_dups": Q(
        E.x08_simhash_near_dups, E._x08_sql(48, 12, 3), gate=True, bench=True
    ),
    "x09_text_profile": Q(E.x09_text_profile, E.X09_PROFILE_SQL, gate=True, bench=True),
    "x13_cosine_join": Q(E.x13_cosine_join, E._x13_join_sql(), gate=True, bench=True),
    # The literals pin the 500-row gate fixtures' plane count; bench.py
    # re-derives them for DuckDB at bench scale.
    "x13b_cosine_join_scaled": Q(
        E.x13b_cosine_join_scaled, E._x13_join_sql(n_planes=2), gate=True, bench=True
    ),
    # Q23_SQL (brute-force cosine top-5) is what the full IVF probe must equal.
    "x14_ann_ivf": Q(E.x14_ann_ivf, C.Q23_SQL, bench=True),
    "x41_ann_store_topk": Q(E.x41_ann_store_topk, E.X41_SQL, gate=True, bench=True),
    "x15_media_metadata": Q(E.x15_media_metadata, E.X15_SQL, bench=True),
    "x17_rolling_fingerprint": Q(E.x17_rolling_fingerprint, E.X17_SQL, bench=True),
    "x18_near_dup_clusters": Q(
        E.x18_near_dup_clusters, E.X18_SQL, gate=True, bench=True
    ),
    "x20_pack_shards": Q(E.x20_pack_shards, E.X20_SQL, gate=True, bench=True),
    "x28_duplicate_spans": Q(E.x28_duplicate_spans, E.X28_SQL, gate=True, bench=True),
    "x29_boilerplate_spans": Q(E.x29_boilerplate_spans, E.X29_SQL, bench=True),
    "x32_duplicate_lines": Q(E.x32_duplicate_lines, E.X32_SQL, gate=True, bench=True),
    "x34_bloom_incremental_dedup": Q(
        E.x34_bloom_incremental_dedup, E.X34_SQL, gate=True, bench=True
    ),
    "x35_bm25_search": Q(E.x35_bm25_search, E.X35_SQL, gate=True, bench=True),
    "x36_semdedup": Q(E.x36_semdedup, E.X36_SQL, gate=True, bench=True),
    "x37_hybrid_search": Q(E.x37_hybrid_search, E.X37_SQL, gate=True, bench=True),
    "x37b_hybrid_search_ann": Q(
        E.x37b_hybrid_search_ann, E.X37_SQL, gate=True, bench=True
    ),
    "x22_training_shards": Q(E.x22_training_shards, E.X22_SQL, bench=True),
    # Approximate by design: the oracle is only the DuckDB denominator.
    "x27_hll_daily_uniques": Q(E.x27_hll_daily_uniques, E.X27_SQL, bench=True),
    # q32's scale-path twin shares its oracle.
    "q32b_percentile_hist": Q(E.q32b_percentile_hist, C.Q32_SQL, bench=True),
    "x43_curation_funnel": Q(E.x43_curation_funnel, E.X43_SQL, gate=True, bench=True),
    # The rest of the gate.
    "q02_filters": Q(C.q02_filters, C.Q02_FILTERS_SQL, gate=True),
    "q04_join_dim_coalesce": Q(C.q04_join_dim_coalesce, C.Q04_SQL, gate=True),
    "q07_join_semi_anti": Q(C.q07_join_semi_anti, C.Q07_SEMI_ANTI_SQL, gate=True),
    "q17_setops": Q(C.q17_setops, C.Q17_SETOPS_SQL, gate=True),
    "q33_sliding_window": Q(C.q33_sliding_window, C.Q33_SQL, gate=True),
    "x01_dedup_docs": Q(E.x01_dedup_docs, E.X01_SQL, gate=True),
    "x23_pii_scrub": Q(E.x23_pii_scrub, E.X23_SQL, gate=True),
    "x25_decontaminate": Q(E.x25_decontaminate, E.X25_SQL, gate=True),
    "x38_split_guarded": Q(E.x38_split_guarded, E.X38_SQL, gate=True),
    "x40_classifier_scores": Q(E.x40_classifier_scores, E.X40_SQL, gate=True),
    "t05_order_priority": Q(T.t05_order_priority, T.T05_SQL, gate=True),
    # Untagged: the driver's entry() and the query forms the tools run.
    "q19_hour_sp": Q(C.q19_hour_sp, C.Q19_HOUR_SP_SQL),
    "x39_top_per_domain": Q(E.x39_top_per_domain, E.X39_SQL),
    "x42_shuffled_shards": Q(E.x42_shuffled_shards, E.X42_SQL),
}
