"""The driver's gate checks 50 registry entries at sf0.01.  This file runs
the same DuckDB-oracle comparison at sf0.001 for the query forms outside
that gate: the building blocks the gated tagged unions call, q05's
plan-pinned inner join, and the bench-only and untagged REGISTRY entries.
A few gated entries are checked here too."""

from __future__ import annotations

import pytest

from jurimetria_etl_spark.plans import corpus as C
from jurimetria_etl_spark.plans import extensions as E
from jurimetria_etl_spark.plans import tpch as T

SF = "/root/testdata/sf0.001"


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if v is None:
            return "∅"  # sortable sentinel (rollup/cube NULL group keys)
        if isinstance(v, float):
            return repr(round(v, 9))
        return str(v)

    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


PAIRS = [
    # building blocks the gated tagged unions (q02/q07/q17) call
    (C.q02_filter_eq, C.Q02_SQL),
    (C.q03_filter_range_nullpass, C.Q03_SQL),
    (C.q07_join_anti, C.Q07_ANTI_SQL),
    (C.q07_join_semi, C.Q07_SEMI_SQL),
    (C.q16_union_all, C.Q16_SQL),
    (C.q17_intersect, C.Q17_INTERSECT_SQL),
    (C.q17_except, C.Q17_EXCEPT_SQL),
    # plan-pinned in test_plan_shapes.py
    (C.q05_join_inner, C.Q05_SQL),
    # registry entries outside the gate: bench-only, entry(), tools
    (C.q15_topk, C.Q15_SQL),
    (C.q19_hour_sp, C.Q19_HOUR_SP_SQL),
    (C.q22_dedup_exact, C.Q22_SQL),
    (C.q24_top_terms, C.Q24_TOP_TERMS_SQL),
    (E.q32b_percentile_hist, C.Q32_SQL),
    (T.t03_local_supplier_volume, T.T03_SQL),
    (T.t06_late_shipments, T.T06_SQL),
    (T.t07_promo_revenue, T.T07_SQL),
    (T.t09_promotion_suppliers, T.T09_SQL),
    (T.t14_customer_distribution, T.T14_SQL),
    (T.t16_important_parts, T.T16_SQL),
    (T.t18_supplier_cnt_by_part, T.T18_SQL),
    (T.t19_nation_volume, T.T19_SQL),
    (T.t22_revenue_change, T.T22_SQL),
    (E.x14_ann_ivf, C.Q23_SQL),
    (E.x15_media_metadata, E.X15_SQL),
    (E.x17_rolling_fingerprint, E.X17_SQL),
    (E.x22_training_shards, E.X22_SQL),
    (E.x29_boilerplate_spans, E.X29_SQL),
    (E.x39_top_per_domain, E.X39_SQL),
    (E.x42_shuffled_shards, E.X42_SQL),
    # gated entries, also checked here at sf0.001
    (T.t17_top_supplier, T.T17_SQL),
    (T.t21_product_profit, T.T21_SQL),
    (E.x23_pii_scrub, E.X23_SQL),
    (E.x25_decontaminate, E.X25_SQL),
    (E.x34_bloom_incremental_dedup, E.X34_SQL),
    (E.x35_bm25_search, E.X35_SQL),
    (E.x36_semdedup, E.X36_SQL),
    (E.x37_hybrid_search, E.X37_SQL),
    (E.x38_split_guarded, E.X38_SQL),
    (E.x40_classifier_scores, E.X40_SQL),
    (E.x43_curation_funnel, E.X43_SQL),
]


@pytest.mark.parametrize(
    "spark_fn,sql", PAIRS, ids=[fn.__name__ for fn, _ in PAIRS]
)
def test_deregistered_matches_oracle(spark, duck, spark_fn, sql):
    sdf = spark_fn(spark, SF)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(sql)
    assert sorted(scols) == sorted(rel.columns)
    assert _canon(scols, srows) == _canon(rel.columns, rel.fetchall())

