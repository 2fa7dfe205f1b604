"""Smoke: every gated q-series query runs at sf0.001 and returns a stable
schema.  (The full DuckDB-oracle comparison runs via
tools/check_correctness.py and the driver's t2 gate at sf0.01.)"""

from __future__ import annotations

import hashlib
import json

import pytest

from jurimetria_etl_spark.plans.registry import REGISTRY

SF = "/root/testdata/sf0.001"

GATED_Q = sorted(k for k, q in REGISTRY.items() if q.gate and k.startswith("q"))

# The driver's 50-entry gate, and a sha256 over its sorted (key, oracle SQL)
# pairs: a gate change is a deliberate edit of these two pins.
GATE_KEYS = """
q01_scan_project q02_filters q04_join_dim_coalesce q06_join_star
q07_join_semi_anti q08_agg_hour q10_agg_conditional q12_grouping
q13_window_rank q17_setops q20_array_agg q27_asof_join q28_range_join
q32_percentile q33_sliding_window q36_gapfill
t01_pricing_summary t02_shipping_priority t04_returned_items
t05_order_priority t08_small_qty_revenue t10_idle_rich_customers
t11_big_orders t12_waiting_suppliers t13_min_cost_supplier
t15_disjunctive_pricing t17_top_supplier t20_market_share t21_product_profit
x01_dedup_docs x05_minhash_near_dups x08_simhash_near_dups x09_text_profile
x13_cosine_join x13b_cosine_join_scaled x18_near_dup_clusters x20_pack_shards
x23_pii_scrub x25_decontaminate x28_duplicate_spans x32_duplicate_lines
x34_bloom_incremental_dedup x35_bm25_search x36_semdedup x37_hybrid_search
x37b_hybrid_search_ann x38_split_guarded x40_classifier_scores
x41_ann_store_topk x43_curation_funnel
""".split()
GATE_SQL_SHA256 = "5681ad180b776bb6cbb24e0dd847fcf9b2a9340ed288d84fc71346e50edfaead"


@pytest.mark.parametrize("name", GATED_Q)
def test_corpus_query_runs(spark, name):
    df = REGISTRY[name].spark(spark, SF)
    rows = df.collect()
    assert df.columns  # non-empty schema
    assert rows is not None


def test_entry_contract(spark):
    import os
    import sys

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    import __spark_entry__ as e
    from jurimetria_etl_spark.plans.corpus import full_registry

    df = e.entry(spark)
    assert len(df.collect()) > 0
    qs, oracles, gate = e.queries(), e.oracle_sql(), full_registry()
    assert sorted(qs) == sorted(oracles) == sorted(gate) == sorted(GATE_KEYS)
    digest = hashlib.sha256(json.dumps(sorted(oracles.items())).encode())
    assert digest.hexdigest() == GATE_SQL_SHA256
