"""Physical-plan audit: dump the executed plan of each headline query with
a mechanical summary of the scale-relevant shapes (pushed filters,
broadcast vs sort-merge joins, exchange count, Python boundaries,
whole-stage codegen coverage).

Usage: python tools/plan_audit.py [sf_dir] > PLAN_AUDIT.md

The point (SCALE.md): a green result with a regressed plan is a silent
100x at the target scale — this file is the reviewable evidence that each
headline plan still has the intended shape.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AUDITED = [
    ("q01_scan_project", "projection prunes the scan to 4 columns"),
    ("q02_filters", "both predicates reach parquet as PushedFilters"),
    ("q04_join_dim_coalesce", "BroadcastHashJoin; fact side never shuffles"),
    ("q06_join_star", "3 broadcast joins; single agg shuffle"),
    ("q08_agg_hour", "partial+final HashAggregate around one exchange"),
    ("q12_grouping", "ONE fact scan, no Expand; variants derived post-agg"),
    ("q15_topk", "TakeOrderedAndProject (no global sort)"),
    ("q27_asof_join", "ONE exchange (union+window), no nested-loop"),
    ("q28_range_join", "bucket-blocked HASH join, not BNLJ"),
    ("t01_pricing_summary", "PushedFilter on shipdate; partial agg"),
    ("x05_minhash_near_dups", "banded self-join; only (band,key,id) shuffles"),
    ("x08_simhash_near_dups", "signature barrier exchange; banded join"),
    ("x13_cosine_join", "equi-join on (table,bucket); no cartesian"),
    (
        "x14_ann_ivf",
        "single probe of the ANN store: the cell isin reaches the hive "
        "scan as PartitionFilters; (cell,id) replay fold above it; the "
        "probe vector is a literal, so no probe attach join; "
        "TakeOrderedAndProject",
    ),
    ("x23_pii_scrub", "narrow regexp chain fused into the scan; no shuffle"),
    (
        "x25_decontaminate",
        "shingle-hash probe joins; no cartesian; loser set AQE-sized",
    ),
    ("t06_late_shipments", "one fact-fact equi-join; partial agg"),
    ("t07_promo_revenue", "part broadcast; shipdate PushedFilter"),
    (
        "q36_gapfill",
        "one agg shuffle; densify is a narrow generator; fill window "
        "reuses the key partitioning",
    ),
    ("t11_big_orders", "one rollup shuffle; HAVING tail joins un-hinted (AQE)"),
    (
        "t12_waiting_suppliers",
        "EXISTS/NOT-EXISTS as one per-order agg; stats via window on the "
        "single rollup (r15)",
    ),
    (
        "t13_min_cost_supplier",
        "correlated MIN as a window over the single broadcast-pruned "
        "offers pass (r15); no cartesian",
    ),
    (
        "t14_customer_distribution",
        "fact aggregated BEFORE the outer join; count frame broadcasts "
        "into customer; zero bucket kept",
    ),
    (
        "t15_disjunctive_pricing",
        "OR-of-ANDs residue pushed to BOTH scans; part broadcast; one "
        "global agg",
    ),
    (
        "t16_important_parts",
        "per-part agg checkpointed once; total derived from it, 1-row "
        "broadcast attach (r15); exact-decimal HAVING",
    ),
    (
        "t17_top_supplier",
        "argmax join-back on the checkpointed rev frame (r15): 1-row max "
        "attach + decimal equality, ties kept",
    ),
    (
        "t18_supplier_cnt_by_part",
        "NOT-IN as broadcast ANTI before the fact join; single distinct agg",
    ),
    (
        "t19_nation_volume",
        "both nation-pruned dims broadcast; only spine + 3-key agg shuffle",
    ),
    (
        "x13b_cosine_join_scaled",
        "auto-sized planes; banded signature cache; keyed (t,bk) candidate "
        "join; no cartesian",
    ),
    (
        "x28_duplicate_spans",
        "winnow fold ONCE; windowed fp-count candidacy; span-keyed group "
        "verify (no gram self-join)",
    ),
    (
        "t20_market_share",
        "8-table Q8 spine: all dim chains broadcast; only the "
        "orders⨝lineitem spine and 2-group year agg shuffle",
    ),
    (
        "t21_product_profit",
        "Q9 shape: name-pruned part + supplier⨝nation broadcast into "
        "lineitem; orders on the spine; 2-key agg",
    ),
    (
        "x29_boilerplate_spans",
        "corpus-wide exchange carries xxhash64 longs; span text resolved "
        "behind the broadcast survivor semi-filter",
    ),
    (
        "q32b_percentile_hist",
        "exact percentile via DISTRIBUTED histogram, single-scan form "
        "(r12): both value columns melted to (metric, v) so ONE lineitem "
        "scan feeds everything; distinct-value agg (map-side combinable) "
        "+ ONE Window node carrying both the cumulative count and the "
        "group total (shared sort — no second corpus-lineage execution "
        "for totals) + the |ps|-row percentile-literal broadcast cross "
        "(the 1 nested-loop — constant side, intended; the former "
        "|groups|×|ps| ungated broadcast is gone) + interpolation and "
        "pivot aggs; no per-group value→count agg buffer",
    ),
    (
        "x34_bloom_incremental_dedup",
        "ONE dense single-row-bitset broadcast attach under the size "
        "gate (the single nested-loop — constant 1-row side, intended; "
        "the word-join probe takes over above the bitset ceiling); the "
        "exact re-check is one conditional LEFT join (__maybe AND "
        "fp==store_fp: equi key drives the strategy, the residual "
        "spares Bloom-negative rows the lookup) whose fp partitioning "
        "the trailing dropDuplicates reuses — the filter is "
        "output-invisible (test_bench_plan_corpus pin: 1 BNLJ / 0 py / "
        "8 exchanges; r13, was 2 BNLJ / 13 via a fresh/suspect union "
        "that re-executed the probe lineage per branch)",
    ),
    (
        "x41_ann_store_topk",
        "persisted-store batch probe: static cell isin reaches the hive "
        "scan as PartitionFilters (pruning by construction, not DPP); "
        "(cell,id) replay fold above it; broadcast probe-cell equi-join; "
        "two-level top-k (scan-partition pre-rank, then per-query rank)",
    ),
    (
        "x35_bm25_search",
        "df agg computed AFTER a query-term semi-join prune (never the "
        "full vocabulary); q-term/df broadcasts match-sized; 1-row stats "
        "BNLJ attach",
    ),
    (
        "x36_semdedup",
        "one rank-window exchange on the cluster key reused by the scan "
        "group; the single python node is the blocked-numpy Arrow scan",
    ),
    (
        "x37_hybrid_search",
        "dense side: broadcast probe cross-join + two-level top-k (scan-"
        "partition pre-rank, then per-query rank); fusion match-sized",
    ),
    (
        "x37b_hybrid_search_ann",
        "the FULLY store-backed retrieval path (r13): dense side "
        "probes the ANN store — probes' static cell union reaches the "
        "hive scan as PartitionFilters INSET, (cell,id) replay fold "
        "above it, broadcast probe-cell EQUI-join (replaces x37's "
        "|probes|×|corpus| broadcast cross) + two-level top-k; lexical "
        "side reads the persisted BM25 postings/doc_lens stores (no "
        "corpus tokenization at query time — zero scans of documents "
        "text); RRF fusion identical to x37 (its 1-row stats attach is "
        "the single BNLJ); fusion match-sized",
    ),
    (
        "x38_split_guarded",
        "split label is a narrow md5 expression; leakage probe joins "
        "8-byte shingle hashes; eval shingle set and quarantine left join "
        "un-hinted, each sized by Spark (broadcast at fixture scale)",
    ),
    (
        "x39_top_per_domain",
        "rank window ships a 3-column narrow projection; survivors "
        "semi-join back un-hinted (AQE)",
    ),
    (
        "x40_classifier_scores",
        "single scan-fused fold (transform+aggregate over tokens); zero "
        "exchanges, zero joins, zero python",
    ),
    (
        "x43_curation_funnel",
        "one-scan per-gate audit (r12): lang/quality flags scan-fused "
        "and carried through the shingle explode as grouping keys (no "
        "second profile scan joined back); benchmark shingle set "
        "broadcast; per-doc overlap agg + ONE-row global agg; zero "
        "python (test_bench_plan_corpus pin: 4 exchanges / 1 BHJ)",
    ),
]


def summarize(plan: str, python_scans: int = 0) -> list[str]:
    out = []
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    nonempty = [p for p in pushed if p.strip()]
    out.append(f"pushed-filter scans: {len(nonempty)}")
    out.append(f"FileScan: {plan.count('FileScan')}")
    part = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    out.append(
        f"partition-filtered scans: {len([p for p in part if p.strip()])}"
    )
    out.append(f"BroadcastHashJoin: {plan.count('BroadcastHashJoin')}")
    out.append(f"SortMergeJoin: {plan.count('SortMergeJoin')}")
    out.append(f"ShuffledHashJoin: {plan.count('ShuffledHashJoin')}")
    nested = plan.count("BroadcastNestedLoopJoin") + plan.count("CartesianProduct")
    out.append(f"nested-loop/cartesian: {nested}")
    out.append(f"Exchange: {plan.count('Exchange')}")
    out.append(f"HashAggregate: {plan.count('HashAggregate')}")
    out.append(f"TakeOrderedAndProject: {plan.count('TakeOrderedAndProject')}")
    # python_scans: the Python-fed Scan ExistingRDD leaves
    # (session.python_fed_scans), list-built literal frames
    py = (
        plan.count("BatchEvalPython")
        + plan.count("ArrowEvalPython")
        + plan.count("MapInPandas")
        + python_scans
    )
    out.append(f"python nodes: {py}")
    return out


def main(sf_dir: str) -> None:
    from jurimetria_etl_spark.plans.registry import REGISTRY
    from jurimetria_etl_spark.session import get_spark, python_fed_scans

    spark = get_spark("plan-audit")
    print("# Physical-plan audit\n")
    print(f"Generated against `{sf_dir}` — `python tools/plan_audit.py`.\n")
    for name, intent in AUDITED:
        df = REGISTRY[name].spark(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        print(f"## {name}\n")
        print(f"*Intent:* {intent}\n")
        summary = summarize(plan, python_fed_scans(df))
        print("Summary: " + " · ".join(summary) + "\n")
        # Head-trim for readability, but NEVER trim away a scan: every
        # FileScan line beyond the head is appended verbatim, so a
        # section whose intent claims a scan property (PartitionFilters
        # INSET, PushedFilters) always carries the evidencing line —
        # the r12 x37b audit cut off before the ANN-store scan and the
        # artifact could no longer support its own intent line.
        lines = plan.splitlines()
        trimmed = "\n".join(lines[:40])
        tail_scans = [ln for ln in lines[40:] if "FileScan" in ln]
        if tail_scans:
            trimmed += (
                "\n... [head-trimmed; every remaining FileScan line "
                "follows] ...\n" + "\n".join(tail_scans)
            )
        print("```\n" + trimmed + "\n```\n")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01")
