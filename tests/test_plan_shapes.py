"""Physical-plan regression tests (SURVEY §4): the optimizations the engine
relies on at 100 TB must be visible in the plan at any scale — pushdown,
pruning, broadcast, partial aggregation, top-k as TakeOrderedAndProject.
A green corpus with a regressed plan is a silent 100× at the target scale,
so the plan shape is part of the contract.
"""

from __future__ import annotations

import pytest

from jurimetria_etl_spark.plans.corpus import (
    q01_scan_project,
    q02_filter_eq,
    q04_join_dim_coalesce,
    q05_join_inner,
    q08_agg_hour,
    q12_grouping,
    q15_topk,
)
from jurimetria_etl_spark.plans.registry import REGISTRY

SF = "/root/testdata/sf0.001"


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushed_to_parquet(spark):
    plan = _physical(q02_filter_eq(spark, SF))
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)" in plan


def test_projection_prunes_scan(spark):
    # q01 projects 4 of 11 lineitem columns; the scan must not read the rest
    plan = _physical(q01_scan_project(spark, SF))
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "l_extendedprice" in scan and "l_discount" in scan
    assert "l_shipdate" not in scan and "l_comment" not in scan


def test_topk_is_take_ordered(spark):
    # orderBy(desc).limit(k) must NOT materialize a global sort
    plan = _physical(q15_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_agg_is_partial_then_final(spark):
    # map-side combine: two HashAggregates around one exchange
    plan = _physical(q08_agg_hour(spark, SF))
    assert plan.count("HashAggregate") >= 2


def test_dim_join_broadcasts(spark):
    plan = _physical(q04_join_dim_coalesce(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_no_python_udfs_in_corpus(spark):
    # every corpus query is whole-stage-codegen-able: no BatchEvalPython
    # (row-at-a-time UDF) or ArrowEvalPython nodes anywhere
    for name, q in REGISTRY.items():
        if not (q.gate and name.startswith("q")):
            continue
        plan = _optimized(q.spark(spark, SF))
        assert "PythonUDF" not in plan, f"{name} fell off the JVM fast path"


@pytest.mark.parametrize("fn", [q05_join_inner, lambda s, d: REGISTRY["q06_join_star"].spark(s, d)])
def test_fact_joins_avoid_nested_loop(spark, fn):
    plan = _physical(fn(spark, SF))
    assert "NestedLoop" not in plan and "Cartesian" not in plan


# ─────────── extension-operator plan shapes (scale regressions) ────────────
def _docs(spark):
    from jurimetria_etl_spark.sources.fixtures import load_fixture

    return load_fixture(spark, SF, "documents")


def _emb(spark):
    from jurimetria_etl_spark.sources.fixtures import load_fixture

    return load_fixture(spark, SF, "embeddings")


def test_simhash_near_dups_stages_signatures_once(spark):
    """The banded self-join must read signatures from a materialization
    barrier (round-robin exchange), not recompute the md5+fold per
    reference — a reference-count-blind inline of the staged hash array
    once cost a silent 10x (see dedup._simhash_from_hashes)."""
    from jurimetria_etl_spark.operators.dedup import simhash_near_duplicates

    plan = _physical(
        simhash_near_duplicates(
            _docs(spark), "doc_id", "text", bits=48, max_hamming=3, band_bits=12
        )
    )
    assert "RoundRobinPartitioning" in plan  # the signature barrier
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    # the md5 token-hash pass appears a bounded number of times (2 sides);
    # a per-bit inline would show ~48x this
    assert plan.count("md5") <= 8


def test_minhash_candidates_stage_and_join_shape(spark):
    from jurimetria_etl_spark.operators.dedup import minhash_candidate_pairs

    plan = _physical(
        minhash_candidate_pairs(_docs(spark), "doc_id", "text", 8, 4, 3)
    )
    assert "RoundRobinPartitioning" in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    assert plan.count("md5") <= 8


def test_lsh_cosine_join_is_hash_join_on_buckets(spark):
    """x13's scale claim: candidates come from an equi-join on
    (table, bucket) — never a cartesian/nested-loop over the corpus."""
    from jurimetria_etl_spark.operators.similarity import cosine_similarity_join

    emb = _emb(spark)
    plan = _physical(
        cosine_similarity_join(emb, emb, threshold=0.45, dim=64, n_planes=4, n_tables=8)
    )
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    assert "Join" in plan


def test_ivf_probe_filters_cells_before_scoring(spark, tmp_path):
    """x14: the probe's cells reach the ANN store's scan as a partition
    filter — only those cells' directories are read, below the final
    cosine scoring."""
    import re

    from jurimetria_etl_spark.operators.ann_store import (
        ann_ivf_topk_store,
        append_ann_store,
    )
    from jurimetria_etl_spark.operators.similarity import (
        _nearest_cells_py,
        seed_centroids,
    )

    emb = _emb(spark)
    cents = seed_centroids(emb, n_cells=4)
    path = str(tmp_path / "ivf")
    append_ann_store(emb, path, cents)
    probe = [float(x) for x in emb.where("vec_id = 1").first()["embedding"]]
    plan = _physical(
        ann_ivf_topk_store(spark, path, probe, k=5, n_probe=2, exclude_id=1)
    )
    [pf] = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    [listed] = re.findall(r"ivf_cell#\d+ IN \(([^)]*)\)", pf)
    assert sorted(int(c) for c in listed.split(",")) == sorted(
        _nearest_cells_py(probe, cents, 2)
    ), pf
    assert "TakeOrderedAndProject" in plan


def test_grouping_variants_scan_fact_once(spark):
    # q12 derives rollup/cube/grouping-sets from ONE base aggregation:
    # exactly one scan of lineitem and no Expand operator (which would
    # multiply every input row by the number of grouping sets pre-agg)
    plan = _physical(q12_grouping(spark, SF))
    assert plan.count("Scan parquet") == 1
    assert "Expand" not in plan


def test_quality_gate_fuses_into_scan(spark):
    # the full rule gate is a narrow filter+project: no exchange, no
    # Python eval — one scan at 100 TB
    from jurimetria_etl_spark.operators.quality import quality_filter
    from jurimetria_etl_spark.sources.fixtures import load_fixture

    plan = _physical(
        quality_filter(load_fixture(spark, SF, "documents"), min_words=10)
    )
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_scrub_is_single_projection(spark):
    from jurimetria_etl_spark.operators.scrub import scrub_documents
    from jurimetria_etl_spark.sources.fixtures import load_fixture

    plan = _physical(scrub_documents(load_fixture(spark, SF, "documents")))
    assert "Exchange" not in plan and "Python" not in plan


def test_decontaminate_broadcasts_benchmark_side(spark):
    # the benchmark shingle set must broadcast: the corpus side is probed
    # map-side, never shuffled for the join
    from jurimetria_etl_spark.operators.decontaminate import flag_contamination
    from jurimetria_etl_spark.sources.fixtures import load_fixture
    from pyspark.sql import functions as F

    docs = load_fixture(spark, SF, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    plan = _physical(flag_contamination(docs, bench, n=5))
    assert "BroadcastHashJoin" in plan
    # exactly one shuffle-requiring join may appear (the left join back);
    # the shingle probe itself must not sort-merge
    assert plan.count("SortMergeJoin") <= 1


def test_mix_corpora_data_path_is_narrow(spark):
    # beyond the tiny counts agg (collected before the plan is built),
    # the output plan is generate+filter over the scan: no join, and the
    # only exchange is none at all
    from jurimetria_etl_spark.operators.sampling import mix_corpora
    from jurimetria_etl_spark.sources.fixtures import load_fixture

    docs = load_fixture(spark, SF, "documents")
    plan = _physical(mix_corpora(docs, {"src0": 0.6, "src1": 0.4}))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Generate" in plan  # the epoch explode


def test_widen_partitions_noop_on_well_split_input(spark, tmp_path):
    """The widen guard must VANISH at scale: an input whose file count
    already covers cluster width gets no extra Exchange — the local-bench
    repartition is strictly the unsplittable-single-file remedy."""
    from jurimetria_etl_spark.operators.dedup import widen_partitions

    cores = spark.sparkContext.defaultParallelism
    out = str(tmp_path / "many_files")
    spark.range(10_000).repartition(cores + 4).write.mode(
        "overwrite"
    ).parquet(out)
    many = spark.read.parquet(out)
    assert len(many.inputFiles()) >= cores
    widened = widen_partitions(many)
    assert widened is many  # identical plan object — literally a no-op

    single = str(tmp_path / "one_file")
    spark.range(10_000).coalesce(1).write.mode("overwrite").parquet(single)
    narrow = spark.read.parquet(single)
    plan = _physical(widen_partitions(narrow))
    assert "Exchange RoundRobinPartitioning" in plan  # the local remedy


def test_t15_disjunction_pushed_to_both_scans(spark):
    """TPC-H Q19 shape: the OR-of-ANDs must reach BOTH parquet scans as
    PushedFilters — the per-table residue of the cross-table disjunction
    (quantity-range OR on lineitem, brand/size OR on part) prunes row
    groups at the source; only the cross-table recheck stays post-join.
    Column pruning is pinned too: lineitem reads 4 of its 11 columns."""
    from jurimetria_etl_spark.plans.tpch import t15_disjunctive_pricing

    plan = _physical(t15_disjunctive_pricing(spark, SF))
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    li = next(ln for ln in scans if "lineitem.parquet" in ln)
    part = next(ln for ln in scans if "/part.parquet" in ln)
    assert "PushedFilters" in li and "Or(" in li.split("PushedFilters")[0] + li
    assert "Or(" in li, "lineitem scan lost the quantity-range disjunction"
    assert "Or(" in part, "part scan lost the brand/size disjunction"
    assert "[l_partkey" in li and "l_discount" in li.split("]")[0]


def test_t14_outer_join_aggregates_fact_side_first(spark):
    """Q13 shape: the data-sized shuffle must be the orders-per-custkey
    aggregate; customer never shuffles (the count frame broadcasts into
    the left join) and the zero bucket survives."""
    from jurimetria_etl_spark.plans.tpch import t14_customer_distribution

    df = t14_customer_distribution(spark, SF)
    plan = _physical(df)
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    # exactly one hash-partitioned exchange on o_custkey (partial+final
    # agg pair), none keyed on c_custkey
    assert "hashpartitioning(__ck" not in plan  # count frame broadcasts
    rows = {r.c_count: r.custdist for r in df.collect()}
    assert sum(rows.values()) == 150  # sf0.001 customer count — zeros kept


def test_curation_funnel_is_one_corpus_scan(spark):
    # the funnel's pitch: flags + contamination overlap + counts in ONE
    # documents scan — the gate flags ride the shingle explode as
    # grouping keys instead of a second profile scan joined back — with
    # the benchmark side broadcast and zero Python
    from pyspark.sql import functions as F

    from jurimetria_etl_spark.plans.curation import curation_funnel
    from jurimetria_etl_spark.sources.fixtures import load_fixture

    docs = load_fixture(spark, SF, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    plan = _physical(
        curation_funnel(docs, benchmark=bench, decontam_min_overlap=3)
    )
    # two scans total: the corpus once + the (tiny) benchmark side once
    assert plan.count("Scan parquet") == 2
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan
    # without a benchmark: one scan, no join at all
    plan2 = _physical(curation_funnel(docs))
    assert plan2.count("Scan parquet") == 1
    assert "Join" not in plan2 and "Python" not in plan2
