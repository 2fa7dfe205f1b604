"""Storage-layout sinks: partition pruning and bucketed co-located joins —
the write-side half of the 100 TB story, asserted against the physical plan.
"""

from __future__ import annotations

import pytest
from pathlib import Path
from pyspark.sql import functions as F

from jurimetria_etl_spark.sinks.writers import (
    write_bucketed_table,
    write_parquet,
    write_partitioned,
)
from jurimetria_etl_spark.sources.fixtures import load_fixture

SF = "/root/testdata/sf0.001"


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_partitioned_layout_prunes(spark, tmp_path):
    orders = load_fixture(spark, SF, "orders")
    path = str(tmp_path / "orders_by_status")
    write_partitioned(orders, path, ["o_orderstatus"])

    back = spark.read.parquet(path).where(F.col("o_orderstatus") == "F")
    plan = _physical(back)
    # partition filter, not a data filter: pruning happens at file listing
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split(
        "PartitionFilters"
    )[1].splitlines()[0]
    expected = orders.where(F.col("o_orderstatus") == "F").count()
    assert back.count() == expected


def test_bucketed_join_has_no_exchange(spark):
    # managed tables land in the session warehouse dir (gitignored);
    # DROP TABLE below removes the files
    orders = load_fixture(spark, SF, "orders")
    li = load_fixture(spark, SF, "lineitem")
    write_bucketed_table(
        orders, "b_orders", ["o_orderkey"], n_buckets=8, sort_cols=["o_orderkey"]
    )
    write_bucketed_table(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        ["o_orderkey"],
        n_buckets=8,
        sort_cols=["o_orderkey"],
    )
    try:
        a = spark.table("b_orders")
        b = spark.table("b_lineitem")
        # force SMJ so broadcast doesn't mask the bucketing effect
        joined = a.hint("merge").join(b, "o_orderkey")
        plan = _physical(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join still shuffles"
        assert joined.count() == li.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_write_json_stdout_k5(spark, capsys):
    """K5 DataFrame form — pretty JSON array, ensure_ascii off."""
    import json

    from jurimetria_etl_spark.sinks.writers import write_json_stdout

    df = spark.createDataFrame(
        [(1, "Apelação"), (2, "Agravo")], "id long, classe string"
    )
    text = write_json_stdout(df.orderBy("id"))
    parsed = json.loads(text)
    assert parsed == [
        {"id": 1, "classe": "Apelação"},
        {"id": 2, "classe": "Agravo"},
    ]
    assert "Apelação" in text  # ensure_ascii=False keeps the cedilla


def test_basic_stats_a3(spark):
    """A3 — summary() wrapper exposes count/mean/min/max rows."""
    from jurimetria_etl_spark.operators.stats import basic_stats, row_count

    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "v double")
    stats = {r["summary"]: r["v"] for r in basic_stats(df).collect()}
    assert stats["count"] == "3"
    assert float(stats["mean"]) == 2.0
    assert float(stats["min"]) == 1.0 and float(stats["max"]) == 3.0
    assert row_count(df) == 3


def test_range_clustered_files_are_tight(spark, tmp_path):
    """Every output file covers a near-disjoint slice of the key space
    (footer min/max verified with pyarrow), and the data round-trips."""
    import pyarrow.parquet as pq

    from jurimetria_etl_spark.sinks.writers import write_range_clustered

    df = spark.range(10_000).selectExpr(
        "id", "CAST(id * 7919 % 10000 AS LONG) AS k"
    )
    out = str(tmp_path / "ranged")
    write_range_clustered(df, out, ["k"], n_files=8)

    files = sorted(Path(out).glob("*.parquet"))
    assert len(files) >= 2
    ranges = []
    for f in files:
        md = pq.ParquetFile(str(f)).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == "k"
            )
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    # disjoint up to range-boundary duplicates: each file's max stays
    # below the next file's min (boundary keys may tie)
    for (_, hi), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi <= lo2

    back = spark.read.parquet(out)
    assert back.count() == 10_000
    assert back.agg(F.sum("k")).first()[0] == df.agg(F.sum("k")).first()[0]


def test_zordered_layout_bounds_both_dimensions(spark, tmp_path):
    """Z-order must give every file a compact region in BOTH clustered
    columns — unlike a lexicographic sort, which leaves the second
    column's per-file range at full width."""
    import pyarrow.parquet as pq

    from jurimetria_etl_spark.sinks.writers import (
        write_range_clustered,
        write_zordered,
    )

    # 64×64 grid, row-major ids so neither column is correlated with id
    df = spark.range(4096).selectExpr(
        "CAST(id % 64 AS LONG) AS x", "CAST(id DIV 64 AS LONG) AS y"
    )

    def file_ranges(path, col):
        spans = []
        for f in sorted(Path(path).glob("*.parquet")):
            md = pq.ParquetFile(str(f)).metadata
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                c = next(
                    md.row_group(rg).column(i)
                    for i in range(md.num_columns)
                    if md.row_group(rg).column(i).path_in_schema == col
                )
                mins.append(c.statistics.min)
                maxs.append(c.statistics.max)
            spans.append(max(maxs) - min(mins))
        return spans

    zpath = str(tmp_path / "zord")
    write_zordered(df, zpath, ["x", "y"], bits=6, n_files=16)
    lpath = str(tmp_path / "linear")
    write_range_clustered(df, lpath, ["x"], n_files=16)

    # z-order: each of 16 files covers ~1/16 of the curve → both dims
    # bounded well below full width (64); linear sort on x leaves y at
    # full width in every file
    assert max(file_ranges(zpath, "x")) <= 32
    assert max(file_ranges(zpath, "y")) <= 32
    assert max(file_ranges(lpath, "y")) >= 60

    back = spark.read.parquet(zpath)
    assert back.count() == 4096
    assert back.agg(F.sum("x"), F.sum("y")).first() == df.agg(
        F.sum("x"), F.sum("y")
    ).first()


def test_single_file_parquet_shuffles_to_one_writer(spark, tmp_path):
    """``write_parquet(single_file=True)`` keeps the upstream at its own
    width: one shuffle into a single writer task, no ``Coalesce`` folded
    into the source stage, and the file in ``coalesce(1)``'s row order."""
    import re

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    df = spark.range(0, 4000, 1, 4).select(
        ((F.col("id") * 7919) % 4001).alias("k"), F.col("id").cast("string").alias("s")
    )
    path = str(tmp_path / "one.parquet")
    group = "single_file_write"
    sc.setJobGroup(group, group)  # also the SQL execution's description
    try:
        write_parquet(df, path, single_file=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jsc.listenerBus().waitUntilEmpty()

    # The SQL store keeps a bounded window of executions, newest last.
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    n = executions.size()
    recent = [executions.apply(i) for i in range(max(0, n - 20), n)]
    plans = [e.physicalPlanDescription() for e in recent if e.description() == group]
    assert len(plans) == 1
    # Formatted (AQE) plan: a node tree, then one "(id) Name ... Arguments:"
    # block per node.  Every Exchange of the executed tree must be the
    # single-partition shuffle.
    plan = plans[0]
    tree = plan.split("== Initial Plan ==")[0]
    exchanges = [
        re.search(rf"\({n}\) Exchange\n(?:.*\n)*?Arguments: (\w+)", plan).group(1)
        for n in re.findall(r"Exchange \((\d+)\)", tree)
    ]
    assert exchanges == ["SinglePartition"]
    assert not re.search(r"\bCoalesce\b", plan)

    tracker, store = sc.statusTracker(), jsc.statusStore()
    tasks = []
    for jid in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(jid).stageIds:
            st = store.lastStageAttempt(sid)
            if st.status().toString() != "SKIPPED":
                tasks.append(st.numCompleteTasks())
    assert sorted(tasks) == [1, 4]

    assert len(list(Path(path).glob("part-*.parquet"))) == 1
    assert spark.read.parquet(path).collect() == df.coalesce(1).collect()
