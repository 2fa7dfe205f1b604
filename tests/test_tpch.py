"""TPC-H composite showcase queries: non-degenerate results + intended
physical plans at fixture scale."""

from __future__ import annotations

import duckdb

from jurimetria_etl_spark.plans.registry import REGISTRY
from jurimetria_etl_spark.plans.tpch import (
    t02_shipping_priority,
    t03_local_supplier_volume,
)

SF = "/root/testdata/sf0.001"


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_all_tpch_queries_return_rows(spark):
    for name, q in REGISTRY.items():
        if not (q.gate and name.startswith("t")):
            continue
        assert q.spark(spark, SF).count() > 0, f"{name} degenerate (0 rows)"


def test_q3_topk_and_broadcast(spark):
    plan = _physical(t02_shipping_priority(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_q5_all_dims_broadcast(spark):
    # six-table join: only the orders⨝lineitem spine may shuffle
    plan = _physical(t03_local_supplier_volume(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_documents_are_ascii():
    # test_multimodal.py's frame-sample oracle slices text chars then
    # encodes; that is byte-exact ONLY for ASCII corpora — pin the fixture
    # property it depends on so a fixture change fails loudly here, not as
    # a row diff there.
    for sf in ("sf0.001", "sf0.01"):
        n = duckdb.sql(
            f"SELECT count(*) FROM '/root/testdata/{sf}/documents.parquet' "
            "WHERE octet_length(encode(text)) <> length(text)"
        ).fetchone()[0]
        assert n == 0


def test_t16_threshold_is_exact_decimal_on_planted_tie(spark):
    """The Q11-shape HAVING must compare in EXACT decimal: a per-key value
    landing EXACTLY on total/1000 is excluded (strict >) on BOTH engines.
    Planted: total = 100000.00, one key at exactly 100.00 (the tie), one
    above, one below — a double comparison here could flip the tie key
    either way depending on summation order."""
    from pyspark.sql import functions as F

    rows = [
        (1, 100.00),  # exactly total/1000 -> OUT (strict >)
        (2, 150.00),  # above -> IN
        (3, 50.00),   # below -> OUT
        (4, 0.0),     # filler, replaced below so total is exactly 100000.00
    ]
    filler = round(100000.00 - sum(v for _, v in rows[:3]), 2)
    rows[3] = (4, filler)  # 99700.00 -> also IN
    df = spark.createDataFrame(rows, "k int, v double")
    dec = F.col("v").cast("decimal(28,8)")
    per = df.groupBy("k").agg(F.sum(dec).cast("decimal(28,8)").alias("s"))
    total = df.agg(F.sum(dec).cast("decimal(28,8)").alias("t"))
    kept = {
        r.k
        for r in per.crossJoin(F.broadcast(total))
        .where(F.col("s") * 1000 > F.col("t"))
        .collect()
    }
    assert kept == {2, 4}  # the tie key 1 is excluded, strictly

    import duckdb as dk

    con = dk.connect()
    con.execute("CREATE TABLE t(k INT, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = {
        r[0]
        for r in con.execute(
            """
            SELECT k FROM t GROUP BY k
            HAVING CAST(SUM(CAST(v AS DECIMAL(28,8))) AS DECIMAL(28,8)) * 1000
                 > (SELECT CAST(SUM(CAST(v AS DECIMAL(28,8))) AS DECIMAL(28,8)) FROM t)
            """
        ).fetchall()
    }
    assert kept == want
