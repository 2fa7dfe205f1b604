"""Correctness-query corpus (FIXTURES.md §C, Q01–Q24) — the t2 gate.

Each entry pairs an idiomatic-Spark DataFrame implementation with an ANSI-SQL
oracle that DuckDB runs over the same parquet tables.  Conventions that make
the hash-compare deterministic across engines:

- **Aggregated doubles go through exact decimal arithmetic** and are cast to
  double at the end: ``CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)``.
  Summation order of IEEE doubles is engine/partition dependent; decimal
  sums are exact, and the final decimal→double cast is deterministic.
- **Every window/top-k ORDER BY carries a unique tiebreaker column.**
- **Integer widths are aligned** (DuckDB ``hour()``/``length()`` return
  BIGINT, Spark returns INT — the wider side is pinned with CASTs).
- **Column aliases match exactly** between the Spark plan and the oracle.

Scale notes are on each query: the Spark plan is written the way it should
run on 100 TB (broadcast the dims, partial aggregation, top-k as
TakeOrderedAndProject), not just the way that passes at sf0.01.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from jurimetria_etl_spark import storefs
from jurimetria_etl_spark.functions.temporal import SP_TZ
from jurimetria_etl_spark.operators.filters import date_range_null_pass


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from jurimetria_etl_spark.sources.fixtures import load_fixture

    return load_fixture(spark, sf_dir, name)


def _fact(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Fact table widened to cluster parallelism before CPU-dense map work
    (partial aggregates, broadcast-join probe sides).  The fixture files are
    single-row-group parquet — unsplittable below one task — so without
    this the whole map phase runs serial.  No-op whenever file count ≥
    cores (any real 100 TB layout): the scale plan is unchanged."""
    from jurimetria_etl_spark.operators.dedup import widen_partitions

    return widen_partitions(_t(spark, sf_dir, name))


def dsum(col: str | Column, alias: str, prec: int = 18, scale: int = 2) -> Column:
    """Deterministic double sum: exact decimal accumulate → double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({prec},{scale})")).cast("double").alias(alias)


@dataclass(frozen=True)
class Q:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None → driver runs rows-only check
    gate: bool = False  # in the driver's 50-entry correctness window
    bench: bool = False  # timed by bench.py


# ───────────────────────── scans / projections ─────────────────────────────
def q01_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q01 — projection with per-row arithmetic (P1 shape).  Narrow op; the
    column selection prunes the parquet scan to 4 columns."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net"),
    )


Q01_SQL = """
SELECT l_orderkey, l_linenumber, l_extendedprice * (1 - l_discount) AS net
FROM lineitem
"""


# ───────────────────────────── filters ─────────────────────────────────────
def q02_filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q02 — equality filter (W2) + global count.  Filter reaches the scan
    as a parquet PushedFilter."""
    return (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .agg(F.count("*").alias("cnt"))
    )


Q02_SQL = "SELECT count(*) AS cnt FROM orders WHERE o_orderstatus = 'F'"


def q03_filter_range_nullpass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q03 — the reference's NULL-passes date-range filter (W1,
    ``/root/reference/src/jurimetria_pipeline.py:208-215``)."""
    orders = _t(spark, sf_dir, "orders")
    pred = date_range_null_pass(
        "o_orderdate",
        F.lit("1996-01-01").cast("timestamp"),
        F.lit("1997-12-31").cast("timestamp"),
    )
    return orders.where(pred).agg(F.count("*").alias("cnt"))


Q03_SQL = """
SELECT count(*) AS cnt FROM orders
WHERE o_orderdate IS NULL
   OR (o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate <= TIMESTAMP '1997-12-31')
"""


# ────────────────────────────── joins ──────────────────────────────────────
def q04_join_dim_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q04 — broadcast dim join with coalesce fallback (J1 semantics,
    ``/root/reference/src/jurimetria_pipeline.py:236-237``).  The dim is
    broadcast: the fact side never shuffles, which is the whole point at
    100 TB."""
    customer = _t(spark, sf_dir, "customer")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    return customer.join(
        nation, customer.c_nationkey == nation.n_nationkey, "left"
    ).select(
        "c_custkey",
        F.coalesce(F.col("n_name"), F.col("c_nationkey").cast("string")).alias(
            "nation_name"
        ),
    )


Q04_SQL = """
SELECT c_custkey, coalesce(n_name, CAST(c_nationkey AS VARCHAR)) AS nation_name
FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
"""


def q05_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q05 — inner equi-join fact⋈dim.  customer is small → broadcast; at
    scale both sides large would be a shuffled hash join on the key."""
    orders = _fact(spark, sf_dir, "orders")
    customer = F.broadcast(_t(spark, sf_dir, "customer"))
    return orders.join(customer, orders.o_custkey == customer.c_custkey).select(
        "o_orderkey", "c_name"
    )


Q05_SQL = """
SELECT o_orderkey, c_name FROM orders JOIN customer ON o_custkey = c_custkey
"""


def q06_join_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q06 — star join (orders⋈customer⋈nation⋈region), revenue per region.
    All three dims broadcast → single shuffle-free map phase + one partial/
    final agg shuffle on 5 groups."""
    orders = _fact(spark, sf_dir, "orders")
    customer = F.broadcast(_t(spark, sf_dir, "customer"))
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    region = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(dsum("o_totalprice", "revenue"))
    )


Q06_SQL = """
SELECT r_name, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q07_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q07a — customers with no orders (left anti)."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).agg(F.count("*").alias("cnt"))


Q07_ANTI_SQL = """
SELECT count(*) AS cnt FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q07_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q07b — customers with ≥1 order (left semi)."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).agg(F.count("*").alias("cnt"))


Q07_SEMI_SQL = """
SELECT count(*) AS cnt FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


# ─────────────────────────── aggregations ──────────────────────────────────
def q08_agg_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q08 — the A1 histogram shape (hour-of-day count,
    ``/root/reference/src/jurimetria_pipeline.py:274-286``): hash aggregate
    with map-side partial agg, 24 groups."""
    events = _t(spark, sf_dir, "events")
    return (
        events.where(F.col("ts").isNotNull())
        .groupBy(F.hour("ts").cast("bigint").alias("h"))
        .agg(F.count("*").alias("cnt"))
        .orderBy("h")
    )


Q08_SQL = """
SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h, count(*) AS cnt
FROM events WHERE ts IS NOT NULL GROUP BY h ORDER BY h
"""


def q10_agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 — multi-agg + conditional percentage (A4 shape: the legacy
    tempo-medio / taxa-provimento metrics rebuilt natively,
    ``/root/reference/legacy/legacy_datajud_connector.py:128-146``)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / F.count("o_totalprice")
        ).alias("avg_price"),
        (
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).cast("double")
            * 100
            / F.count("*")
        ).alias("pct_f"),
    )


Q10_SQL = """
SELECT o_orderpriority,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(o_totalprice) AS avg_price,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS DOUBLE) * 100 / COUNT(*) AS pct_f
FROM orders GROUP BY o_orderpriority
"""


# ────────────────────────────── windows ────────────────────────────────────
def q13_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 — top-3 per group via row_number.  Unique tiebreaker
    (o_orderkey) makes ranks deterministic; one shuffle on the partition
    key, sort within partitions."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    )
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("bigint").alias("rn"),
        )
        .where(F.col("rn") <= 3)
    )


Q13_SQL = """
SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders) t
WHERE rn <= 3
"""


# ─────────────────────────── sort / limit ──────────────────────────────────
def q15_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 — global top-k (O1+O3): Catalyst plans orderBy+limit as
    TakeOrderedAndProject — per-partition heaps, no global sort."""
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey"))
        .limit(100)
    )


Q15_SQL = """
SELECT * FROM orders ORDER BY o_orderdate DESC, o_orderkey LIMIT 100
"""


# ───────────────────────────── set ops ─────────────────────────────────────
def q16_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 — union-all (U1) + checksum aggregate."""
    supplier = _t(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("k"))
    customer = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    return supplier.unionByName(customer).agg(
        F.count("*").alias("cnt"), F.sum("k").alias("total")
    )


Q16_SQL = """
SELECT count(*) AS cnt, CAST(SUM(k) AS BIGINT) AS total FROM (
  SELECT s_suppkey AS k FROM supplier
  UNION ALL
  SELECT c_custkey AS k FROM customer) t
"""


def q17_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17a — nation keys that appear among customers (INTERSECT = distinct
    semi-join shuffle)."""
    nation = _t(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("k"))
    cust = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    return nation.intersect(cust)


Q17_INTERSECT_SQL = """
SELECT n_nationkey AS k FROM nation INTERSECT SELECT c_nationkey AS k FROM customer
"""


def q17_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17b — nation keys with no customers (EXCEPT = distinct anti-join)."""
    nation = _t(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("k"))
    cust = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    return nation.exceptAll(cust.distinct())


Q17_EXCEPT_SQL = """
SELECT n_nationkey AS k FROM nation EXCEPT SELECT c_nationkey AS k FROM customer
"""


# ─────────────────────────── scalar functions ──────────────────────────────


# DuckDB dayofweek: Sunday=0; Spark dayofweek: Sunday=1 → +1 aligns.


def q19_hour_sp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19b — hour-of-day in America/Sao_Paulo of a UTC instant (F1/F2, the
    reference's tz semantics).  Oracle uses the fixed -03:00 offset valid
    for the 2024 fixture data (SP abolished DST in 2019); the DST-era parity
    is pinned in unit tests instead."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.hour(F.from_utc_timestamp("ts", SP_TZ)).cast("bigint").alias("h_sp")
        )
        .agg(F.count("*").alias("cnt"))
        .orderBy("h_sp")
    )


Q19_HOUR_SP_SQL = """
SELECT CAST(EXTRACT(hour FROM ts - INTERVAL 3 HOUR) AS BIGINT) AS h_sp, count(*) AS cnt
FROM events GROUP BY h_sp ORDER BY h_sp
"""


def q20_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 — ordered array_agg (P3 shape: sort-by-key inside an array).
    Spark has no ordered collect_list; sort an array of (key, value) structs
    then project — exactly the movimentos array_sort pattern.  The array is
    serialized with ``to_json`` at the output boundary so the driver's
    pandas canonicalizer can sort/hash it (lists are unhashable)."""
    li = _fact(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.collect_list(F.struct("l_shipdate", "l_linenumber")).alias("pairs")
        )
        .select(
            "l_orderkey",
            F.to_json(
                F.transform(F.array_sort("pairs"), lambda p: p["l_linenumber"])
            ).alias("lines"),
        )
    )


Q20_SQL = """
SELECT l_orderkey,
       CAST(to_json(list(l_linenumber ORDER BY l_shipdate, l_linenumber)) AS VARCHAR) AS lines
FROM lineitem GROUP BY l_orderkey
"""


# ───────────────────────────── extensions ──────────────────────────────────
def q22_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 — exact dedup count (E1): distinct = hash-groupBy on the keys."""
    return (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber")
        .distinct()
        .agg(F.count("*").alias("cnt"))
    )


Q22_SQL = """
SELECT count(*) AS cnt
FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem) t
"""


# x14_ann_ivf's oracle: the brute-force cosine top-5 its full probe must equal.
Q23_SQL = """
WITH probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 1)
SELECT e.vec_id,
       round(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(p AS DOUBLE[]))
         / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
          * sqrt(list_dot_product(CAST(p AS DOUBLE[]), CAST(p AS DOUBLE[])))), 6) AS cos_sim
FROM embeddings e, probe
WHERE e.vec_id <> 1
ORDER BY cos_sim DESC, e.vec_id
LIMIT 5
"""


def q24_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q24b — top-20 terms: explode + hash agg + top-k with term tiebreak."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.trim(F.col("text")), " ")).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "term")
        .limit(20)
    )


Q24_TOP_TERMS_SQL = """
SELECT term, count(*) AS cnt
FROM (SELECT unnest(string_split(trim(text), ' ')) AS term FROM documents) t
WHERE term <> ''
GROUP BY term ORDER BY cnt DESC, term LIMIT 20
"""


def q27_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q27 — as-of join: each error event picks up the latest same-user
    click at-or-before it.  Spark side is the single-shuffle union+window
    operator (``operators.joins.asof_join``); the oracle is DuckDB's native
    ASOF LEFT JOIN."""
    from jurimetria_etl_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    return asof_join(
        errors, clicks, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["click_id"],
    ).withColumnRenamed("ts_r", "click_ts")


Q27_SQL = """
SELECT e.event_id, e.user_id, e.ts, c.ts AS click_ts, c.click_id
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
ASOF LEFT JOIN (SELECT user_id, ts, event_id AS click_id
                FROM events WHERE event_type = 'click') c
  ON e.user_id = c.user_id AND e.ts >= c.ts
"""


def q28_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q28 — point-in-interval range join: events counted into the 10-minute
    window after each same-user error.  Bucketed blocking keeps it a hash
    join (see ``operators.joins.range_join_bucketed``); the oracle is the
    naive inequality join."""
    from jurimetria_etl_spark.operators.joins import range_join_bucketed

    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        F.col("user_id").alias("l_user"), F.col("ts").alias("l_ts")
    )
    ivs = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        "user_id",
        "ts",
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("hi"),
    )
    joined = range_join_bucketed(
        pts,
        ivs,
        pts["l_ts"],
        ivs["ts"],
        ivs["hi"],
        extra_cond=pts["l_user"] == ivs["user_id"],
        bucket_seconds=600,
    )
    return joined.groupBy("err_id").agg(F.count("*").alias("cnt"))


Q28_SQL = """
SELECT r.event_id AS err_id, count(*) AS cnt
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') r
JOIN events l
  ON l.user_id = r.user_id AND l.ts >= r.ts AND l.ts < r.ts + INTERVAL 10 MINUTE
GROUP BY err_id
"""


# q32's strategy crossover (bytes of lineitem input).  Measured (r16,
# steal-matched probes): native 1.6–1.9 s vs selection 3.3–3.8 s at
# sf0.1 (~10 MB — the two-job selection pays the stage floor twice on
# ~0.3 s of real work); native 8.6–10 s vs selection ~5 s at sf1
# (~110 MB — the native per-group value→count map merge dominates).
# 32 MB sits between the measured points; derived from input size
# (metadata only), not from core count, so the same rule holds on a
# cluster where the native buffer merge degrades with group size while
# the selection's bracket stays ~8n/accuracy.
_Q32_SELECTION_MIN_BYTES = 32 * 1024 * 1024


def _input_bytes(df: DataFrame) -> int:
    """Total bytes of a frame's input files (pure metadata — the
    ``widen_partitions`` posture), sized on whatever Hadoop FileSystem
    Spark read them from.  A non-file frame has no input files and
    reads 0, which routes it to the native strategy (the small literal
    frames of tests).  ``inputFiles()`` are URI strings, so they are
    unquoted back to the raw paths a Hadoop ``Path`` takes."""
    from urllib.parse import unquote

    return sum(storefs.size(unquote(f)) for f in df.inputFiles())


def q32_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q32 — exact percentiles (linear interpolation — ``percentile_cont``
    semantics) per group, with the physical strategy CHOSEN FROM INPUT
    SIZE (r16): below ``_Q32_SELECTION_MIN_BYTES`` of input the native
    ``F.percentile`` aggregate runs (its per-group value→count buffer
    is cheap when groups are small, and its single pass wins the
    job-floor race — measured 1.6–1.9 s vs the selection's 3.3–3.8 s
    at sf0.1); at or above it the TWO-PASS DISTRIBUTED SELECTION runs
    (``operators.stats.percentile_cont_selection``: GK-sketch bracket
    pass, then exact order statistics over only the ~8n/accuracy
    in-bracket values — measured ~5 s vs the native 8.6–10 s at sf1,
    and structurally the only form with neither a per-group
    value→count buffer to spill nor a full distinct-value sort at
    100-TB group sizes).  Both strategies are BIT-IDENTICAL to
    ``F.percentile`` (same interpolation arithmetic, pinned in
    tests/test_percentile_hist.py), so the declared output is
    invariant to the switch — the same cost-based-strategy posture as
    AQE's join-strategy choice, with the crossover measured instead of
    estimated.  Exact, not ``approx_percentile``: at 100 TB prefer the
    approx variant unless exactness is contractual.  The ``percentile_cont_by_group`` histogram stays
    benched as q32b."""
    from jurimetria_etl_spark.operators.stats import (
        percentile_cont_selection,
    )

    li = _fact(spark, sf_dir, "lineitem")
    if _input_bytes(li) < _Q32_SELECTION_MIN_BYTES:
        return li.groupBy("l_returnflag").agg(
            F.percentile("l_quantity", 0.25).alias("q25"),
            F.percentile("l_quantity", 0.5).alias("q50"),
            F.percentile("l_quantity", 0.9).alias("q90"),
            F.percentile("l_extendedprice", 0.5).alias("median_price"),
        )
    sel = percentile_cont_selection(
        li,
        "l_returnflag",
        {"l_quantity": [0.25, 0.5, 0.9], "l_extendedprice": [0.5]},
    )
    qty = F.col("metric") == "l_quantity"
    return sel.groupBy("l_returnflag").agg(
        F.max(F.when(qty & (F.col("p") == 0.25), F.col("val"))).alias("q25"),
        F.max(F.when(qty & (F.col("p") == 0.5), F.col("val"))).alias("q50"),
        F.max(F.when(qty & (F.col("p") == 0.9), F.col("val"))).alias("q90"),
        F.max(
            F.when(
                (F.col("metric") == "l_extendedprice") & (F.col("p") == 0.5),
                F.col("val"),
            )
        ).alias("median_price"),
    )


Q32_SQL = """
SELECT l_returnflag,
       percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity) AS q25,
       percentile_cont(0.5)  WITHIN GROUP (ORDER BY l_quantity) AS q50,
       percentile_cont(0.9)  WITHIN GROUP (ORDER BY l_quantity) AS q90,
       percentile_cont(0.5)  WITHIN GROUP (ORDER BY l_extendedprice) AS median_price
FROM lineitem GROUP BY l_returnflag
"""


def q33_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q33 — sliding windows (1 h long, 15 min slide): every event lands in
    exactly 4 overlapping windows.  Same operator serves batch and
    streaming (``streaming.windows.sliding_window_agg``)."""
    from jurimetria_etl_spark.streaming.windows import sliding_window_agg

    return sliding_window_agg(
        _t(spark, sf_dir, "events"), window="1 hour", slide="15 minutes"
    )


# Oracle: rebuild the 4 epoch-aligned window starts per event with
# generate_series; make_timestamp keeps everything tz-naive.
Q33_SQL = """
WITH w AS (
  SELECT user_id,
         make_timestamp(s * 1000000) AS w_start
  FROM events,
       UNNEST(generate_series(
         CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 - 2700,
         CAST(floor(epoch(ts) / 900) AS BIGINT) * 900,
         900)) AS t(s))
SELECT w_start, w_start + INTERVAL 1 HOUR AS w_end, user_id, count(*) AS cnt
FROM w GROUP BY 1, 2, 3
"""


# ─────────────────────── merged registry entries ───────────────────────────
# The driver's correctness gate checks at most ~50 registry entries; round 1
# registered 60 and starved x08–x13/t01–t04 of CORRECTNESS rows.  Closely
# related single-operator queries are therefore merged into tagged unions —
# every underlying operator still runs and is value-checked, but the
# registry stays within the driver's window.  The standalone building
# blocks above are what these unions call.


def q02_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q02+Q03 merged — equality filter (W2) and the reference's NULL-passes
    date-range filter (W1) as one tagged union; both predicates still reach
    the parquet scan as PushedFilters."""
    eq = q02_filter_eq(spark, sf_dir).select(F.lit("eq").alias("which"), "cnt")
    rng = q03_filter_range_nullpass(spark, sf_dir).select(
        F.lit("range_nullpass").alias("which"), "cnt"
    )
    return eq.unionByName(rng)


Q02_FILTERS_SQL = f"""
SELECT 'eq' AS which, cnt FROM ({Q02_SQL}) a
UNION ALL
SELECT 'range_nullpass' AS which, cnt FROM ({Q03_SQL}) b
"""


def q07_join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q07 merged — left-semi and left-anti joins as one tagged union."""
    semi = q07_join_semi(spark, sf_dir).select(
        F.lit("semi").alias("which"), "cnt"
    )
    anti = q07_join_anti(spark, sf_dir).select(
        F.lit("anti").alias("which"), "cnt"
    )
    return semi.unionByName(anti)


Q07_SEMI_ANTI_SQL = f"""
SELECT 'semi' AS which, cnt FROM ({Q07_SEMI_SQL}) s
UNION ALL
SELECT 'anti' AS which, cnt FROM ({Q07_ANTI_SQL}) a
"""


def q17_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17+Q16 merged — INTERSECT, EXCEPT, and the UNION-ALL checksum (U1)
    as one tagged union (the registry-window pattern of q07/q12: standalone
    forms keep their own pytest-oracle rows)."""
    i = q17_intersect(spark, sf_dir).select(
        F.lit("intersect").alias("which"), F.col("k").cast("bigint").alias("k")
    )
    e = q17_except(spark, sf_dir).select(
        F.lit("except").alias("which"), F.col("k").cast("bigint").alias("k")
    )
    u = q16_union_all(spark, sf_dir).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("union_cnt").alias("which"), F.col("cnt").alias("k")
                ),
                F.struct(
                    F.lit("union_sum").alias("which"), F.col("total").alias("k")
                ),
            )
        ).alias("s")
    ).select("s.which", "s.k")
    return i.unionByName(e).unionByName(u)


Q17_SETOPS_SQL = f"""
SELECT 'intersect' AS which, CAST(k AS BIGINT) AS k FROM ({Q17_INTERSECT_SQL}) i
UNION ALL
SELECT 'except' AS which, CAST(k AS BIGINT) AS k FROM ({Q17_EXCEPT_SQL}) e
UNION ALL
SELECT 'union_cnt' AS which, cnt AS k FROM ({Q16_SQL}) u1
UNION ALL
SELECT 'union_sum' AS which, total AS k FROM ({Q16_SQL}) u2
"""


def q12_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12+Q30+Q31 merged — ROLLUP, CUBE, and explicit GROUPING SETS over
    the same (returnflag, linestatus) keys with a uniform aggregate set,
    tagged by variant.

    All the grouping sets involved are coarsenings of (rf, ls), and every
    aggregate here is decomposable (count → sum, sum → sum), so the engine
    aggregates lineitem ONCE at the finest (rf, ls) granularity, then
    replays Spark's Expand trick on that ~10-row result: each base row
    explodes into its 4 masked grouping-set keys and a second (tiny)
    aggregation folds them.  Spark's native cube/rollup Expand would
    multiply every INPUT row by the number of grouping sets before the
    partial agg (4× the scan at 100 TB); here the multiplication happens
    after the 600000:10 reduction, and the fact table is scanned exactly
    once (plan-pinned in test_plan_shapes.py).  Decimal sums stay decimal
    until one final double cast, so two-level summation is bit-exact with
    the one-pass oracle.

    Known edge (documented, not hit by the corpus): on an EMPTY input this
    returns 0 rows, whereas native ROLLUP/CUBE/GROUPING SETS emit their
    grand-total row (cnt=0) even with no input — restoring that row would
    need a second global-agg branch whose differing column pruning defeats
    the single-scan plan."""
    li = _fact(spark, sf_dir, "lineitem")
    base = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("__cnt"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("__qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("__price"),
    )
    null_s = F.lit(None).cast("string")
    rf, ls = F.col("l_returnflag"), F.col("l_linestatus")
    # grouping-set id: 0 = (rf, ls), 1 = (rf), 2 = (ls), 3 = ().
    # rollup = {0, 1, 3}; cube = all; grouping_sets = {1, 2, 3}.
    sets = F.array(
        F.struct(F.lit(0).alias("gid"), rf.alias("rf"), ls.alias("ls")),
        F.struct(F.lit(1).alias("gid"), rf.alias("rf"), null_s.alias("ls")),
        F.struct(F.lit(2).alias("gid"), null_s.alias("rf"), ls.alias("ls")),
        F.struct(
            F.lit(3).alias("gid"), null_s.alias("rf"), null_s.alias("ls")
        ),
    )
    levels = (
        base.select(
            F.explode(sets).alias("g"), "__cnt", "__qty", "__price"
        )
        .groupBy("g.gid", "g.rf", "g.ls")
        .agg(
            F.sum("__cnt").alias("cnt"),
            F.sum("__qty").alias("__qty2"),
            F.sum("__price").alias("__price2"),
        )
        .select(
            F.col("rf").alias("l_returnflag"),
            F.col("ls").alias("l_linestatus"),
            "cnt",
            F.col("__qty2").cast("double").alias("sum_qty"),
            F.col("__price2").cast("double").alias("sum_price"),
            F.col("gid").alias("__gid"),
        )
    )
    variants = (
        F.when(F.col("__gid") == 0, F.array(F.lit("rollup"), F.lit("cube")))
        .when(
            F.col("__gid") == 2,
            F.array(F.lit("cube"), F.lit("grouping_sets")),
        )
        .otherwise(
            F.array(F.lit("rollup"), F.lit("cube"), F.lit("grouping_sets"))
        )
    )
    return levels.select(
        F.explode(variants).alias("variant"),
        "l_returnflag",
        "l_linestatus",
        "cnt",
        "sum_qty",
        "sum_price",
    )


_GROUPING_AGGS_SQL = """count(*) AS cnt,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price"""

Q12_GROUPING_SQL = f"""
SELECT 'rollup' AS variant, l_returnflag, l_linestatus, {_GROUPING_AGGS_SQL}
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
UNION ALL
SELECT 'cube' AS variant, l_returnflag, l_linestatus, {_GROUPING_AGGS_SQL}
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
UNION ALL
SELECT 'grouping_sets' AS variant, l_returnflag, l_linestatus, {_GROUPING_AGGS_SQL}
FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


def q36_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q36 — hypertable-style bucketed gap-fill (operators/timeseries.py):
    hourly avg(value) per event_type, every bucket in each type's span
    materialized, holes filled by LOCF.  One agg shuffle; densification is
    a narrow sequence+explode; the fill window rides the same key
    partitioning.  Bucket surfaces as epoch SECONDS (bigint) so neither
    engine's timestamp/tz rendering is in the compared values."""
    from jurimetria_etl_spark.operators.timeseries import bucket_agg_gapfill

    out = bucket_agg_gapfill(
        _t(spark, sf_dir, "events"),
        bucket_seconds=3600,
        keys=["event_type"],
        value_col="value",
        agg="avg",
        fill="locf",
    )
    return out.select(
        "event_type",
        F.unix_timestamp("bucket_start").alias("bucket_s"),
        "is_filled",
        "value",
    )


Q36_SQL = """
WITH per_bucket AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket_s,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value) AS agg_v,
         TRUE AS obs
  FROM events
  GROUP BY 1, 2),
spans AS (
  SELECT event_type, MIN(bucket_s) AS lo, MAX(bucket_s) AS hi
  FROM per_bucket GROUP BY 1),
dense AS (
  SELECT s.event_type, gs.g AS bucket_s
  FROM spans s,
       LATERAL (SELECT unnest(generate_series(s.lo, s.hi, 3600)) AS g) gs),
joined AS (
  SELECT d.event_type, d.bucket_s, p.agg_v, p.obs
  FROM dense d LEFT JOIN per_bucket p USING (event_type, bucket_s))
SELECT event_type, bucket_s,
       obs IS NULL AS is_filled,
       last_value(agg_v IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY bucket_s
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
FROM joined
"""


def full_registry() -> dict[str, Q]:
    """The driver's correctness gate: the 50 registry entries tagged
    ``gate``, each with a DuckDB oracle."""
    from jurimetria_etl_spark.plans.registry import REGISTRY

    return {name: q for name, q in REGISTRY.items() if q.gate}


def query_map() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.spark for name, q in full_registry().items()}


def oracle_sql_map() -> dict[str, str]:
    return {
        name: q.oracle for name, q in full_registry().items() if q.oracle is not None
    }
