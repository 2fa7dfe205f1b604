"""TPC-H-style composite showcase queries (t-series).

The corpus q-series tests operators one at a time; these four classics
compose them — multi-way joins, selective filters, grouped decimal
aggregates, top-k — the way a real analyst would, over the driver's
TPC-H-ish fixtures (TESTDATA.md; note the fixtures carry a subset of the
official columns, so Q3/Q5/Q10 substitute o_orderpriority for the missing
o_shippriority/phone/address fields).

Determinism conventions follow plans/corpus.py: money aggregates
accumulate in exact decimals and surface as doubles; every top-k ORDER BY
carries a unique tiebreaker.

Scale notes: dims (region, nation — and customer at fixture scale) ride
broadcast joins; the orders⨝lineitem spine is the only real shuffle, and
AQE re-plans it if skewed.  Each docstring notes the intended plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jurimetria_etl_spark.plans.corpus import _fact, _t, dsum


def _davg(col, alias: str, prec: int = 28, scale: int = 8):
    """Deterministic double avg: exact decimal sum → double, ÷ count in
    double arithmetic (plain avg() would accumulate doubles in partition
    order; dividing while still decimal would hit engine-specific
    division-scale rules).  Rounded to 4 decimals: once the exact decimal
    sum exceeds 2⁵³ the decimal→double conversion itself is lossy and
    engines legitimately differ in the last ulp (observed at sf0.1:
    2828375807.434132 vs ...4341316) — the oracle SQL carries the same
    ROUND."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(
        F.sum(c.cast(f"decimal({prec},{scale})")).cast("double")
        / F.count("*"),
        4,
    ).alias(alias)


def t01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: full-scan grouped aggregate over lineitem.  One wide
    partial-agg before the (tiny, 4-group) shuffle; the shipdate filter is a
    parquet PushedFilter."""
    li = _fact(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    # The (28,8) group sums exceed 2^53 unscaled at sf0.1, so the exact
    # decimal->double conversion itself is engine-ulp-sensitive (same
    # failure mode as _davg) - round to 4 decimals on both sides.
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            F.round(
                F.sum(disc_price.cast("decimal(28,8)")).cast("double"), 4
            ).alias("sum_disc_price"),
            F.round(
                F.sum(charge.cast("decimal(28,8)")).cast("double"), 4
            ).alias("sum_charge"),
            _davg("l_quantity", "avg_qty"),
            _davg("l_extendedprice", "avg_price"),
            _davg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


T01_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))) AS DOUBLE), 4) AS sum_disc_price,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,8))) AS DOUBLE), 4) AS sum_charge,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*), 4) AS avg_price,
       ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*), 4) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def t02_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customer ⨝ orders ⨝ lineitem, top-10
    unshipped orders by revenue.  Customer is the small side (broadcast);
    top-k plans as TakeOrderedAndProject, never a global sort."""
    cutoff = F.lit("1996-03-15").cast("timestamp")
    cust = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _fact(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    li = _fact(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
                28,
                8,
            )
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


T02_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-03-15'
  AND l_shipdate > TIMESTAMP '1996-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def t03_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-table join where customer and supplier must share
    a nation.  region→nation broadcast-prunes the probe side before the
    fact shuffle; the c_nationkey = s_nationkey equality rides the join
    keys, not a post-filter."""
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    rn = F.broadcast(
        nation.join(
            F.broadcast(region), nation.n_regionkey == region.r_regionkey
        ).select("n_nationkey", "n_name")
    )
    cust = _t(spark, sf_dir, "customer")
    orders = _fact(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _fact(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(
            F.broadcast(cust),
            (orders.o_custkey == cust.c_custkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(rn, cust.c_nationkey == rn.n_nationkey)
        .groupBy("n_name")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
                28,
                8,
            )
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


T03_SQL = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def t04_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer for one quarter,
    top 20.  The R-flag filter prunes lineitem at the scan; nation is
    broadcast; one shuffle for the orders⨝lineitem spine, one for the
    customer rollup."""
    cust = _t(spark, sf_dir, "customer")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    orders = _fact(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _fact(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
                28,
                8,
            )
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


T04_SQL = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def t05_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: per-priority count of orders in a quarter having at
    least one "late" lineitem — an EXISTS correlated on the join key plus a
    non-equi date predicate, planned as a LEFT SEMI join on the
    orders⨝lineitem spine (the fixture lacks commit/receipt dates, so
    "late" substitutes l_shipdate > o_orderdate + 60 days).  Semi-join
    output carries only the orders side, so the count never double-counts
    multi-lineitem orders.  Registered since round 3."""
    orders = _fact(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = _fact(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


T05_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def t06_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (the fixture carries no shipmode/commitdate, so the
    two-bucket conditional count rides order priority and ship lag):
    orders ⨝ lineitem, lines shipped > 90 days after the order date,
    split into high-priority (1-URGENT/2-HIGH) vs other counts per
    returnflag.  Plan: both facts widened, one shuffled equi-join, partial
    agg before the tiny final shuffle."""
    orders = _fact(spark, sf_dir, "orders")
    li = _fact(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").isNotNull()
    )
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).where(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        j.groupBy("l_returnflag")
        .agg(
            F.sum(hi.cast("bigint")).alias("high_line_count"),
            F.sum((~hi).cast("bigint")).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


T06_SQL = """
SELECT l_returnflag,
       SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS high_line_count,
       SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate IS NOT NULL
  AND l_shipdate > o_orderdate + INTERVAL 90 DAY
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def t07_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share for one ship-month.  part is
    the broadcast side; the conditional and total sums accumulate in
    exact decimals and divide as doubles (determinism convention)."""
    li = _fact(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    part = F.broadcast(_t(spark, sf_dir, "part"))
    disc = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).cast("decimal(28,8)")
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(
        F.lit(0).cast("decimal(28,8)")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(disc).cast("double")
            ).alias("promo_revenue_pct")
        )
    )


T07_SQL = """
SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                     THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))
                     ELSE CAST(0 AS DECIMAL(28,8)) END) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))) AS DOUBLE)
       AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01'
"""


def t08_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue lost to small-quantity orders — a scalar
    subquery correlated on the join key (``l_quantity < 0.2 * avg(l_quantity)
    over the same part``).  The fixture carries no p_container, so the part
    filter is brand-only.

    Spark-first decorrelation: the correlated avg is a ``sum/count OVER
    (PARTITION BY l_partkey)`` window on the pruned fact — one pass, one
    partkey exchange (r15; the r14 shape computed the per-partkey stats
    as a separate aggregate joined back, which planned the pruned-fact
    subtree under both join inputs: two lineitem scans, 7 exchanges).
    The fact is pruned FIRST by the broadcast part filter, so at 100 TB
    the window shuffles only the brand's slice.

    Determinism: the threshold compare is kept in EXACT arithmetic —
    ``5·qty·cnt < sum(qty)`` (decimals × bigint) instead of
    ``qty < 0.2·sum/cnt`` — so no engine ever divides doubles at the
    boundary.  The oracle states the same predicate as two correlated scalar
    subqueries, which is the Q17 surface form DuckDB decorrelates itself.
    """
    part = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#4")
    li = _fact(spark, sf_dir, "lineitem")
    pruned = li.join(
        F.broadcast(part.select("p_partkey")),
        li.l_partkey == F.col("p_partkey"),
        "left_semi",
    )
    qty_dec = F.col("l_quantity").cast("decimal(18,2)")
    stats_w = Window.partitionBy("l_partkey")
    return (
        pruned.withColumn("sum_q", F.sum(qty_dec).over(stats_w))
        .withColumn("cnt_q", F.count(F.lit(1)).over(stats_w))
        .where(F.lit(5) * qty_dec * F.col("cnt_q") < F.col("sum_q"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(28,8)")).cast(
                    "double"
                )
                / 7.0,
                4,
            ).alias("avg_yearly")
        )
    )


T08_SQL = """
SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,8))) AS DOUBLE) / 7.0, 4) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#4'
  AND 5 * CAST(l_quantity AS DECIMAL(18,2))
        * (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
      < (SELECT SUM(CAST(l_quantity AS DECIMAL(18,2))) FROM lineitem l2
         WHERE l2.l_partkey = p_partkey)
"""


def t09_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers worth promoting — a nested-IN chain
    (supplier IN ⟨pairs over lineitem WHERE part IN ⟨name-filtered part⟩⟩)
    with a correlated quantity threshold.  The fixture has no partsupp, so
    the pair relation is lineitem itself and "availqty > ½·shipped-in-period"
    becomes "1996 shipments are the majority of the pair's total shipments".

    Spark-first: each IN level is a LEFT SEMI join — part-name filter
    broadcast onto lineitem, the HAVING threshold as a post-aggregate filter
    on the (partkey, suppkey) rollup, then a semi join into supplier (semi
    ⇒ no duplicate suppliers, no DISTINCT needed).  Nation rides a broadcast.
    At 100 TB the only shuffle is the pair rollup, which partial-aggregates
    map-side first.

    Determinism: the majority test is exact decimal arithmetic
    (``2·sum₉₆ > sum_total``), never a 0.5·double compare.
    """
    nations = ["NATION_3", "NATION_8", "NATION_13", "NATION_18", "NATION_21"]
    part_keys = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_name").like("blue%"))
        .select("p_partkey")
    )
    li = _fact(spark, sf_dir, "lineitem")
    qty_dec = F.col("l_quantity").cast("decimal(18,2)")
    in96 = (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp")) & (
        F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")
    )
    pairs = (
        li.join(
            F.broadcast(part_keys), li.l_partkey == F.col("p_partkey"), "left_semi"
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.when(in96, qty_dec).otherwise(F.lit(0).cast("decimal(18,2)"))).alias("q96"),
            F.sum(qty_dec).alias("q_all"),
        )
        .where(F.lit(2) * F.col("q96") > F.col("q_all"))
        .select("l_suppkey")
    )
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").where(F.col("n_name").isin(nations))
    return (
        supp.join(pairs, supp.s_suppkey == pairs.l_suppkey, "left_semi")
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("s_suppkey", "s_name", "n_name", "s_acctbal")
        .orderBy("s_suppkey")
    )


T09_SQL = """
SELECT s_suppkey, s_name, n_name, s_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name IN ('NATION_3', 'NATION_8', 'NATION_13', 'NATION_18', 'NATION_21')
  AND s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'blue%')
    GROUP BY l_partkey, l_suppkey
    HAVING 2 * SUM(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
                         AND l_shipdate < TIMESTAMP '1997-01-01'
                        THEN CAST(l_quantity AS DECIMAL(18,2))
                        ELSE CAST(0 AS DECIMAL(18,2)) END)
        > SUM(CAST(l_quantity AS DECIMAL(18,2))))
ORDER BY s_suppkey
"""


def t10_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average balances and no urgent
    orders — a global (uncorrelated) scalar-avg subquery over a segment slice
    plus a NOT EXISTS anti-correlation on orders.  The fixture has no
    c_phone, so the country-code grouping rides c_mktsegment, and every
    fixture customer has *some* order, so Q22's "no orders at all" becomes
    "no 1-URGENT orders" to keep the anti-join population non-vacuous
    (12/124/1171 customers at sf0.001/0.01/0.1).

    Spark-first: NOT EXISTS is a LEFT ANTI join on the order keys; the
    scalar average is a 1-row aggregate attached via broadcast cross join
    (the plan's only nested loop is that 1-row attach — the same intended
    shape as x14's probe attach).  At 100 TB: customer anti-joins a
    key-projected orders scan; the threshold agg reads the same pruned
    customer slice once.

    Determinism: ``bal > avg`` is evaluated as exact
    ``bal·cnt > sum`` (cnt > 0, so the multiply preserves order);
    the final balance sum is exact-decimal → double, rounded.
    """
    segs = ["BUILDING", "AUTOMOBILE", "MACHINERY"]
    bal_dec = F.col("c_acctbal").cast("decimal(18,2)")
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment").isin(segs))
    glob = cust.where(F.col("c_acctbal") > 0).agg(
        F.sum(bal_dec).alias("sum_bal"), F.count("*").alias("cnt_bal")
    )
    orders_keys = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        cust.join(orders_keys, cust.c_custkey == F.col("o_custkey"), "left_anti")
        .crossJoin(F.broadcast(glob))
        .where(bal_dec * F.col("cnt_bal") > F.col("sum_bal"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum(bal_dec).cast("double"), 4).alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


T10_SQL = """
SELECT c_mktsegment, COUNT(*) AS numcust,
       ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 4) AS totacctbal
FROM customer
WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')
  AND CAST(c_acctbal AS DECIMAL(18,2))
        * (SELECT COUNT(*) FROM customer c2 WHERE c2.c_acctbal > 0
           AND c2.c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY'))
      > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer c2
         WHERE c2.c_acctbal > 0
         AND c2.c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY'))
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def t11_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume customers — an IN over a grouped
    HAVING subquery (orders whose lineitem quantity rollup tops 250),
    re-joined to customer and order detail, top-100 by order value.

    Spark-first: the subquery's per-order rollup is computed ONCE and its
    sum carried through (the classic Q18 surface re-aggregates the same
    rollup after the IN — Catalyst-style decorrelation makes that second
    pass free by reusing the first).  The rollup is the only data-sized
    shuffle; the HAVING-filtered tail (~1.5% of orders) then joins orders
    and broadcast-joins customer, ending in TakeOrderedAndProject.  At
    100 TB: one lineitem shuffle keyed on l_orderkey, everything after it
    tail-sized.

    Determinism: the 250 threshold compares an exact decimal sum; top-k
    orders by (o_totalprice DESC, o_orderkey) — the orderkey tiebreak
    covers equal prices.
    """
    li = _fact(spark, sf_dir, "lineitem")
    qty_dec = F.col("l_quantity").cast("decimal(18,2)")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty_dec).alias("sum_q"))
        .where(F.col("sum_q") > 250)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    # No broadcast hint on either side: customer is data-sized at 100 TB
    # and the HAVING tail (~1.5% of orders) can exceed broadcast size too —
    # AQE converts this keyed join to broadcast exactly when the measured
    # tail is small enough, which is the right call at every scale.
    tail = orders.join(big, orders.o_orderkey == big.l_orderkey)
    return (
        cust.join(tail, tail.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("sum_q").cast("double").alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


T11_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
    SELECT l_orderkey FROM lineitem
    GROUP BY l_orderkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


def t12_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who alone held up multi-supplier orders —
    an EXISTS (another supplier shipped in the same order) combined with a
    NOT EXISTS (no OTHER supplier shipped late in it).  The fixture has no
    l_receiptdate/l_commitdate, so "late" is l_shipdate > o_orderdate + 60
    days; the nation filter keeps Q21's shape (a 4-nation slice standing in
    for the single-nation filter, sized so sf0.001 still yields rows).

    Spark-first decorrelation: both correlated predicates collapse into
    per-order supplier stats derived from a (order, supplier) rollup —
    n_suppliers (EXISTS ⇔ ≥2) and n_late_suppliers (NOT EXISTS other late
    ⇔ exactly 1, given the probe row itself is late).  Deliberately TWO
    stacked aggregations instead of one `countDistinct` pair: two distinct
    aggregates in one agg plan an Expand that doubles the spine before
    partial aggregation (measured 17% slower at sf0.1), while the rollup
    form partial-aggregates map-side and its second stage runs on the
    already-tiny (order, supplier) frame.  The orders⨝lineitem spine is
    the only data-sized shuffle; later joins reuse its order-key
    partitioning.  numwait counts late LINES (the Q21 COUNT(*)
    semantics), not distinct orders.

    Determinism: pure integer counts and timestamp compares; final order by
    (numwait DESC, s_name) — s_name is unique per supplier.
    """
    li = _fact(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    lo = li.select("l_orderkey", "l_suppkey", "l_shipdate").join(
        orders, li.l_orderkey == orders.o_orderkey
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    per_supp = lo.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum(late.cast("int")).alias("n_late_lines")
    )
    # Per-order supplier stats as a WINDOW over the same rollup (r15):
    # the former second aggregation + self-join re-executed the whole
    # orders⨝lineitem spine and its (order, supplier) aggregation on the
    # join's other side — one SortMergeJoin with the identical subtree
    # under both inputs (2 lineitem scans, 2 spine joins, 2 rollup
    # exchanges).  A count/sum over Window.partitionBy(l_orderkey)
    # computes the identical n_supp/n_late_supp on the single rollup:
    # one scan, one spine join, and the window's order-key exchange
    # replaces the stats branch's aggregate + join exchanges.
    w = Window.partitionBy("l_orderkey")
    stats = per_supp.select(
        "l_orderkey",
        "l_suppkey",
        "n_late_lines",
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.sum((F.col("n_late_lines") > 0).cast("int")).over(w).alias(
            "n_late_supp"
        ),
    )
    blamed = (
        stats.where(
            (F.col("n_late_lines") > 0)
            & (F.col("n_supp") >= 2)
            & (F.col("n_late_supp") == 1)
        )
        .groupBy("l_suppkey")
        .agg(F.sum("n_late_lines").cast("long").alias("numwait"))
    )
    supp = _t(spark, sf_dir, "supplier").where(
        F.col("s_nationkey").isin(5, 6, 7, 8)
    )
    return (
        supp.join(F.broadcast(blamed), supp.s_suppkey == blamed.l_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


T12_SQL = """
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE s_nationkey IN (5, 6, 7, 8)
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


def t13_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: the cheapest supplier per qualifying part — a
    correlated MIN subquery (offer price = the minimum over all offers for
    that part within the region).  The fixture has no partsupp, so lineitem
    rows stand in as the part⨝supplier offer relation with l_extendedprice
    as the offer price; parts filter to PROMO/size≤10, suppliers to region
    AMERICA (nation keys ≡ 1 mod 5).

    Spark-first decorrelation: the correlated MIN is a ``min() OVER
    (PARTITION BY l_partkey)`` window on the region-filtered offers —
    rows where the offer price equals their partition's min survive, so
    ties keep ALL minimal suppliers, exactly like Q2.  The r14 shape
    (separate per-partkey MIN aggregate joined back on partkey+price)
    planned the identical offers subtree under BOTH join inputs — two
    lineitem scans, 13 exchanges, 1 SortMergeJoin; the window computes
    the same min on the single offers pass with one partkey exchange
    (the t12 rewrite, applied here in r15).  Supplier, nation, region
    and the filtered part list all ride broadcasts; the window's
    partkey exchange happens AFTER the offers are pruned by both
    broadcast filters.

    Determinism: the price equality compares parquet-stored doubles with
    no arithmetic on either engine — bit-exact; final order by
    (s_acctbal DESC, p_partkey, s_suppkey) fully tiebroken.
    """
    region_nations = (
        _t(spark, sf_dir, "nation")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(region_nations),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_type") == "PROMO") & (F.col("p_size") <= 10)
    )
    li = _fact(spark, sf_dir, "lineitem")
    offers = (
        li.select("l_partkey", "l_suppkey", "l_extendedprice")
        .join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(supp), li.l_suppkey == F.col("s_suppkey"))
    )
    min_w = Window.partitionBy("l_partkey")
    return (
        offers.withColumn(
            "__min_price", F.min("l_extendedprice").over(min_w)
        )
        .where(F.col("l_extendedprice") == F.col("__min_price"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey",
            F.col("l_extendedprice").alias("offer_price"),
        )
        .orderBy(F.col("s_acctbal").desc(), "p_partkey", "s_name")
        .limit(100)
    )


T13_SQL = """
SELECT s_acctbal, s_name, n_name, p_partkey, l_extendedprice AS offer_price
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE p_type = 'PROMO' AND p_size <= 10 AND r_name = 'AMERICA'
  AND l_extendedprice = (
    SELECT MIN(l2.l_extendedprice)
    FROM lineitem l2
    JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
    JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
    JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
    WHERE l2.l_partkey = p_partkey AND r2.r_name = 'AMERICA')
ORDER BY s_acctbal DESC, p_partkey, s_name
LIMIT 100
"""


def t14_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the distribution of customers by order count,
    INCLUDING customers whose count is zero — the classic left-outer-join
    COUNT trap.  The order-side predicate must live in the JOIN condition
    (the fixture has no o_comment, so the Q13 comment filter becomes
    ``o_orderpriority <> '1-URGENT'``): moving it to a WHERE would silently
    delete the NULL rows the outer join exists to preserve, and
    ``COUNT(o_orderkey)`` (not ``COUNT(*)``) must score those customers 0,
    not 1.

    Spark-first: the inner aggregate groups the FACT side first
    (orders → per-custkey counts, one data-sized keyed shuffle), then
    customer LEFT-joins the tiny count frame and never shuffles — the
    opposite join order (outer-join first, then group by custkey) would
    shuffle every order row twice.  ``coalesce(cnt, 0)`` reinstates the
    zero bucket; the outer distribution agg runs on ≤|customer| rows.
    AQE broadcasts the count frame when it is small enough.

    Determinism: pure integer counts — no floating point anywhere.
    """
    orders = _fact(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = orders.groupBy(F.col("o_custkey").alias("__ck")).agg(
        F.count("*").alias("__cnt")
    )
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.join(per_cust, cust.c_custkey == F.col("__ck"), "left")
        .select(F.coalesce(F.col("__cnt"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


T14_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def t15_disjunctive_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR-of-ANDs predicate spanning
    lineitem⨝part (three brand/size/quantity arms).  The point of the
    shape is pushdown: Catalyst's ``CNF + PushPredicateThroughJoin``
    extracts the per-table residue of the disjunction — the OR of each
    arm's part-only conjuncts prunes the part scan and the OR of the
    quantity ranges prunes the lineitem scan (both visible as
    PushedFilters, pinned in test_bench_plan_corpus) — while the full
    cross-table disjunction is re-checked after the join.  part rides a
    broadcast; the single agg reduces to one row.

    Determinism: decimal(28,8) revenue accumulation (the corpus-wide
    convention — double sums are order-sensitive), integer count.
    """
    part = _t(spark, sf_dir, "part")
    li = _fact(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity")
    arm = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & (F.col("p_size").between(1, smax))
        & qty.between(qlo, qhi)
    )
    cond = (
        arm("Brand#12", 5, 1, 11)
        | arm("Brand#23", 10, 10, 20)
        | arm("Brand#34", 15, 20, 30)
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .where(cond)
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
                28,
                8,
            ),
            F.count("*").alias("n_items"),
        )
    )


T15_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""


def t16_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-key value with a HAVING threshold derived from
    a GLOBAL aggregate of the same relation ("parts worth more than 0.1%
    of total traded value"; the fixture has no partsupp, so lineitem
    revenue stands in for stocked value).

    Spark-first: one per-partkey decimal aggregation (the only data-sized
    shuffle), materialized once (``localCheckpoint`` — part-cardinality,
    the t17 dimension-sized-checkpoint pattern); the global total is
    derived FROM the per-part sums (decimal addition is exact, so the
    re-aggregated total is bit-identical to a direct fact aggregate) and
    attached by broadcast cross-join (the t10 scalar pattern).  The r14
    shape aggregated the fact separately for the total — a second full
    lineitem scan.  The threshold compare stays in EXACT decimal:
    per-part sums are cast to decimal(28,8) then ×1000 (precision 33 ≤
    38, no rounding) against the cast total — a double comparison here is
    the canonical nondeterminism trap on near-threshold keys.

    Determinism: decimal arithmetic end-to-end; final order (value DESC,
    l_partkey) fully tiebroken."""
    li = _fact(spark, sf_dir, "lineitem")
    dec = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,8)"
    )
    per_part = li.groupBy("l_partkey").agg(
        F.sum(dec).cast("decimal(28,8)").alias("__v")
    ).localCheckpoint()
    total = per_part.agg(F.sum("__v").cast("decimal(28,8)").alias("__t"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("__v") * 1000 > F.col("__t"))
        .select("l_partkey", F.col("__v").cast("double").alias("value"))
        .orderBy(F.col("value").desc(), "l_partkey")
    )


T16_SQL = """
SELECT l_partkey,
       CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))) AS DECIMAL(28,8)) AS DOUBLE) AS value
FROM lineitem
GROUP BY l_partkey
HAVING CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))) AS DECIMAL(28,8)) * 1000
     > (SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))) AS DECIMAL(28,8)) FROM lineitem)
ORDER BY value DESC, l_partkey
"""


def t17_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with MAXIMUM revenue in a quarter
    — an argmax JOIN-BACK (the view + max + equality form), ties kept.

    Spark-first: one per-suppkey decimal aggregation over the
    quarter-pruned fact (predicate reaches the scan), the scalar max is a
    1-row broadcast attach, the equality filter keeps all maximal rows,
    and the supplier dim broadcasts into the tiny tail.  The decimal
    equality is exact on both engines — the reason the revenue stays
    decimal until the final double render.

    The revenue frame is materialized (``localCheckpoint``) before its
    two consumers (the scalar-max subtree and the equality filter) read
    it: lazily it is supplier-cardinality — tiny — but its LINEAGE is
    the full fact scan + aggregation, which both consumers would
    otherwise re-execute (two lineitem scans, r14 plan).  A
    dimension-sized checkpoint buys back a fact pass — the inverse of
    the corpus-sized index checkpoint r15 measured and rejected in
    operators/search.py."""
    li = _fact(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    dec = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,8)"
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(dec).cast("decimal(28,8)").alias("__r")
    ).localCheckpoint()
    mx = rev.agg(F.max("__r").alias("__mx"))
    supp = _t(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("__r") == F.col("__mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select(
            "s_suppkey", "s_name", F.col("__r").cast("double").alias("total_revenue")
        )
        .orderBy("s_suppkey")
    )


T17_SQL = """
WITH rev AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))) AS DECIMAL(28,8)) AS r
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, CAST(r AS DOUBLE) AS total_revenue
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE r = (SELECT MAX(r) FROM rev)
ORDER BY s_suppkey
"""


def t18_supplier_cnt_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: COUNT(DISTINCT supplier) per part attribute with a
    NOT-IN supplier exclusion.  The NOT IN decorrelates to a broadcast
    ANTI join on the (tiny) excluded-supplier set — the semantics trap is
    that NOT IN with NULLs differs from anti-join, but suppkeys are
    non-null by schema, making the rewrite exact.

    Spark-first: exclusion anti-join runs FIRST (broadcast, prunes the
    fact), part attributes broadcast in, then one distinct-aggregate
    (Spark's two-stage rewrite of a single COUNT DISTINCT partial-
    aggregates map-side; only multi-distinct plans pay the Expand)."""
    li = _fact(spark, sf_dir, "lineitem")
    excluded = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_nationkey") == 3)
        .select(F.col("s_suppkey").alias("__ex"))
    )
    part = _t(spark, sf_dir, "part").where(F.col("p_type") != "PROMO")
    return (
        li.join(
            F.broadcast(excluded),
            li.l_suppkey == F.col("__ex"),
            "left_anti",
        )
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_type", "p_size")
    )


T18_SQL = """
SELECT p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_type <> 'PROMO'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_nationkey = 3)
GROUP BY p_type, p_size
ORDER BY supplier_cnt DESC, p_type, p_size
"""


def t19_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by year
    — the paired-predicate multi-dim join ((supp,cust) nation in
    {(1,2),(2,1)}) with a date-part GROUP BY.

    Spark-first: both nation-filtered dims broadcast (supplier AND
    customer pre-pruned to the two nations before touching facts), the
    pair disjunction evaluates on the joined row, and the only
    data-sized shuffles are the orders⨝lineitem spine and the final
    3-key aggregation.  ``year()`` is a Catalyst date-part, identical to
    DuckDB's ``year()`` on the same timestamps."""
    nations = F.broadcast(
        _t(spark, sf_dir, "nation")
        .where(F.col("n_nationkey").isin(1, 2))
        .select("n_nationkey", "n_name")
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(nations, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(nations, F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = _fact(spark, sf_dir, "lineitem")
    orders = _fact(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
                28,
                8,
            )
        )
        .orderBy("supp_nation", "cust_nation", "o_year")
    )


T19_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(o_orderdate) AS o_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
WHERE ((s_nationkey = 1 AND c_nationkey = 2) OR (s_nationkey = 2 AND c_nationkey = 1))
GROUP BY supp_nation, cust_nation, o_year
ORDER BY supp_nation, cust_nation, o_year
"""


def t20_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): the deepest join spine in
    the corpus — part→lineitem→orders→customer→nation→region on the
    demand side plus a second nation lookup on the supplier side (the
    official query's 8-table plan; the join-ordering/AQE stress test),
    finishing in a conditional share-of-sum by order year.

    Spark-first plan: every dimension chain collapses to a broadcast
    BEFORE touching facts — region prunes nation, nation prunes customer,
    p_type prunes part — so the only data-sized shuffles are the
    orders⨝lineitem spine and the (2-group) year aggregate; the share is
    one conditional aggregate over the same pass, not a second scan.
    Determinism: both sums accumulate in exact decimals, surface as
    ROUND(double, 4), and only then divide (two bit-identical doubles →
    bit-identical quotient; dividing unrounded sums would amplify the
    decimal→double last-ulp gap the t01 docstring describes, and decimal
    division scale rules differ per engine)."""
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    nation = _t(spark, sf_dir, "nation")
    cust_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey")
    cust = (
        _t(spark, sf_dir, "customer")
        .join(
            F.broadcast(cust_nations),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    part = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    orders = (
        _fact(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") <= F.lit("1996-12-31").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    li = _fact(spark, sf_dir, "lineitem")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
    )
    num = F.round(
        F.sum(
            F.when(F.col("supp_nation") == "NATION_1", volume)
            .otherwise(F.lit(0.0))
            .cast("decimal(28,8)")
        ).cast("double"),
        4,
    )
    den = F.round(F.sum(volume.cast("decimal(28,8)")).cast("double"), 4)
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg((num / den).alias("mkt_share"))
        .orderBy("o_year")
    )


T20_SQL = """
SELECT year(o_orderdate) AS o_year,
       ROUND(CAST(SUM(CAST(CASE WHEN n1.n_name = 'NATION_1'
                                THEN l_extendedprice * (1 - l_discount)
                                ELSE 0.0 END AS DECIMAL(28,8))) AS DOUBLE), 4)
       / ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(28,8))) AS DOUBLE), 4) AS mkt_share
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
JOIN region ON r_regionkey = n2.n_regionkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
WHERE r_name = 'AMERICA'
  AND p_type = 'ECONOMY'
  AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
GROUP BY o_year
ORDER BY o_year
"""


def t21_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): name-filtered part fanned
    into lineitem, supplier→nation on the other flank, orders for the
    year — profit broken down by nation and year.  The fixtures carry no
    partsupp table, so ``ps_supplycost`` is substituted by
    ``0.6 * p_retailprice`` (documented fixture delta, same join/agg
    shape: the expression aggregate still mixes columns of three inputs,
    which is what Q9 stresses).

    Spark-first: part (name-pruned) and supplier⨝nation broadcast into
    the lineitem probe; orders joins on the spine; one 2-key aggregate.
    Profit accumulates in exact decimals, rounded at the boundary like
    t01's sum_disc_price."""
    part = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_name").like("%bolt%"))
        .select("p_partkey", "p_retailprice")
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    orders = _fact(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _fact(spark, sf_dir, "lineitem")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        0.6
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(profit.cast("decimal(28,8)")).cast("double"), 4
            ).alias("sum_profit")
        )
        .orderBy("nation", F.col("o_year").desc())
    )


T21_SQL = """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           - 0.6 * p_retailprice * l_quantity
                           AS DECIMAL(28,8))) AS DOUBLE), 4) AS sum_profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
JOIN orders ON o_orderkey = l_orderkey
WHERE p_name LIKE '%bolt%'
GROUP BY n_name, year(o_orderdate)
ORDER BY n_name, o_year DESC
"""


def t22_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecasting revenue change): the canonical
    selective single-table aggregate — year + discount-band + quantity
    filters, one global SUM(extendedprice * discount).  Completes the
    corpus's coverage of all 22 canonical TPC-H plans.

    Spark-first: every predicate is a parquet PushedFilter on the one
    lineitem scan; the aggregate is partial+final around a
    single-partition exchange.  Revenue accumulates in exact decimals
    and rounds at the boundary (t01 convention)."""
    li = _fact(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(
            F.sum(
                (F.col("l_extendedprice") * F.col("l_discount")).cast(
                    "decimal(28,8)"
                )
            ).cast("double"),
            4,
        ).alias("revenue")
    )


T22_SQL = """
SELECT ROUND(CAST(SUM(CAST(l_extendedprice * l_discount
                           AS DECIMAL(28,8))) AS DOUBLE), 4) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""
