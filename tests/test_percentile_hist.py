"""Distributed-histogram exact percentile
(operators/stats.py:percentile_cont_by_group): BIT-IDENTICAL to the
native ``F.percentile`` aggregate — same values, same double
interpolation — on continuous, discrete, tied, and NULL-bearing data,
so either form satisfies a percentile_cont oracle; the plan difference
(distinct-value shuffle vs per-group value→count buffers) is the
operator's whole point (docstring; measured 1.4× at sf1)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from jurimetria_etl_spark.operators.stats import percentile_cont_by_group

PS = [0.0, 0.25, 0.5, 0.9, 1.0]


def _check(spark, rows, schema="g string, v double"):
    df = spark.createDataFrame(rows, schema)
    got = {
        (r["g"], r["p"]): r["val"]
        for r in percentile_cont_by_group(df, "g", "v", PS).collect()
    }
    want_rows = df.where(F.col("v").isNotNull()).groupBy("g").agg(
        F.percentile("v", F.lit(PS)).alias("qs")
    ).collect()
    want = {
        (r["g"], p): r["qs"][i]
        for r in want_rows
        for i, p in enumerate(PS)
    }
    assert set(got) == set(want) and got
    for k in want:
        assert got[k] == want[k], (k, got[k], want[k])  # bit-identical


def test_continuous_values_match_native(spark):
    rng = np.random.default_rng(5)
    rows = [
        (g, float(v))
        for g in ("a", "b", "c")
        for v in rng.normal(100, 37, 501)
    ]
    _check(spark, rows)


def test_heavy_ties_and_single_row_groups(spark):
    rng = np.random.default_rng(6)
    rows = [("t", float(rng.integers(0, 5))) for _ in range(400)]
    rows += [("one", 42.0)]  # single-row group: every p -> 42.0
    _check(spark, rows)


def test_nulls_excluded_all_null_group_absent(spark):
    rows = [("a", 1.0), ("a", None), ("a", 3.0), ("z", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = percentile_cont_by_group(df, "g", "v", [0.5]).collect()
    assert len(out) == 1 and out[0]["g"] == "a" and out[0]["val"] == 2.0


def test_matches_q32_on_fixture(spark):
    """The lineitem fixture, q32's exact shape: both value columns,
    every percentile, bit-identical to the registered native form."""
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    for col in ("l_quantity", "l_extendedprice"):
        got = {
            (r["l_returnflag"], r["p"]): r["val"]
            for r in percentile_cont_by_group(
                li, "l_returnflag", col, [0.25, 0.5, 0.9]
            ).collect()
        }
        want_rows = li.groupBy("l_returnflag").agg(
            F.percentile(col, F.lit([0.25, 0.5, 0.9])).alias("qs")
        ).collect()
        for r in want_rows:
            for i, p in enumerate([0.25, 0.5, 0.9]):
                assert got[(r["l_returnflag"], p)] == r["qs"][i]


def test_high_cardinality_groups_no_group_sized_broadcast(spark):
    """groups ≈ rows (r11 verdict item 2): the former |groups|×|ps|
    ``targets`` broadcast would ship a frame as big as the input to
    every executor on an ungated hint; the rewrite's only broadcast is
    the |ps|-row percentile literal frame.  Correctness at one row per
    group (every percentile = the row's value) plus a plan pin: exactly
    one BroadcastExchange (the literal), zero group-keyed broadcast
    hash joins."""
    rng = np.random.default_rng(7)
    rows = [(f"g{i:05d}", float(v)) for i, v in enumerate(rng.normal(0, 9, 3000))]
    df = spark.createDataFrame(rows, "g string, v double")
    res = percentile_cont_by_group(df, "g", "v", [0.25, 0.75])
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastExchange") == 1
    assert plan.count("BroadcastHashJoin") == 0
    got = {(r["g"], r["p"]): r["val"] for r in res.collect()}
    want = dict(rows)
    assert len(got) == 2 * len(rows)
    for (g, _p), v in got.items():
        assert v == want[g]


def test_multi_column_group_matches_per_group_native(spark):
    """List-valued group_col (the melt path q32b rides): composite
    (g1, g2) grouping is bit-identical to native F.percentile over the
    same composite."""
    rng = np.random.default_rng(8)
    rows = [
        (g1, g2, float(v))
        for g1 in ("a", "b")
        for g2 in ("x", "y", "z")
        for v in rng.normal(50, 11, 101)
    ]
    df = spark.createDataFrame(rows, "g1 string, g2 string, v double")
    got = {
        (r["g1"], r["g2"], r["p"]): r["val"]
        for r in percentile_cont_by_group(df, ["g1", "g2"], "v", PS).collect()
    }
    want_rows = df.groupBy("g1", "g2").agg(
        F.percentile("v", F.lit(PS)).alias("qs")
    ).collect()
    for r in want_rows:
        for i, p in enumerate(PS):
            assert got[(r["g1"], r["g2"], p)] == r["qs"][i]


from hypothesis import HealthCheck, example, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_VALS = st.lists(
    st.one_of(
        st.floats(
            min_value=-1e6,
            max_value=1e6,
            allow_nan=False,
            allow_infinity=False,
        ),
        st.integers(min_value=0, max_value=5).map(float),  # force ties
        st.none(),
    ),
    min_size=1,
    max_size=40,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_VALS, _VALS, st.lists(
    st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
    min_size=1, max_size=4, unique=True,
))
# both ranks of p=1e-5 land on -61: Spark returns the value itself
@example(va=[None], vb=[0.0] * 9 + [-61.0, -61.0], ps=[1e-05])
def test_property_bit_identical_to_native(spark, va, vb, ps):
    """Hypothesis: for ANY mix of continuous values, planted ties, and
    NULLs across two groups, and ANY percentile list, the histogram form
    is bit-identical to F.percentile (the operator's core claim)."""
    rows = [("a", v) for v in va] + [("b", v) for v in vb]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        (r["g"], r["p"]): r["val"]
        for r in percentile_cont_by_group(df, "g", "v", ps).collect()
    }
    want_rows = (
        df.where(F.col("v").isNotNull())
        .groupBy("g")
        .agg(F.percentile("v", F.lit(ps)).alias("qs"))
        .collect()
    )
    want = {
        (r["g"], p): r["qs"][i] for r in want_rows for i, p in enumerate(ps)
    }
    assert got == want


# ───────────── two-pass selection (percentile_cont_selection, r16) ─────────


def _check_selection(spark, rows, accuracy, ps=PS):
    from jurimetria_etl_spark.operators.stats import (
        percentile_cont_selection,
    )

    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        (r["g"], r["p"]): r["val"]
        for r in percentile_cont_selection(
            df, "g", {"v": ps}, accuracy=accuracy
        ).collect()
    }
    want_rows = (
        df.groupBy("g")
        .agg(F.percentile("v", F.lit(ps)).alias("qs"))
        .collect()
    )
    want = {
        (r["g"], p): r["qs"][i] for r in want_rows for i, p in enumerate(ps)
    }
    assert set(got) == set(want) and got
    for k in want:
        assert got[k] == want[k], (k, got[k], want[k])  # bit-identical


def test_selection_small_groups_full_bracket(spark):
    # n <= 4*accuracy: the bracket is skipped, the whole group scans —
    # must still be bit-identical (incl. single-row group, every p)
    rng = np.random.default_rng(7)
    rows = [
        (g, float(v))
        for g in ("a", "b")
        for v in rng.normal(0, 11, 301)
    ]
    rows += [("one", 42.0)]
    _check_selection(spark, rows, accuracy=10_000)


def test_selection_bracketed_continuous_and_tied(spark):
    # accuracy=50 makes the GK bracket ACTIVE at n>200 — continuous
    # values, heavy ties (tie runs crossing the bracket edges), and the
    # p=0/p=1 clamps (no below/above bucket) all land bit-identical
    rng = np.random.default_rng(8)
    rows = [("c", float(v)) for v in rng.normal(100, 37, 2000)]
    rows += [("t", float(rng.integers(0, 4))) for _ in range(1500)]
    rows += [("eq", 7.0) for _ in range(900)]  # all-equal group
    _check_selection(spark, rows, accuracy=50)


def test_selection_nulls_and_all_null_group(spark):
    from jurimetria_etl_spark.operators.stats import (
        percentile_cont_selection,
    )

    rows = [("a", 1.0), ("a", None), ("a", 3.0), ("z", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {
        (r["g"], r["p"]): r["val"]
        for r in percentile_cont_selection(df, "g", {"v": [0.5]}).collect()
    }
    # NULLs excluded; the all-NULL group yields a row with NULL val —
    # exactly the native groupBy+percentile shape q32's pivot needs
    assert out == {("a", 0.5): 2.0, ("z", 0.5): None}


def test_selection_multi_metric_matches_native(spark):
    from jurimetria_etl_spark.operators.stats import (
        percentile_cont_selection,
    )

    rng = np.random.default_rng(9)
    rows = [
        (g, float(rng.normal(10, 3)), float(rng.integers(0, 50)))
        for g in ("a", "b", "c")
        for _ in range(700)
    ]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = {
        (r["g"], r["metric"], r["p"]): r["val"]
        for r in percentile_cont_selection(
            df, "g", {"x": [0.25, 0.9], "y": [0.5]}, accuracy=100
        ).collect()
    }
    want_rows = df.groupBy("g").agg(
        F.percentile("x", F.lit([0.25, 0.9])).alias("xs"),
        F.percentile("y", F.lit([0.5])).alias("ys"),
    ).collect()
    want = {}
    for r in want_rows:
        want[(r["g"], "x", 0.25)] = r["xs"][0]
        want[(r["g"], "x", 0.9)] = r["xs"][1]
        want[(r["g"], "y", 0.5)] = r["ys"][0]
    assert got == want


def test_selection_q32_strategy_switch_is_output_invisible(
    spark, monkeypatch
):
    # the registered q32 picks its strategy from input bytes (native
    # below the crossover, two-pass selection above) — force BOTH
    # paths on the gate fixture and pin them identical to the direct
    # native aggregate, so the switch can never change the declared
    # output
    from jurimetria_etl_spark.plans import corpus as C

    sf = "/root/testdata/sf0.001"
    li = C._fact(spark, sf, "lineitem")
    want = {
        tuple(r)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.percentile("l_quantity", 0.25).alias("q25"),
            F.percentile("l_quantity", 0.5).alias("q50"),
            F.percentile("l_quantity", 0.9).alias("q90"),
            F.percentile("l_extendedprice", 0.5).alias("median_price"),
        )
        .collect()
    }
    assert li.inputFiles()  # the size probe has real files to read
    native = {tuple(r) for r in C.q32_percentile(spark, sf).collect()}
    monkeypatch.setattr(C, "_Q32_SELECTION_MIN_BYTES", 0)
    selection = {tuple(r) for r in C.q32_percentile(spark, sf).collect()}
    assert native == want and selection == want and want
