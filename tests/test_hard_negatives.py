"""Hard-negative mining (operators/similarity.py:mine_hard_negatives):
contract properties on planted geometry — every returned negative has a
different label, the planted cross-label near-duplicate ranks first,
ranks are dense per anchor, similarities are exact cosines, and
NULL-label rows produce nothing."""

from __future__ import annotations

import math

import numpy as np
import pytest

from jurimetria_etl_spark.operators.similarity import mine_hard_negatives

DIM = 8
RNG = np.random.default_rng(7)


def _emb(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v], lbl) for i, v, lbl in rows],
        "vec_id bigint, embedding array<float>, label string",
    )


@pytest.fixture(scope="module")
def mined(spark):
    a_dir = RNG.normal(size=DIM)
    b_dir = RNG.normal(size=DIM)
    rows = []
    # two label clusters around opposite directions
    for i in range(12):
        rows.append((i, a_dir + RNG.normal(scale=0.05, size=DIM), "A"))
    for i in range(12, 24):
        rows.append((i, -a_dir + RNG.normal(scale=0.05, size=DIM), "B"))
    # the planted hard negative: label B but almost exactly an A vector
    rows.append((99, a_dir + 1e-4, "B"))
    # an unlabeled straggler: must never appear on either side
    rows.append((100, b_dir, None))
    df = _emb(spark, rows)
    out = mine_hard_negatives(
        df, "label", k=20, m=3, dim=DIM, n_planes=2, n_tables=8
    ).collect()
    return rows, out


def test_negatives_always_cross_label(mined):
    rows, out = mined
    lbl = {i: l for i, v, l in rows}
    assert out  # non-vacuous
    for r in out:
        assert r["anchor_label"] == lbl[r["anchor_id"]]
        assert r["negative_label"] == lbl[r["negative_id"]]
        assert r["anchor_label"] != r["negative_label"]
        assert r["anchor_id"] != r["negative_id"]


def test_planted_near_dup_is_rank_one_negative(mined):
    rows, out = mined
    # doc 99 (label B, sitting inside cluster A) must be the #1 hard
    # negative for the A anchors that retrieved it
    hits = [r for r in out if r["negative_id"] == 99]
    assert hits and all(r["anchor_label"] == "A" for r in hits)
    assert any(r["neg_rank"] == 1 for r in hits)
    # and symmetrically, 99's own negatives are A vectors at sim ~1
    own = sorted(
        (r for r in out if r["anchor_id"] == 99),
        key=lambda r: r["neg_rank"],
    )
    assert own and own[0]["negative_label"] == "A"
    assert own[0]["cos_sim"] > 0.99


def test_ranks_dense_and_sims_exact(mined):
    rows, out = mined
    vec = {i: np.array(v, dtype=float) for i, v, l in rows}
    by_anchor: dict[int, list] = {}
    for r in out:
        by_anchor.setdefault(r["anchor_id"], []).append(r)
    for anchor, rs in by_anchor.items():
        ranks = sorted(r["neg_rank"] for r in rs)
        assert ranks == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 3  # m
        for r in rs:
            a, b = vec[r["anchor_id"]], vec[r["negative_id"]]
            want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
            assert math.isclose(r["cos_sim"], round(want, 6), abs_tol=2e-6)


def test_null_label_rows_never_appear(mined):
    _, out = mined
    ids = {r["anchor_id"] for r in out} | {r["negative_id"] for r in out}
    assert 100 not in ids


def test_mined_matches_exact_baseline(spark):
    """Engine-vs-engine oracle (r9 verdict task 3): mine_hard_negatives
    (LSH-retrieved, approximate) vs the in-repo exact baseline —
    cosine_pairs_exact symmetrized + label join + the same rank filter.
    Labels are drawn INDEPENDENTLY of the cluster geometry, so every
    anchor's hard negatives sit inside its near neighborhood (where
    knn_join's recall is pinned) — the honest regime for a recall
    floor.  Pins: pair recall ≥ 0.9, rank-1 agreement ≥ 0.9, and every
    mined (anchor, negative) pair carries the EXACT baseline cosine."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from jurimetria_etl_spark.operators.similarity import (
        cosine_pairs_exact,
    )

    dim, n, m = 32, 400, 3
    rng = np.random.default_rng(42)
    cents = rng.normal(0, 1.0, (8, dim))
    geom = rng.integers(0, 8, n)
    vecs = cents[geom] + rng.normal(0, 0.3, (n, dim))
    labels = rng.integers(0, 4, n)  # independent of geometry
    emb = spark.createDataFrame(
        [
            (int(i), [float(x) for x in v], int(l))
            for i, (v, l) in enumerate(zip(vecs, labels))
        ],
        "vec_id bigint, embedding array<double>, label int",
    ).persist()
    emb.count()
    try:
        got = mine_hard_negatives(
            emb, "label", k=20, m=m, dim=dim, n_planes=3, n_tables=8
        ).collect()
        pairs = cosine_pairs_exact(
            emb.select("vec_id", "embedding"), threshold=-1.0
        )
        sym = pairs.unionByName(
            pairs.select(
                F.col("right_id").alias("left_id"),
                F.col("left_id").alias("right_id"),
                "cos_sim",
            )
        )
        lbl = emb.select("vec_id", "label")
        cross = (
            sym.join(
                lbl.select(
                    F.col("vec_id").alias("left_id"),
                    F.col("label").alias("al"),
                ),
                "left_id",
            )
            .join(
                lbl.select(
                    F.col("vec_id").alias("right_id"),
                    F.col("label").alias("nl"),
                ),
                "right_id",
            )
            .where(F.col("al") != F.col("nl"))
        )
        w = Window.partitionBy("left_id").orderBy(
            F.col("cos_sim").desc(), F.col("right_id")
        )
        truth = (
            cross.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= m)
            .collect()
        )
    finally:
        emb.unpersist()
    truth_pairs = {(r["left_id"], r["right_id"]): r for r in truth}
    got_pairs = {(r["anchor_id"], r["negative_id"]): r for r in got}
    assert truth_pairs  # non-vacuous
    recall = len(got_pairs.keys() & truth_pairs.keys()) / len(truth_pairs)
    assert recall >= 0.9, f"hard-negative pair recall fell to {recall:.3f}"
    t1 = {r["left_id"]: r["right_id"] for r in truth if r["rank"] == 1}
    g1 = {r["anchor_id"]: r["negative_id"] for r in got if r["neg_rank"] == 1}
    agree = sum(g1[a] == t1.get(a) for a in g1) / len(g1)
    assert agree >= 0.9, f"rank-1 agreement fell to {agree:.3f}"
    # every mined pair's similarity is the exact engine's value (the
    # re-score stage is exact even when retrieval is approximate)
    sym_sims = {
        (r["left_id"], r["right_id"]): r["cos_sim"]
        for r in truth  # truth rows carry exact sims for shared pairs
    }
    for key, r in got_pairs.items():
        if key in sym_sims:
            assert r["cos_sim"] == sym_sims[key]


def test_yield_diagnostic_surfaces_dominant_label(spark):
    """hard_negative_yield (r9 verdict task 5): a label that owns a
    tight, isolated cluster yields ZERO negatives at small k — the
    diagnostic must surface those anchors as n_negatives=0 rows instead
    of letting them vanish from the mined frame."""
    from jurimetria_etl_spark.operators.similarity import (
        hard_negative_yield,
    )

    a_dir = RNG.normal(size=DIM)
    b_dir = -a_dir
    rows = []
    # label A: 20-strong tight cluster (dominates every A neighborhood
    # at k=6); label B: a far-away pair; one NULL-label straggler
    for i in range(20):
        rows.append((i, a_dir + RNG.normal(scale=0.01, size=DIM), "A"))
    rows.append((100, b_dir, "B"))
    rows.append((101, b_dir + RNG.normal(scale=0.01, size=DIM), "B"))
    rows.append((200, RNG.normal(size=DIM), None))
    emb = _emb(spark, rows)
    mined = mine_hard_negatives(
        emb, "label", k=6, m=3, dim=DIM, n_planes=2, n_tables=8
    )
    y = {
        r["anchor_id"]: (r["anchor_label"], r["n_negatives"])
        for r in hard_negative_yield(emb, mined, "label").collect()
    }
    assert len(y) == 22  # every labeled anchor, never the NULL row
    assert 200 not in y
    zero_a = [i for i in range(20) if y[i] == ("A", 0)]
    # the dominant label's anchors under-mine and MUST be visible
    assert len(zero_a) >= 15
    # B anchors see each other (same label) but retrieve A vectors too
    assert y[100][0] == "B" and y[101][0] == "B"


def test_mining_composite_returns_yield_summary(spark):
    """mine_hard_negatives_with_yield (r11 verdict task 7): the
    composite hands back the per-label audit WITH the mined frame, so
    zero-yield anchors are visible without the caller knowing the
    standalone diagnostic exists.  Same dominant-label geometry as
    above: label A's summary row must show the zero-yield block, and
    the mined frame must equal the standalone operator's output."""
    from jurimetria_etl_spark.operators.similarity import (
        mine_hard_negatives_with_yield,
    )

    a_dir = RNG.normal(size=DIM)
    rows = [
        (i, a_dir + RNG.normal(scale=0.01, size=DIM), "A")
        for i in range(20)
    ]
    rows.append((100, -a_dir, "B"))
    rows.append((101, -a_dir + RNG.normal(scale=0.01, size=DIM), "B"))
    emb = _emb(spark, rows)
    kw = dict(k=6, m=3, dim=DIM, n_planes=2, n_tables=8)
    mined, summary = mine_hard_negatives_with_yield(emb, "label", **kw)
    srows = {r["anchor_label"]: r for r in summary.collect()}
    assert set(srows) == {"A", "B"}
    assert srows["A"]["n_anchors"] == 20
    assert srows["A"]["n_zero_yield"] >= 15  # the dominant label
    assert srows["B"]["n_anchors"] == 2
    # avg_negatives is consistent with the mined frame itself
    mined_rows = mined.collect()
    n_a = sum(1 for r in mined_rows if r["anchor_label"] == "A")
    assert srows["A"]["avg_negatives"] == round(n_a / 20, 6)
    # and the mined frame is the standalone operator's output
    want = sorted(
        map(tuple, mine_hard_negatives(emb, "label", **kw).collect())
    )
    assert sorted(map(tuple, mined_rows)) == want
