"""SemDeDup (operators/semdedup.py): numpy-model parity for the
k-means-cell path (the DuckDB oracle in test_deregistered_queries.py
covers the label-cluster path), edge thresholds, the cluster-size
guard, and the plan contract (exactly one Arrow python node)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from jurimetria_etl_spark.operators.semdedup import (
    cluster_means,
    semdedup,
    semdedup_flags,
)

RNG = np.random.default_rng(7)
DIM = 8
N = 120


def _mk(spark, n=N, planted_dups=6):
    """Random unit-ish vectors plus planted near-exact duplicates (a
    copy of row i with 1e-3 noise) so removal actually triggers at
    high eps."""
    X = RNG.normal(size=(n, DIM))
    for j in range(planted_dups):
        X[n - 1 - j] = X[j] + 1e-3 * RNG.normal(size=DIM)
    rows = [(i, [float(v) for v in X[i]]) for i in range(n)]
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<float>"),
        X,
    )


def _model(X, centroids, eps):
    """Pure-numpy SemDeDup with the same ∃-any-earlier rule: returns the
    kept id set.  Centroids: list[(cid, vec)]."""
    C = np.array([c for _, c in centroids], dtype=np.float64)
    cids = np.array([cid for cid, _ in centroids])
    Xd = X.astype(np.float64)

    def cos(a, b):
        na = np.linalg.norm(a) or 1.0
        nb = np.linalg.norm(b) or 1.0
        return float(np.dot(a, b) / (na * nb))

    # float32 round-trip: Spark stored array<float>, kernel reads floats
    Xf = X.astype(np.float32).astype(np.float64)
    sims = np.array([[cos(x, c) for c in C] for x in Xf])
    # assignment mirrors _nearest_cells: round(s, 9), desc sort is
    # stable on (s, cid) structs -> highest sim, ties to higher cid
    # (array_sort orders struct fields lexicographically; reverse puts
    # the largest (s, cid) first).
    assign = []
    for i in range(len(Xf)):
        scored = sorted(
            ((round(sims[i][j], 9), int(cids[j])) for j in range(len(C))),
            reverse=True,
        )
        assign.append(scored[0][1])
    kept = set()
    for cid in set(assign):
        idx = [i for i in range(len(Xf)) if assign[i] == cid]
        j = cids.tolist().index(cid)
        order = sorted(idx, key=lambda i: (round(sims[i][j], 9), i))
        Xn = Xf / np.maximum(np.linalg.norm(Xf, axis=1), 1e-30)[:, None]
        for pos, i in enumerate(order):
            prior = order[:pos]
            if not prior or max(float(Xn[i] @ Xn[p]) for p in prior) < eps:
                kept.add(i)
    return kept


def test_semdedup_matches_numpy_model(spark):
    df, X = _mk(spark)
    centroids = [(k, [float(v) for v in X[k * 7]]) for k in range(4)]
    for eps in (0.9, 0.5):
        got = {
            r["vec_id"]
            for r in semdedup(df, eps=eps, centroids=centroids).collect()
        }
        assert got == _model(X, centroids, eps), f"eps={eps}"


def test_semdedup_removes_planted_duplicates(spark):
    df, X = _mk(spark)
    centroids = [(k, [float(v) for v in X[k * 7]]) for k in range(4)]
    survivors = semdedup(df, eps=0.99, centroids=centroids)
    n_in, n_out = df.count(), survivors.count()
    assert n_out < n_in  # planted near-exact dups removed
    assert n_in - n_out <= 6  # only dups removed at eps=0.99


def test_eps_extremes(spark):
    df, X = _mk(spark, planted_dups=0)
    centroids = [(k, [float(v) for v in X[k * 7]]) for k in range(4)]
    flags = semdedup_flags(df, eps=1.01, centroids=centroids)
    assert flags.filter(~F.col("sem_kept")).count() == 0  # all kept
    only_first = semdedup_flags(df, eps=-1.01, centroids=centroids)
    kept = only_first.filter(F.col("sem_kept"))
    assert kept.count() == kept.select("sem_cluster").distinct().count()
    assert {r["sem_rank"] for r in kept.collect()} == {1}


def test_flags_shape_and_rank(spark):
    df, _ = _mk(spark, n=30, planted_dups=0)
    flags = semdedup_flags(df, eps=0.5, n_clusters=3)
    assert flags.count() == 30  # one verdict per input row
    # ranks are 1..c_i per cluster
    per = flags.groupBy("sem_cluster").agg(
        F.count("*").alias("n"), F.max("sem_rank").alias("mx")
    )
    assert all(r["n"] == r["mx"] for r in per.collect())
    # rank-1 rows have NULL max_prior_sim
    r1 = flags.filter(F.col("sem_rank") == 1)
    assert r1.filter(F.col("max_prior_sim").isNotNull()).count() == 0


def test_cluster_size_guard(spark):
    df, X = _mk(spark, n=50, planted_dups=0)
    with pytest.raises(Exception, match="max_cluster_rows"):
        semdedup_flags(
            df, eps=0.5, n_clusters=1, max_cluster_rows=10
        ).collect()


def test_blocked_scan_matches_unblocked(spark):
    df, X = _mk(spark)
    centroids = [(0, [float(v) for v in X[0]])]  # one cluster: worst case
    a = semdedup_flags(df, eps=0.7, centroids=centroids, block=7)
    b = semdedup_flags(df, eps=0.7, centroids=centroids, block=4096)
    ka = sorted(r["vec_id"] for r in a.filter("sem_kept").collect())
    kb = sorted(r["vec_id"] for r in b.filter("sem_kept").collect())
    assert ka == kb


def test_cluster_means_deterministic_order(spark):
    df, X = _mk(spark, n=40, planted_dups=0)
    lab = df.withColumn("label", (F.col("vec_id") % 3).cast("int"))
    got = {
        r["label"]: r["centroid"]
        for r in cluster_means(lab, "label").collect()
    }
    for k in range(3):
        want = X[[i for i in range(40) if i % 3 == k]].mean(axis=0)
        # array<float> storage rounds components before the mean
        want32 = (
            X[[i for i in range(40) if i % 3 == k]]
            .astype(np.float32)
            .astype(np.float64)
            .mean(axis=0)
        )
        np.testing.assert_allclose(got[k], want32, rtol=1e-9, atol=1e-12)
        np.testing.assert_allclose(got[k], want, rtol=1e-5, atol=1e-6)


def test_plan_contract(spark):
    """One Arrow python node (the per-cluster scan), no cartesian, no
    row-at-a-time python UDF."""
    df, X = _mk(spark, n=30, planted_dups=0)
    centroids = [(k, [float(v) for v in X[k]]) for k in range(3)]
    plan = (
        semdedup_flags(df, eps=0.5, centroids=centroids)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_arrow_assignment_matches_fold(spark):
    """The two assignment kernels must be output-identical — including
    on planted exact ties (duplicate centroid vectors), which both
    resolve to the HIGHER cid."""
    from pyspark.sql import functions as F

    from jurimetria_etl_spark.operators.semdedup import _assign_arrow
    from jurimetria_etl_spark.operators.similarity import _nearest_cells

    df, X = _mk(spark, n=80, planted_dups=0)
    cents = [(k, [float(v) for v in X[k * 3]]) for k in range(5)]
    cents.append((5, cents[2][1]))  # exact duplicate centroid: tie case
    out = df.select(
        "vec_id",
        _nearest_cells(F.col("embedding"), cents, 1)[0].alias("fold"),
        _assign_arrow("embedding", cents).alias("arrow"),
    ).collect()
    assert [r["fold"]["cid"] for r in out] == [r["arrow"]["cid"] for r in out]
    assert all(
        abs(r["fold"]["s"] - r["arrow"]["s"]) <= 1e-8 for r in out
    )
    cids = {r["fold"]["cid"] for r in out}
    assert 5 in cids and 2 not in cids  # the tie went to the higher cid


def test_auto_assignment_switches_to_arrow(spark):
    df, X = _mk(spark, n=70, planted_dups=0)
    many = [(k, [float(v) for v in X[k]]) for k in range(64)]
    plan = (
        semdedup_flags(df, eps=0.5, centroids=many)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" in plan  # vectorized, not row-at-a-time
    assert "BatchEvalPython" not in plan
    few = [(k, [float(v) for v in X[k]]) for k in range(16)]
    plan2 = (
        semdedup_flags(df, eps=0.5, centroids=few)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan2  # JVM fold below the switch


# ── incremental (cross-batch) form ─────────────────────────────────────────


def test_incremental_empty_store_equals_batch(spark):
    from jurimetria_etl_spark.operators.ann_store import build_ann_store
    from jurimetria_etl_spark.operators.semdedup import semdedup_incremental

    df, X = _mk(spark)
    cents = [(k, [float(v) for v in X[k * 7]]) for k in range(4)]
    empty = build_ann_store(df.limit(0), cents)
    for eps in (0.9, 0.5):
        inc = {
            r["vec_id"]
            for r in semdedup_incremental(df, empty, cents, eps=eps).collect()
        }
        batch = {
            r["vec_id"]
            for r in semdedup(df, eps=eps, centroids=cents).collect()
        }
        assert inc == batch, f"eps={eps}"


def test_incremental_cross_batch_kills_near_dups(spark):
    import numpy as np

    from jurimetria_etl_spark.operators.ann_store import build_ann_store
    from jurimetria_etl_spark.operators.semdedup import semdedup_incremental

    df, X = _mk(spark, n=60, planted_dups=0)
    cents = [(k, [float(v) for v in X[k * 9]]) for k in range(3)]
    b1 = df.where("vec_id < 40")
    s1 = semdedup_incremental(
        b1, build_ann_store(b1.limit(0), cents), cents, eps=0.99
    )
    store = build_ann_store(s1, cents)
    kept_ids = [r["vec_id"] for r in s1.limit(3).collect()]
    # batch 2: near-dups of batch-1 survivors + genuinely new vectors
    rows = []
    for j, kid in enumerate(kept_ids):
        rows.append((1000 + j, [float(v) for v in X[kid] + 1e-4]))
    rng = np.random.default_rng(99)
    for j in range(3):
        rows.append((2000 + j, [float(v) for v in rng.normal(size=DIM)]))
    b2 = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    s2 = {r["vec_id"] for r in
          semdedup_incremental(b2, store, cents, eps=0.99).collect()}
    assert all(1000 + j not in s2 for j in range(len(kept_ids)))
    assert all(2000 + j in s2 for j in range(3))


def test_incremental_batch_internal_rule(spark):
    """Within one batch the incremental form applies the same ranked
    ∃-earlier rule as the batch form (two planted dups of each other)."""
    import numpy as np

    from jurimetria_etl_spark.operators.ann_store import build_ann_store
    from jurimetria_etl_spark.operators.semdedup import semdedup_incremental

    rng = np.random.default_rng(11)
    v = rng.normal(size=DIM)
    rows = [
        (1, [float(x) for x in v]),
        (2, [float(x) for x in v + 1e-5]),
        (3, [float(x) for x in rng.normal(size=DIM)]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [(0, [float(x) for x in rng.normal(size=DIM)])]
    out = {
        r["vec_id"]
        for r in semdedup_incremental(
            df, build_ann_store(df.limit(0), cents), cents, eps=0.99
        ).collect()
    }
    assert 3 in out
    assert len(out & {1, 2}) == 1  # exactly one of the dup pair survives


def test_zero_norm_rows_assign_identically_in_fold_and_arrow(spark):
    """r8 review: an all-zero embedding must score 0.0 (not NULL)
    against every centroid in BOTH kernels, so the fold and arrow modes
    pick the same cell and the same rank key — a store built with one
    kernel stays probe-compatible with the other."""
    from pyspark.sql import functions as F

    from jurimetria_etl_spark.operators.semdedup import _assign_arrow
    from jurimetria_etl_spark.operators.similarity import _nearest_cells

    emb = spark.createDataFrame(
        [
            (0, [0.0, 0.0, 0.0, 0.0]),  # degenerate
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    kernels = {
        "fold": _nearest_cells(F.col("embedding"), cents, 1)[0],
        "arrow": _assign_arrow("embedding", cents),
    }
    got = {
        mode: sorted(
            (r.vec_id, r.sc["cid"], r.sc["s"])
            for r in emb.select("vec_id", kernel.alias("sc")).collect()
        )
        for mode, kernel in kernels.items()
    }
    assert got["fold"] == got["arrow"]
    zero = [t for t in got["fold"] if t[0] == 0][0]
    assert zero[2] == 0.0 and zero[1] == 1  # sim 0.0, ties to higher cid
