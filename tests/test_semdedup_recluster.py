"""SemDeDup store re-clustering: the SemDeDup store is an IVF ANN store,
so ``recluster_ann_store`` must re-assign every stored survivor vector
to the NEW centroid geometry under an atomic manifest swap — survivor
set unchanged, cells rebalanced, old generation intact for in-flight
readers, and subsequent incremental batches behaving exactly as against
a store built on the new geometry from scratch."""

from __future__ import annotations

import os

import numpy as np
import pytest

from jurimetria_etl_spark.operators.ann_store import (
    append_ann_store,
    build_ann_store,
    load_ann_store,
    read_ann_centroids,
)
from jurimetria_etl_spark.operators.semdedup import semdedup_incremental
from jurimetria_etl_spark.sinks.maintenance import recluster_ann_store
from jurimetria_etl_spark.storefs import store_data_dir, store_prune

DIM = 6
RNG = np.random.default_rng(9)

# two well-separated groups of vectors
GROUP_A = [list(map(float, RNG.normal(loc=+5, size=DIM))) for _ in range(12)]
GROUP_B = [list(map(float, RNG.normal(loc=-5, size=DIM))) for _ in range(12)]

# skewed geometry: both centroids near group A -> group B rows pile
# into whichever A-cell is least-far (occupancy skew, the drift case)
OLD_CENTROIDS = [(0, [5.0] * DIM), (1, [6.0] * DIM)]
# corrected geometry: one centroid per true group
NEW_CENTROIDS = [(0, [5.0] * DIM), (1, [-5.0] * DIM)]


def _emb(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id bigint, embedding array<float>",
    )


@pytest.fixture()
def grown_store(spark, tmp_path):
    """A store whose rows were appended under the skewed OLD geometry."""
    store = str(tmp_path / "sem_store")
    rows = [(i, v) for i, v in enumerate(GROUP_A + GROUP_B)]
    append_ann_store(_emb(spark, rows), store, OLD_CENTROIDS)
    return store, rows


def test_recluster_reassigns_and_swaps_atomically(spark, grown_store):
    store, rows = grown_store
    before = load_ann_store(spark, store)
    # the drift premise: under OLD geometry no row sits in a B-located
    # cell (both centroids are A-side), so occupancy is skewed
    assert before.select("ivf_cell").distinct().count() <= 2

    legacy_dir = store_data_dir(store)
    report = recluster_ann_store(spark, store, NEW_CENTROIDS)
    assert report["verified"] and not report["skipped"]
    assert report["rows"] == len(rows)
    assert read_ann_centroids(store) == NEW_CENTROIDS

    after = load_ann_store(spark, store)
    # survivor SET unchanged: same (id, vector) rows
    a = sorted(
        (r["vec_id"], tuple(round(x, 5) for x in r["embedding"]))
        for r in after.collect()
    )
    b = sorted(
        (r["vec_id"], tuple(round(x, 5) for x in r["embedding"]))
        for r in before.collect()
    )
    assert a == b
    # every row's cell matches a fresh assignment under NEW geometry
    want = {
        r["vec_id"]: r["ivf_cell"]
        for r in build_ann_store(_emb(spark, rows), NEW_CENTROIDS).collect()
    }
    got = {r["vec_id"]: r["ivf_cell"] for r in after.collect()}
    assert got == want
    # the two true groups now occupy distinct cells (occupancy healed)
    assert after.select("ivf_cell").distinct().count() == 2
    # reader safety: the legacy generation is intact until pruned
    assert os.path.isdir(legacy_dir)
    assert spark.read.parquet(legacy_dir).count() == len(rows)
    pruned = store_prune(store)
    assert pruned  # legacy generation reclaimed on request


def test_incremental_after_recluster_equals_fresh_geometry(
    spark, grown_store
):
    """A batch deduped against the RE-CLUSTERED store must give exactly
    the verdicts of the same batch against a store built on the new
    geometry from scratch — the incremental ≡ batch contract carried
    across a geometry change."""
    store, rows = grown_store
    recluster_ann_store(spark, store, NEW_CENTROIDS)
    reclustered = load_ann_store(spark, store)

    batch = _emb(
        spark,
        [
            # near-copy of a stored A vector -> must die
            (100, [x + 1e-4 for x in GROUP_A[0]]),
            # near-copy of a stored B vector -> must die (under the OLD
            # skewed geometry B rows shared cells with A rows; the test
            # is meaningful only if cell routing matters)
            (101, [x + 1e-4 for x in GROUP_B[0]]),
            # novel direction -> survives
            (102, [float(x) for x in RNG.normal(loc=0, size=DIM)]),
        ],
    )
    via_recluster = semdedup_incremental(
        batch, reclustered, NEW_CENTROIDS, eps=0.95
    )
    fresh = build_ann_store(_emb(spark, rows), NEW_CENTROIDS)
    via_fresh = semdedup_incremental(batch, fresh, NEW_CENTROIDS, eps=0.95)
    got = sorted(r["vec_id"] for r in via_recluster.collect())
    assert got == sorted(r["vec_id"] for r in via_fresh.collect())
    assert got == [102]
