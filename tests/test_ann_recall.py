"""IVF ANN recall/cost curve, pinned (VERDICT r4 item 5).

Two data regimes, two contracts:

1. Clustered embeddings (the regime IVF exists for — and what real text/
   image embeddings look like): probing half the cells must be
   near-lossless, and a single-cell probe (12% of the corpus scored) must
   still recover most of the true top-k.

2. The driver's embeddings fixture is near-isotropic (only ~9% of a
   vector's true top-5 share its cluster label), where NO cell layout can
   beat the information-theoretic floor: expected recall ~= scan
   fraction.  We pin that the implementation tracks that floor rather
   than falling below it, and that full probe is exact (recall 1.0) —
   the property that makes n_probe a pure cost/recall dial.

Measured curves live in SCALE.md §ANN; tools/recall_curve.py regenerates
them.
"""

from __future__ import annotations

import numpy as np
import pytest

from jurimetria_etl_spark.operators.ann_store import (
    ann_ivf_topk_store,
    append_ann_store,
)
from jurimetria_etl_spark.operators.similarity import (
    cosine_topk,
    seed_centroids,
)

K = 5
N_CELLS = 8


def _store(emb, path) -> list[tuple[int, list[float]]]:
    """Append ``emb`` to an ANN store at ``path`` under its lowest-id
    seed centroids; returns the centroids."""
    cents = seed_centroids(emb, n_cells=N_CELLS)
    append_ann_store(emb.select("vec_id", "embedding"), path, cents)
    return cents


def _recall(spark, emb, probes, n_probe, truth, path, cents) -> float:
    vecs = {
        r.vec_id: list(r.embedding)
        for r in emb.where(emb.vec_id.isin(probes)).collect()
    }
    hits = tot = 0
    for p in probes:
        got = {
            r.vec_id
            for r in ann_ivf_topk_store(
                spark, path, vecs[p], k=K, n_probe=n_probe,
                centroids=cents, exclude_id=p,
            ).collect()
        }
        hits += len(got & truth[p])
        tot += K
    return hits / tot


@pytest.fixture(scope="module")
def clustered(spark):
    rng = np.random.default_rng(7)
    centroids = rng.normal(0, 1.0, (N_CELLS, 32))
    labels = rng.integers(0, N_CELLS, 1500)
    vecs = (centroids[labels] + rng.normal(0, 0.3, (1500, 32))).astype(float)
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<double>",
    ).persist()
    emb.count()
    yield emb
    emb.unpersist()


def test_ivf_recall_curve_on_clustered_data(spark, clustered, tmp_path):
    probes = [3, 200, 500, 777, 1000, 1250, 1499]
    truth = {
        p: {r.vec_id for r in cosine_topk(clustered, probe_id=p, k=K).collect()}
        for p in probes
    }
    path = str(tmp_path / "clustered")
    cents = _store(clustered, path)
    r1 = _recall(spark, clustered, probes, 1, truth, path, cents)
    r4 = _recall(spark, clustered, probes, 4, truth, path, cents)
    r8 = _recall(spark, clustered, probes, 8, truth, path, cents)
    # half-cell probe near-lossless on clustered data; single-cell probe
    # (1/8 of the corpus scored) still recovers most neighbors; full probe
    # exact; curve monotone.
    assert r4 >= 0.9, f"recall@5 at n_probe=4 fell to {r4}"
    assert r1 >= 0.55, f"recall@5 at n_probe=1 fell to {r1}"
    assert r8 == 1.0, f"full probe must equal brute force, got {r8}"
    assert r1 <= r4 <= r8


def test_ivf_tracks_isotropic_floor_on_fixture(spark, tmp_path):
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").persist()
    try:
        n = emb.count()
        probes = [i * (n // 6) for i in range(6)]
        truth = {
            p: {r.vec_id for r in cosine_topk(emb, probe_id=p, k=K).collect()}
            for p in probes
        }
        path = str(tmp_path / "fixture")
        cents = _store(emb, path)
        r4 = _recall(spark, emb, probes, 4, truth, path, cents)
        r8 = _recall(spark, emb, probes, 8, truth, path, cents)
    finally:
        emb.unpersist()
    # scan fraction 0.5 -> recall must not fall below ~the floor (slack
    # for cell-size imbalance on 200 rows); full probe is exact.
    assert r4 >= 0.4, f"recall@5 at n_probe=4 below isotropic floor: {r4}"
    assert r8 == 1.0
