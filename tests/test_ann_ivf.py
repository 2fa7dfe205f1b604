"""IVF ANN over the store: exact at full probe, bounded scan at partial
probe."""

from __future__ import annotations

import pytest

from jurimetria_etl_spark.operators.ann_store import (
    ann_ivf_topk_store,
    ann_store_occupancy,
    append_ann_store,
    load_ann_store,
)
from jurimetria_etl_spark.operators.similarity import (
    _nearest_cells_py,
    cosine_topk,
    seed_centroids,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def store(spark, emb, tmp_path_factory):
    """One 8-cell store over the fixture (lowest-id seed centroids) and
    vec_id 1's vector, the probe every test here uses."""
    path = str(tmp_path_factory.mktemp("ivf") / "store")
    centroids = seed_centroids(emb, n_cells=8)
    append_ann_store(emb.select("vec_id", "embedding"), path, centroids)
    probe_vec = [
        float(v) for v in emb.where("vec_id = 1").first()["embedding"]
    ]
    return path, centroids, probe_vec


def _probe(spark, store, n_probe):
    path, _, probe_vec = store
    return ann_ivf_topk_store(
        spark, path, probe_vec, k=5, n_probe=n_probe, exclude_id=1
    )


def test_full_probe_equals_brute_force(spark, emb, store):
    exact = cosine_topk(emb, probe_id=1, k=5).collect()
    ivf = _probe(spark, store, 8).collect()
    assert [tuple(r) for r in ivf] == [tuple(r) for r in exact]


def test_partial_probe_recall(spark, emb, store):
    exact = {r["vec_id"] for r in cosine_topk(emb, probe_id=1, k=5).collect()}
    approx = {r["vec_id"] for r in _probe(spark, store, 4).collect()}
    # partial probe scans half the cells; demand non-trivial recall
    assert len(exact & approx) >= 3


def test_every_vector_gets_a_cell(spark, emb, store):
    path, centroids, _ = store
    assert len(centroids) == 8
    rows = ann_store_occupancy(spark, path).collect()
    assert sum(r["n_rows"] for r in rows) == emb.count()
    assert all(0 <= r["ivf_cell"] < 8 for r in rows)


def test_partitioned_layout_prunes_and_matches(spark, emb, store):
    """The cell-partitioned ANN store: probing reads ONLY the probed
    cells' directories (PartitionFilters in the scan) and returns the
    exact top-k over the vectors of those cells."""
    path, centroids, probe_vec = store
    pruned = _probe(spark, store, 3)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ivf_cell" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]

    cells = _nearest_cells_py(probe_vec, centroids, 3)
    in_cells = (
        load_ann_store(spark, path)
        .where(f"ivf_cell IN ({', '.join(map(str, cells))}) OR vec_id = 1")
        .select("vec_id", "embedding")
    )
    exact = cosine_topk(in_cells, probe_id=1, k=5)
    assert [tuple(r) for r in pruned.collect()] == [
        tuple(r) for r in exact.collect()
    ]


def test_kmeans_trained_centroids_separate_planted_blobs(spark, tmp_path):
    # three tight, well-separated direction blobs with one seed id in each
    # (ids 0/1/2): after training, every blob owns one centroid, so a
    # 1-probe search returns only (and all) same-blob neighbors
    import random

    from jurimetria_etl_spark.operators.similarity import train_ivf_centroids

    rng = random.Random(7)
    base = {0: [10.0, 0.0, 0.0], 1: [0.0, 10.0, 0.0], 2: [0.0, 0.0, 10.0]}
    rows = []
    for blob in range(3):
        for j in range(20):
            vec = [c + rng.uniform(-0.5, 0.5) for c in base[blob]]
            rows.append((blob + 3 * j, vec))  # ids 0,1,2 seed distinct blobs
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    centroids = train_ivf_centroids(emb, n_cells=3, n_iters=4)
    path = str(tmp_path / "blobs")
    append_ann_store(emb, path, centroids)
    probe_vec = dict(rows)[0]

    def probe(n_probe):
        return [
            r["vec_id"]
            for r in ann_ivf_topk_store(
                spark, path, probe_vec, k=5, n_probe=n_probe, exclude_id=0
            ).collect()
        ]

    ids = probe(1)
    assert len(ids) == 5
    assert all(i % 3 == 0 for i in ids)  # same blob as probe id 0

    # full probe is still exactly brute force regardless of training
    brute = [r["vec_id"] for r in cosine_topk(emb, 0, 5).collect()]
    assert probe(3) == brute


def test_zero_norm_vectors_score_zero_not_crash(spark):
    """r8 review (verified live pre-fix): one all-zero embedding threw
    DIVIDE_BY_ZERO under ANSI Spark in every unclamped cosine path.  The
    clamp lives in _norm now: zero vectors score 0.0 everywhere, and the
    pandas path agrees with the JVM path on degenerate rows."""
    from jurimetria_etl_spark.operators.similarity import (
        cosine_topk_batch,
        cosine_topk_pandas,
    )

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [0.0, 0.0]),  # degenerate
        ],
        "vec_id long, embedding array<double>",
    )
    jvm = cosine_topk(emb, probe_id=1, k=2).collect()
    pnd = cosine_topk_pandas(emb, probe_id=1, k=2).collect()
    assert [tuple(r) for r in jvm] == [tuple(r) for r in pnd]
    scores = {r["vec_id"]: r["cos_sim"] for r in jvm}
    assert scores[3] == 0.0  # zero vector: worst match, never NULL/error

    # a zero-norm PROBE scores 0.0 against everything, ties by id
    probes = spark.createDataFrame(
        [(9, [0.0, 0.0])], "query_id long, probe array<double>"
    )
    got = cosine_topk_batch(emb, probes, k=3).collect()
    assert {r["cos_sim"] for r in got} == {0.0}
    assert [r["vec_id"] for r in sorted(got, key=lambda r: r["rank"])] == [1, 2, 3]
