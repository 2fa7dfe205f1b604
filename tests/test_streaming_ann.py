"""Streaming × persisted ANN store integration:
``curate_document_stream(ann_store_dir=…)`` must index exactly the
survivors (stream ≡ sequential-batch value pin), serve probes over the
curated corpus, and fail loudly without centroids; and
``hybrid_search(ann_store_dir=…)`` must equal the exact dense baseline
at full probe (the at-scale swap is an argument, not prose — VERDICT
r10 task 2)."""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import functions as F
import pytest

from jurimetria_etl_spark.operators.ann_store import (
    ann_ivf_topk_store,
    build_ann_store,
    load_ann_store,
    read_ann_centroids,
)
from jurimetria_etl_spark.storefs import store_data_dir
from jurimetria_etl_spark.streaming.curation import curate_document_stream
from tests.conftest import stage_drop as _drop

DIM = 8
RNG = np.random.default_rng(31)
V = {i: RNG.normal(size=DIM) for i in range(12)}

SCHEMA = (
    "doc_id bigint, source string, lang string, text string, "
    "embedding array<double>"
)

CENTS = [
    (k, [float(x) for x in RNG.normal(size=DIM)]) for k in range(3)
]

BATCH0 = [
    (0, "first doc entirely unique text alpha", V[0]),
    (1, "second doc entirely unique text beta", V[1]),
    (2, "third doc entirely unique text gamma", V[2]),
]
BATCH1 = [
    (10, "first doc entirely unique text alpha", V[0]),  # exact dup → dies
    (11, "another novel document epsilon", V[3]),
]


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, "drop", "en", t, [float(x) for x in v]) for i, t, v in rows],
        SCHEMA,
    )


def _read_stream(spark, path):
    return (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


@pytest.fixture(scope="module")
def ran(spark, tmp_path_factory):
    tmp_path = tmp_path_factory.mktemp("annstream")
    flat = str(tmp_path / "flat")
    base_t = time.time() - 3600
    _drop(_docs(spark, BATCH0), flat, "000", base_t)
    _drop(_docs(spark, BATCH1), flat, "001", base_t + 600)
    dirs = {
        n: str(tmp_path / n)
        for n in ("corpus", "fps", "sigs", "ckpt", "ann")
    }
    q = curate_document_stream(
        _read_stream(spark, flat),
        dirs["corpus"], dirs["fps"], dirs["sigs"], dirs["ckpt"],
        ann_store_dir=dirs["ann"],
        ann_centroids=CENTS,
    )
    assert q.awaitTermination(180)
    return dirs


def test_store_indexes_exactly_the_survivors(spark, ran):
    landed = {
        r.doc_id
        for r in spark.read.parquet(store_data_dir(ran["corpus"])).collect()
    }
    indexed = {
        r.doc_id
        for r in load_ann_store(spark, ran["ann"], id_col="doc_id").collect()
    }
    assert indexed == landed == {0, 1, 2, 11}  # the dup was never indexed
    assert read_ann_centroids(ran["ann"]) == CENTS


def test_stream_equals_sequential_batch(spark, ran):
    """The streamed store's (cell, id, vector) rows must equal a direct
    build over the landed corpus under the same centroids — the
    incremental ≡ batch value pin (test_streaming_semdedup posture)."""
    corpus = spark.read.parquet(store_data_dir(ran["corpus"]))
    want = sorted(
        (r["ivf_cell"], r["doc_id"], tuple(r["embedding"]))
        for r in build_ann_store(
            corpus.select("doc_id", "embedding"),
            CENTS,
            id_col="doc_id",
        ).collect()
    )
    got = sorted(
        (r["ivf_cell"], r["doc_id"], tuple(r["embedding"]))
        for r in load_ann_store(spark, ran["ann"], id_col="doc_id").collect()
    )
    assert got == want and got


def test_probe_serves_curated_corpus(spark, ran):
    """A probe at doc 0's embedding must return doc 0 first (full probe
    == exact over the curated corpus)."""
    top = ann_ivf_topk_store(
        spark,
        ran["ann"],
        [float(x) for x in V[0]],
        k=2,
        n_probe=len(CENTS),
        id_col="doc_id",
    ).collect()
    assert top[0]["doc_id"] == 0 and top[0]["cos_sim"] == 1.0


def test_quantized_stream_stores_int8(spark, tmp_path):
    """ann_quantize=True: the streamed store holds (q, q_scale) int8
    rows on disk, loads dequantize lazily, and a full probe still ranks
    the self-match first (quantization error is O(1/127))."""
    flat = str(tmp_path / "flat_q")
    base_t = time.time() - 3600
    _drop(_docs(spark, BATCH0), flat, "000", base_t)
    _drop(_docs(spark, BATCH1), flat, "001", base_t + 600)
    dirs = {
        n: str(tmp_path / f"{n}_q")
        for n in ("corpus", "fps", "sigs", "ckpt", "ann")
    }
    q = curate_document_stream(
        _read_stream(spark, flat),
        dirs["corpus"], dirs["fps"], dirs["sigs"], dirs["ckpt"],
        ann_store_dir=dirs["ann"],
        ann_centroids=CENTS,
        ann_quantize=True,
    )
    assert q.awaitTermination(180)
    disk = spark.read.parquet(store_data_dir(dirs["ann"]))
    assert {"q", "q_scale"} <= set(disk.columns)
    assert "embedding" not in disk.columns
    loaded = load_ann_store(spark, dirs["ann"], id_col="doc_id")
    assert {r.doc_id for r in loaded.collect()} == {0, 1, 2, 11}
    top = ann_ivf_topk_store(
        spark,
        dirs["ann"],
        [float(x) for x in V[3]],
        k=1,
        n_probe=len(CENTS),
        id_col="doc_id",
    ).first()
    assert top["doc_id"] == 11 and top["cos_sim"] > 0.999


def test_missing_centroids_fails_fast(spark, tmp_path):
    """The centroids check is call-time (before the stream starts) —
    nothing to await, no partially-started query to clean up."""
    flat = str(tmp_path / "flat_nc")
    _drop(_docs(spark, BATCH0), flat, "000", time.time() - 3600)
    with pytest.raises(ValueError, match="ann_centroids"):
        curate_document_stream(
            _read_stream(spark, flat),
            str(tmp_path / "c"), str(tmp_path / "f"),
            str(tmp_path / "s"), str(tmp_path / "k"),
            ann_store_dir=str(tmp_path / "a"),
        )


def test_recluster_between_streams_then_resume(spark, tmp_path):
    """The maintenance-window lifecycle: curate a batch → stop →
    recluster_ann_store to a new geometry → resume the stream handing
    the NEW centroids.  The resumed appends pass the generation guard,
    the store indexes old + new survivors under the new cells, and a
    full probe serves both."""
    from jurimetria_etl_spark.sinks.maintenance import recluster_ann_store

    flat = str(tmp_path / "flat_r")
    base_t = time.time() - 3600
    _drop(_docs(spark, BATCH0), flat, "000", base_t)
    dirs = {
        n: str(tmp_path / f"{n}_r")
        for n in ("corpus", "fps", "sigs", "ckpt", "ann")
    }
    q = curate_document_stream(
        _read_stream(spark, flat),
        dirs["corpus"], dirs["fps"], dirs["sigs"], dirs["ckpt"],
        ann_store_dir=dirs["ann"],
        ann_centroids=CENTS,
    )
    assert q.awaitTermination(180)
    new_cents = [
        (k, [float(x) for x in RNG.normal(size=DIM)]) for k in range(4)
    ]
    rep = recluster_ann_store(
        spark, dirs["ann"], new_cents, id_col="doc_id"
    )
    assert rep["verified"] and rep["rows"] == 3
    # resume: a second drop arrives, the stream restarts on the SAME
    # checkpoint with the new generation's centroids
    _drop(_docs(spark, BATCH1), flat, "001", base_t + 600)
    q2 = curate_document_stream(
        _read_stream(spark, flat),
        dirs["corpus"], dirs["fps"], dirs["sigs"], dirs["ckpt"],
        ann_store_dir=dirs["ann"],
        ann_centroids=new_cents,
    )
    assert q2.awaitTermination(180)
    indexed = load_ann_store(spark, dirs["ann"], id_col="doc_id")
    assert {r.doc_id for r in indexed.collect()} == {0, 1, 2, 11}
    cells = {r["ivf_cell"] for r in indexed.collect()}
    assert cells <= {0, 1, 2, 3}  # everything lives in the NEW geometry
    top = ann_ivf_topk_store(
        spark, dirs["ann"], [float(x) for x in V[1]],
        k=1, n_probe=4, id_col="doc_id",
    ).first()
    assert top["doc_id"] == 1 and top["cos_sim"] == 1.0


def test_hybrid_search_ann_swap_equals_exact_at_full_probe(spark, ran):
    """hybrid_search(ann_store_dir=…): with n_probe == n_cells the ANN
    dense side is exactly cosine_topk_batch, so the fused output must be
    row-identical to the default path over the same corpus."""
    from jurimetria_etl_spark.operators.search import hybrid_search

    corpus = spark.read.parquet(store_data_dir(ran["corpus"]))
    docs = corpus.select("doc_id", "text")
    emb = corpus.select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    tq = spark.createDataFrame(
        [(1, "unique text alpha"), (2, "novel document")],
        "query_id int, query_text string",
    )
    pq = spark.createDataFrame(
        [(1, [float(x) for x in V[0]]), (2, [float(x) for x in V[3]])],
        "query_id int, probe array<double>",
    )
    exact = hybrid_search(docs, emb, tq, pq, k_each=3, topk=3)
    swapped = hybrid_search(
        docs,
        None,
        tq,
        pq,
        k_each=3,
        topk=3,
        vec_id_col="doc_id",
        ann_store_dir=ran["ann"],
        ann_n_probe=len(CENTS),
    )
    assert sorted(map(tuple, swapped.collect())) == sorted(
        map(tuple, exact.collect())
    )



def test_stream_built_stores_serve_same_hybrid_ranking(spark, tmp_path):
    """r13 verdict task 6 — the production loop closed end-to-end:
    ingest stream → maintained stores → store-backed retrieval.
    ``hybrid_search(text_index_dir=…, ann_store_dir=…)`` against stores
    built BY the streaming pipeline (``curate_document_stream`` with
    both store dirs) must return the same fused ranking as against
    batch-built stores over the same curated corpus."""
    from jurimetria_etl_spark.operators.ann_store import append_ann_store
    from jurimetria_etl_spark.operators.search import (
        append_text_index,
        hybrid_search,
    )

    flat = str(tmp_path / "flat")
    base_t = time.time() - 3600
    _drop(_docs(spark, BATCH0), flat, "000", base_t)
    _drop(_docs(spark, BATCH1), flat, "001", base_t + 600)
    dirs = {
        n: str(tmp_path / n)
        for n in ("corpus", "fps", "sigs", "ckpt", "ann", "tindex")
    }
    q = curate_document_stream(
        _read_stream(spark, flat),
        dirs["corpus"], dirs["fps"], dirs["sigs"], dirs["ckpt"],
        ann_store_dir=dirs["ann"],
        ann_centroids=CENTS,
        text_index_dir=dirs["tindex"],
    )
    assert q.awaitTermination(180)

    # batch-built equivalents over the SAME curated corpus
    corpus = spark.read.parquet(store_data_dir(dirs["corpus"]))
    bidx = str(tmp_path / "batch_tindex")
    append_text_index(corpus.select("doc_id", "text"), bidx)
    bann = str(tmp_path / "batch_ann")
    append_ann_store(
        corpus.select("doc_id", "embedding"), bann, CENTS, id_col="doc_id"
    )

    tq = spark.createDataFrame(
        [(1, "unique text alpha"), (2, "novel document")],
        "query_id int, query_text string",
    )
    pq = [
        (1, [float(x) for x in V[0]]),
        (2, [float(x) for x in V[3]]),
    ]
    common = dict(
        k_each=3, topk=3,
        vec_id_col="doc_id",
        ann_n_probe=len(CENTS),
        probe_schema="query_id int, probe array<double>",
    )
    stream_served = hybrid_search(
        None, None, tq, pq,
        text_index_dir=dirs["tindex"], ann_store_dir=dirs["ann"],
        **common,
    )
    batch_served = hybrid_search(
        None, None, tq, pq,
        text_index_dir=bidx, ann_store_dir=bann,
        **common,
    )
    got = sorted(map(tuple, stream_served.collect()))
    want = sorted(map(tuple, batch_served.collect()))
    assert got == want and got
    # both rankings actually cover every query (not vacuously equal)
    assert {r[0] for r in got} == {1, 2}


def test_split_cell_between_streams_then_resume(spark, tmp_path):
    """The split_cell maintenance-window lifecycle (r14): curate a
    batch → stop → split the hot cell → resume the stream handing the
    SPLIT generation's centroids (read back from the store — the
    published sidecar IS the handoff).  Resumed appends pass the
    generation guard, pre- and post-split survivors serve from one
    store, and appends under the PRE-split set are refused."""
    from jurimetria_etl_spark.operators.ann_store import (
        ann_store_occupancy,
        append_ann_store,
    )
    from jurimetria_etl_spark.sinks.maintenance import split_cell

    flat = str(tmp_path / "flat_s")
    base_t = time.time() - 3600
    _drop(_docs(spark, BATCH0), flat, "000", base_t)
    dirs = {
        n: str(tmp_path / f"{n}_s")
        for n in ("corpus", "fps", "sigs", "ckpt", "ann")
    }
    q = curate_document_stream(
        _read_stream(spark, flat),
        dirs["corpus"], dirs["fps"], dirs["sigs"], dirs["ckpt"],
        ann_store_dir=dirs["ann"],
        ann_centroids=CENTS,
    )
    assert q.awaitTermination(180)
    occupied = {
        r["ivf_cell"]: r["n_rows"]
        for r in ann_store_occupancy(
            spark, dirs["ann"], id_col="doc_id"
        ).collect()
    }
    hot = max(occupied, key=lambda c: (occupied[c], c))
    if occupied[hot] < 2:
        pytest.skip("fixture landed <2 docs per cell — nothing to split")
    rep = split_cell(spark, dirs["ann"], hot, k=2, id_col="doc_id")
    assert rep["verified"]
    split_cents = read_ann_centroids(dirs["ann"])

    _drop(_docs(spark, BATCH1), flat, "001", base_t + 600)
    q2 = curate_document_stream(
        _read_stream(spark, flat),
        dirs["corpus"], dirs["fps"], dirs["sigs"], dirs["ckpt"],
        ann_store_dir=dirs["ann"],
        ann_centroids=split_cents,
    )
    assert q2.awaitTermination(180)
    indexed = load_ann_store(spark, dirs["ann"], id_col="doc_id")
    assert {r.doc_id for r in indexed.collect()} == {0, 1, 2, 11}
    assert hot not in {r["ivf_cell"] for r in indexed.collect()}
    top = ann_ivf_topk_store(
        spark, dirs["ann"], [float(x) for x in V[1]],
        k=1, n_probe=len(split_cents), id_col="doc_id",
    ).first()
    assert top["doc_id"] == 1 and top["cos_sim"] == 1.0
    # the pre-split generation is dead: its centroid set is refused
    with pytest.raises(ValueError, match="generation"):
        append_ann_store(
            spark.createDataFrame(
                [(99, [float(x) for x in V[5]])],
                "doc_id bigint, embedding array<double>",
            ),
            dirs["ann"],
            CENTS,
            id_col="doc_id",
        )


def test_drift_maintain_probe_round_trip(spark, tmp_path):
    """r14 verdict task 6 — the occupancy POLICY runs where drift
    actually happens: the stream appends a batch skewed into one cell,
    ``maintain_ann_store`` (a) splits exactly that hot cell by the
    occupancy_factor × median rule, (b) full-probe results are
    value-identical pre/post split, and (c) the stream keeps appending
    against the split generation (the generation-contract check accepts
    the published fresh centroid set read back from the store)."""
    from jurimetria_etl_spark.sinks.maintenance import maintain_ann_store

    # skewed batch: 8 docs hugging centroid 0, one near each other cell
    skew = [
        (
            100 + i,
            f"unique drifted document number {i} with text",
            np.array(CENTS[0][1]) + RNG.normal(0, 0.05, DIM),
        )
        for i in range(8)
    ] + [
        (200, "lone doc near centroid one", np.array(CENTS[1][1])),
        (201, "lone doc near centroid two", np.array(CENTS[2][1])),
    ]
    flat = str(tmp_path / "flat_m")
    base_t = time.time() - 3600
    _drop(_docs(spark, skew), flat, "000", base_t)
    dirs = {
        n: str(tmp_path / f"{n}_m")
        for n in ("corpus", "fps", "sigs", "ckpt", "ann")
    }
    q = curate_document_stream(
        _read_stream(spark, flat),
        dirs["corpus"], dirs["fps"], dirs["sigs"], dirs["ckpt"],
        ann_store_dir=dirs["ann"],
        ann_centroids=CENTS,
    )
    assert q.awaitTermination(180)

    probe_vec = [float(x) for x in skew[0][2]]

    def _probe(n_cells):
        return [
            (r["doc_id"], round(r["cos_sim"], 12))
            for r in ann_ivf_topk_store(
                spark, dirs["ann"], probe_vec,
                k=5, n_probe=n_cells, id_col="doc_id",
            ).collect()
        ]

    before = _probe(len(CENTS))
    rep = maintain_ann_store(spark, dirs["ann"], id_col="doc_id")
    # (a) the policy found and split exactly the planted hot cell
    assert len(rep["splits"]) == 1
    assert rep["splits"][0]["verified"]
    assert rep["splits"][0]["split_cell"] == 0
    assert rep["splits"][0]["rows_moved"] == 8
    split_cents = read_ann_centroids(dirs["ann"])
    assert len(split_cents) == len(CENTS) + 1
    # (b) full-probe results value-identical pre/post split
    assert _probe(len(split_cents)) == before

    # (c) the stream resumes against the split generation — the
    # published sidecar IS the centroid handoff
    _drop(_docs(spark, BATCH1), flat, "001", base_t + 600)
    q2 = curate_document_stream(
        _read_stream(spark, flat),
        dirs["corpus"], dirs["fps"], dirs["sigs"], dirs["ckpt"],
        ann_store_dir=dirs["ann"],
        ann_centroids=split_cents,
    )
    assert q2.awaitTermination(180)
    indexed = load_ann_store(spark, dirs["ann"], id_col="doc_id")
    ids = {r.doc_id for r in indexed.collect()}
    assert ids == {100 + i for i in range(8)} | {200, 201, 10, 11}
    # second pass on the rebalanced store: idempotent-cheap, no splits
    rep2 = maintain_ann_store(spark, dirs["ann"], id_col="doc_id")
    assert rep2["splits"] == []
