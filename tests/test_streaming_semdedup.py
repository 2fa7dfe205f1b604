"""Streaming × SemDeDup integration: curate_document_stream with a
semdedup_store_dir must drop later-batch documents that are SEMANTIC
near-dups (by embedding) of earlier survivors, keep novel ones, and
keep the store consistent: an IVF ANN store (operators/ann_store.py)
with one row per kept doc, assigned cells and the recorded centroid
generation."""

from __future__ import annotations

import time

import numpy as np
import pytest

from jurimetria_etl_spark.operators.ann_store import (
    build_ann_store,
    load_ann_store,
    read_ann_centroids,
)
from jurimetria_etl_spark.storefs import store_data_dir
from jurimetria_etl_spark.streaming.curation import curate_document_stream
from tests.conftest import stage_drop as _drop

DIM = 8
RNG = np.random.default_rng(21)
V = {i: RNG.normal(size=DIM) for i in range(8)}

SCHEMA = (
    "doc_id bigint, source string, lang string, text string, "
    "embedding array<float>"
)


def _docs(spark, rows):
    return spark.createDataFrame(
        [
            (i, "drop", "en", t, [float(x) for x in v])
            for i, t, v in rows
        ],
        SCHEMA,
    )


BATCH0 = [
    (0, "first doc entirely unique text alpha", V[0]),
    (1, "second doc entirely unique text beta", V[1]),
    (2, "third doc entirely unique text gamma", V[2]),
]
BATCH1 = [
    # distinct TEXT (passes exact+minhash dedup) but embedding is a
    # near-copy of doc 0 -> must die at the semdedup stage
    (10, "totally different wording here delta", V[0] + 1e-4),
    (11, "another novel document epsilon", V[3]),
]


def _read_stream(spark, path):
    return (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


@pytest.fixture(scope="module")
def ran(spark, tmp_path_factory):
    tmp_path = tmp_path_factory.mktemp("semstream")
    flat = str(tmp_path / "flat")
    base_t = time.time() - 3600
    _drop(_docs(spark, BATCH0), flat, "000", base_t)
    _drop(_docs(spark, BATCH1), flat, "001", base_t + 600)
    dirs = {
        n: str(tmp_path / n)
        for n in ("corpus", "fps", "sigs", "ckpt", "sem")
    }
    cents = [
        (k, [float(x) for x in RNG.normal(size=DIM)]) for k in range(2)
    ]
    q = curate_document_stream(
        _read_stream(spark, flat),
        dirs["corpus"], dirs["fps"], dirs["sigs"], dirs["ckpt"],
        semdedup_store_dir=dirs["sem"],
        semdedup_centroids=cents,
        semdedup_eps=0.99,
    )
    assert q.awaitTermination(180)
    return dirs, cents


def test_semantic_near_dup_dies_novel_survives(spark, ran):
    dirs, _ = ran
    ids = {
        r.doc_id
        for r in spark.read.parquet(store_data_dir(dirs["corpus"])).collect()
    }
    assert {0, 1, 2, 11} <= ids
    assert 10 not in ids  # semantic near-dup of doc 0, different text


def test_store_holds_one_assigned_row_per_survivor(spark, ran):
    import os

    dirs, cents = ran
    store = spark.read.parquet(store_data_dir(dirs["sem"]))
    rows = store.collect()
    ids = sorted(r.doc_id for r in rows)
    assert ids == [0, 1, 2, 11]
    assert all(r.ivf_cell is not None for r in rows)
    assert all(len(r.embedding) == DIM for r in rows)
    # the ANN store format: cell-partitioned, with the stream's
    # centroids recorded as the store's generation
    assert all(
        e.startswith("ivf_cell=")
        for e in os.listdir(store_data_dir(dirs["sem"]))
        if not e.startswith(("_", "."))
    )
    assert read_ann_centroids(dirs["sem"]) == cents


def test_missing_centroids_fails_loudly(spark, tmp_path):
    flat = str(tmp_path / "flat2")
    _drop(_docs(spark, BATCH0), flat, "000", time.time() - 3600)
    dirs = {
        n: str(tmp_path / f"{n}2")
        for n in ("corpus", "fps", "sigs", "ckpt", "sem")
    }
    # refused when the stream is built, before any batch runs
    with pytest.raises(ValueError, match="semdedup_centroids"):
        curate_document_stream(
            _read_stream(spark, flat),
            dirs["corpus"], dirs["fps"], dirs["sigs"], dirs["ckpt"],
            semdedup_store_dir=dirs["sem"],
            semdedup_centroids=None,
        )


def test_legacy_flat_store_is_refused_before_corruption(spark, tmp_path):
    """r14 ADVICE: a FLAT store must be refused with the compact_store
    upgrade hint BEFORE the partitioned append writes hive dirs next to
    the flat files — the corrupting write used to succeed and surface
    later in an unrelated-looking read.  The refused append records no
    centroid generation either."""
    import os

    flat = str(tmp_path / "flat_legacy")
    _drop(_docs(spark, BATCH0), flat, "000", time.time() - 3600)
    dirs = {
        n: str(tmp_path / f"{n}_legacy")
        for n in ("corpus", "fps", "sigs", "ckpt", "sem")
    }
    cents = [
        (k, [float(x) for x in RNG.normal(size=DIM)]) for k in range(2)
    ]
    # seed the store in the legacy FLAT layout (no partitionBy)
    build_ann_store(
        _docs(spark, [(99, "seed doc", V[7])]).select("doc_id", "embedding"),
        cents,
        "doc_id",
        "embedding",
    ).write.mode("append").parquet(dirs["sem"])
    q = curate_document_stream(
        _read_stream(spark, flat),
        dirs["corpus"], dirs["fps"], dirs["sigs"], dirs["ckpt"],
        semdedup_store_dir=dirs["sem"],
        semdedup_centroids=cents,
        semdedup_eps=0.99,
    )
    with pytest.raises(Exception, match="compact_store"):
        q.awaitTermination(180)
        q.processAllAvailable()
    q.stop()
    # the guard fired BEFORE the write: no hive dirs and no generation
    # sidecar landed in the tree
    assert not [
        e
        for e in os.listdir(dirs["sem"])
        if e.startswith("ivf_cell=") or e == "_CENTROIDS.json"
    ]
    # and the flat store still reads
    assert spark.read.parquet(dirs["sem"]).count() == 1


def test_double_embeddings_and_store_schema_round_trip(spark, tmp_path):
    """r8 review: the semdedup store read-back schema must derive from
    the LIVE batch schema — ``array<double>`` embeddings (the natural
    type from Python floats) previously hit a hardcoded ``array<float>``
    read schema and failed every batch after the first."""
    schema_d = SCHEMA.replace("array<float>", "array<double>")
    flat = str(tmp_path / "flat_d")
    base_t = time.time() - 3600

    def docs_d(rows):
        return spark.createDataFrame(
            [(i, "drop", "en", t, [float(x) for x in v]) for i, t, v in rows],
            schema_d,
        )

    _drop(docs_d(BATCH0), flat, "000", base_t)
    _drop(docs_d(BATCH1), flat, "001", base_t + 600)
    dirs = {
        n: str(tmp_path / f"{n}_d")
        for n in ("corpus", "fps", "sigs", "ckpt", "sem")
    }
    cents = [
        (k, [float(x) for x in RNG.normal(size=DIM)]) for k in range(2)
    ]
    q = curate_document_stream(
        (
            spark.readStream.schema(schema_d)
            .option("maxFilesPerTrigger", 1)
            .parquet(flat)
        ),
        dirs["corpus"], dirs["fps"], dirs["sigs"], dirs["ckpt"],
        semdedup_store_dir=dirs["sem"],
        semdedup_centroids=cents,
        semdedup_eps=0.99,
    )
    assert q.awaitTermination(180)
    ids = {
        r.doc_id
        for r in spark.read.parquet(store_data_dir(dirs["corpus"])).collect()
    }
    assert ids == {0, 1, 2, 11}  # doc 10 still dies at the semantic stage
    # the store round-trips the live batch's types through the ANN
    # store's own reader
    stored = load_ann_store(spark, dirs["sem"], id_col="doc_id")
    assert stored.schema["embedding"].dataType.simpleString() == (
        "array<double>"
    )
    assert sorted(r.doc_id for r in stored.collect()) == [0, 1, 2, 11]
