"""Streaming × classifier parity (r8 verdict task 6): the hashed-linear
quality gate applied per micro-batch by curate_document_stream must
keep/reject exactly the documents the batch pipeline's rounded-score
``quality_prob >= threshold`` predicate does, and rejected documents
must never reach the corpus or any dedup store."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from jurimetria_etl_spark.operators.classify import linear_quality_score
from jurimetria_etl_spark.storefs import store_data_dir
from jurimetria_etl_spark.streaming.curation import (
    curate_document_stream,
    read_documents_stream,
)
from tests.conftest import stage_drop as _drop

D = 16
WEIGHTS = [((i * 29) % 11 - 5) / 5.0 for i in range(D)]
BIAS = -0.05
THRESHOLD = 0.5


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, "drop", "en", t) for i, t in rows],
        "doc_id bigint, source string, lang string, text string",
    )


def test_stream_classifier_gate_matches_batch_predicate(spark, tmp_path):
    texts = [
        (0, "careful rigorous measurement of tree depth and physics"),
        (1, "win big casino bonus click now free spins jackpot prize"),
        (2, "students learn algebra geometry and mathematical logic"),
        (3, "cheap pills discount offer buy now limited deal signup"),
        (4, "the theorem proof follows from induction on the graph"),
        (5, "hot singles nearby click free signup bonus offer deal"),
    ]
    flat = str(tmp_path / "flat")
    base_t = time.time() - 3600
    _drop(_docs(spark, texts[:3]), flat, "000", base_t)
    _drop(_docs(spark, texts[3:]), flat, "001", base_t + 60)

    # the batch pipeline's predicate (plans/curation.py): rounded score
    batch_keep = {
        r["doc_id"]
        for r in _docs(spark, texts)
        .where(
            linear_quality_score("text", WEIGHTS, BIAS) >= F.lit(THRESHOLD)
        )
        .collect()
    }
    batch_reject = {i for i, _ in texts} - batch_keep
    # the fixture must exercise BOTH sides of the gate or the parity
    # claim is vacuous
    assert batch_keep and batch_reject

    corpus = str(tmp_path / "corpus")
    fps = str(tmp_path / "fps")
    q = curate_document_stream(
        read_documents_stream(spark, flat),
        corpus,
        fps,
        str(tmp_path / "sigs"),
        str(tmp_path / "ckpt"),
        classifier=(WEIGHTS, BIAS),
        classifier_threshold=THRESHOLD,
    )
    assert q.awaitTermination(120)

    landed = {
        r.doc_id
        for r in spark.read.parquet(store_data_dir(corpus)).collect()
    }
    assert landed == batch_keep
    # rejected docs must not poison the fingerprint store either: a
    # later batch containing the same text must still be REJECTED by
    # the gate (not silently deduped), and a kept doc's fingerprint is
    # present exactly once
    fp_rows = spark.read.parquet(store_data_dir(fps)).count()
    assert fp_rows == len(batch_keep)
