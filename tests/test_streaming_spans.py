"""Streaming × spans integration: the optional winnowed span-fingerprint
store maintained by curate_document_stream must equal a from-scratch
winnow of the curated corpus (incremental ≡ batch), and serve
duplicate_spans_against for cross-batch leak detection without
re-winnowing history."""

from __future__ import annotations

import time

from jurimetria_etl_spark.operators.spans import (
    duplicate_spans_against,
    winnowed_fingerprints,
)
from jurimetria_etl_spark.storefs import store_data_dir
from jurimetria_etl_spark.streaming.curation import (
    curate_document_stream,
    read_documents_stream,
)
from tests.conftest import stage_drop as _drop

LEAK = "All rights reserved under the MIT license terms."  # 48 chars


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, "drop", "en", t) for i, t in rows],
        "doc_id bigint, source string, lang string, text string",
    )


def test_span_store_incremental_equals_batch(spark, tmp_path):
    flat = str(tmp_path / "flat")
    base_t = time.time() - 3600
    batch0 = [
        (0, "first document with plain original prose inside it and " + LEAK),
        (1, "second document, entirely unrelated words all the way down."),
    ]
    batch1 = [
        (10, "later arrival quoting the notice: " + LEAK + " plus extras."),
        (11, "another later doc with its own fresh content only here."),
    ]
    _drop(_docs(spark, batch0), flat, "000", base_t)

    corpus = str(tmp_path / "corpus")
    fps = str(tmp_path / "fps")
    sigs = str(tmp_path / "sigs")
    ckpt = str(tmp_path / "ckpt")
    spans_store = str(tmp_path / "span_fps")

    q = curate_document_stream(
        read_documents_stream(spark, flat), corpus, fps, sigs, ckpt,
        span_fp_store_dir=spans_store,
    )
    assert q.awaitTermination(120)

    # cross-batch detection BEFORE ingesting batch1: new batch vs the
    # ingested corpus via the persisted store — no re-winnow of history
    store = spark.read.parquet(store_data_dir(spans_store))
    corpus_df = spark.read.parquet(store_data_dir(corpus))
    hits = duplicate_spans_against(
        _docs(spark, batch1).select("doc_id", "text"),
        corpus_df.select("doc_id", "text"),
        span_len=40,
        k=8,
        right_fps=store,
    )
    pairs = {(r.left_id, r.right_id) for r in hits.collect()}
    assert pairs == {(10, 0)}  # the planted leak, nothing else

    # ingest batch1; the accumulated store must equal a from-scratch
    # winnow of the final corpus (incremental ≡ batch)
    _drop(_docs(spark, batch1), flat, "001", base_t + 600)
    q2 = curate_document_stream(
        read_documents_stream(spark, flat), corpus, fps, sigs, ckpt,
        span_fp_store_dir=spans_store,
    )
    assert q2.awaitTermination(120)
    got = {
        (r.doc_id, r.fp)
        for r in spark.read.parquet(store_data_dir(spans_store)).collect()
    }
    want = {
        (r.doc_id, r.fp)
        for r in winnowed_fingerprints(
            spark.read.parquet(store_data_dir(corpus)), 40, 8
        ).collect()
    }
    assert got == want


def test_stream_strip_spans_dedups_across_boilerplate(spark, tmp_path):
    """A static strip-list applied per micro-batch: the landed corpus is
    stripped, and two documents differing ONLY in boilerplate become
    exact duplicates — the later one is dropped by the incremental
    dedup, which fingerprints the STRIPPED text."""
    import pyspark.sql.functions as F

    banner = "SPONSORED CONTENT - CLICK HERE TO LEARN MOR"[:40]
    assert len(banner) == 40
    prose = "a perfectly ordinary body of text that appears twice."
    flat = str(tmp_path / "flat")
    base_t = time.time() - 3600
    _drop(_docs(spark, [(0, prose + " " + banner)]), flat, "000", base_t)
    _drop(_docs(spark, [(1, prose + " "), (2, "a different doc. " + banner)]),
          flat, "001", base_t + 60)

    strip = spark.createDataFrame([(banner,)], "span string")
    q = curate_document_stream(
        read_documents_stream(spark, str(tmp_path / "flat")),
        str(tmp_path / "corpus"),
        str(tmp_path / "fps"),
        str(tmp_path / "sigs"),
        str(tmp_path / "ckpt"),
        strip_spans=strip,
    )
    assert q.awaitTermination(120)

    landed = spark.read.parquet(store_data_dir(str(tmp_path / "corpus")))
    rows = {r.doc_id: r.text for r in landed.collect()}
    # banner never lands; doc 1 (prose-only twin of stripped doc 0) was
    # dropped as an exact duplicate of doc 0's stripped text
    assert all(banner not in t for t in rows.values())
    assert set(rows) == {0, 2}
    assert rows[0] == prose + " "


def test_stream_strip_lines_dedups_across_line_boilerplate(spark, tmp_path):
    """r7 verdict task 5 — streaming line-strip parity: a static
    duplicate-LINE strip-list applied per micro-batch (before the span
    strip, matching curate_corpus' order) makes two documents differing
    only in a boilerplate line exact duplicates across batches; the
    later one is dropped by the incremental dedup."""
    nav = "Home | About | Products | Contact | Privacy"
    prose = "an ordinary body line that appears in two documents."
    flat = str(tmp_path / "flat")
    base_t = time.time() - 3600
    _drop(_docs(spark, [(0, nav + "\n" + prose)]), flat, "000", base_t)
    _drop(
        _docs(spark, [(1, prose), (2, nav + "\nfresh other content here.")]),
        flat,
        "001",
        base_t + 60,
    )

    strip = spark.createDataFrame([(nav,)], "line string")
    q = curate_document_stream(
        read_documents_stream(spark, flat),
        str(tmp_path / "corpus"),
        str(tmp_path / "fps"),
        str(tmp_path / "sigs"),
        str(tmp_path / "ckpt"),
        strip_lines=strip,
    )
    assert q.awaitTermination(120)

    landed = spark.read.parquet(store_data_dir(str(tmp_path / "corpus")))
    rows = {r.doc_id: r.text for r in landed.collect()}
    # the nav line never lands; doc 1 (the prose-only twin of stripped
    # doc 0) was dropped as an exact duplicate of doc 0's stripped text
    assert all(nav not in t for t in rows.values())
    assert set(rows) == {0, 2}
    assert rows[0] == prose
