"""Maintenance × streaming integration: compacting the corpus and the
incremental-dedup stores BETWEEN micro-batch runs must not change what
the pipeline subsequently deduplicates — the stores' content is the
contract, their file layout is not."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from jurimetria_etl_spark.sinks.maintenance import compact_parquet
from jurimetria_etl_spark.storefs import dir_stats
from jurimetria_etl_spark.sources.fixtures import load_fixture
from jurimetria_etl_spark.streaming.curation import (
    curate_document_stream,
    read_documents_stream,
)
from tests.conftest import stage_drop as _drop

SF = "/root/testdata/sf0.001"


def test_compaction_between_stream_runs_preserves_dedup(spark, tmp_path):
    docs = load_fixture(spark, SF, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    flat = str(tmp_path / "flat")
    base_t = time.time() - 3600
    # batch 0: even ids
    _drop(docs.where(F.col("doc_id") % 2 == 0), flat, "000", base_t)

    corpus = str(tmp_path / "corpus")
    fps = str(tmp_path / "fps")
    sigs = str(tmp_path / "sigs")
    ckpt = str(tmp_path / "ckpt")
    q = curate_document_stream(
        read_documents_stream(spark, flat), corpus, fps, sigs, ckpt
    )
    assert q.awaitTermination(120), "stream did not drain before compaction"
    ids_after_b0 = {
        r.doc_id for r in spark.read.parquet(corpus).select("doc_id").collect()
    }

    # maintenance window: compact every store + the corpus
    for path in (corpus, fps, sigs):
        _n, total = dir_stats(path)
        compact_parquet(spark, path, target_file_bytes=max(total, 1))

    # batch 1 INCLUDES every batch-0 document again (exact re-drop) plus
    # the odd ids: if compaction corrupted/lost store content, the re-drops
    # would survive dedup and duplicate the corpus
    _drop(docs, flat, "001", base_t + 600)
    q2 = curate_document_stream(
        read_documents_stream(spark, flat), corpus, fps, sigs, ckpt
    )
    assert q2.awaitTermination(120), "second stream run did not drain"

    final = spark.read.parquet(corpus).select("doc_id").collect()
    final_ids = {r.doc_id for r in final}
    # every batch-0 survivor still there, no duplicate rows of them
    assert ids_after_b0 <= final_ids
    assert len(final) == len(final_ids), "compaction let re-drops past dedup"
    # the odd-id batch went through dedup normally (some survivors exist)
    assert any(i % 2 == 1 for i in final_ids)
    # store invariants: one fingerprint per corpus doc, one signature set
    assert spark.read.parquet(fps).count() == len(final_ids)
    assert spark.read.parquet(sigs).select("doc_id").distinct().count() == len(
        final_ids
    )

def test_manifested_compaction_between_stream_runs(spark, tmp_path):
    """Same contract through the MANIFESTED path: compact_store upgrades
    the live stores to the atomic-swap layout between runs; the stream's
    per-batch store_data_dir resolution must pick up the new versions,
    keep deduplicating correctly, and land appends in the current
    version.  Prune afterwards reclaims the legacy generation without
    touching the appended state."""
    from jurimetria_etl_spark.sinks.maintenance import compact_store
    from jurimetria_etl_spark.storefs import store_data_dir, store_prune

    docs = load_fixture(spark, SF, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    flat = str(tmp_path / "flat")
    base_t = time.time() - 3600
    _drop(docs.where(F.col("doc_id") % 2 == 0), flat, "000", base_t)

    corpus = str(tmp_path / "corpus")
    fps = str(tmp_path / "fps")
    sigs = str(tmp_path / "sigs")
    ckpt = str(tmp_path / "ckpt")
    q = curate_document_stream(
        read_documents_stream(spark, flat), corpus, fps, sigs, ckpt
    )
    assert q.awaitTermination(120)
    ids_after_b0 = {
        r.doc_id
        for r in spark.read.parquet(store_data_dir(corpus)).select("doc_id").collect()
    }

    # maintenance window: atomic-swap compaction of all three stores
    # (min_files_to_compact=1 so even a one-file store upgrades to the
    # manifested layout — this test is about the swap, not the sizing)
    for path in (corpus, fps, sigs):
        report = compact_store(
            spark, path, target_file_bytes=1 << 30, min_files_to_compact=1
        )
        assert report["verified"] is True
        assert store_data_dir(path) != path  # manifested now

    _drop(docs, flat, "001", base_t + 600)
    q2 = curate_document_stream(
        read_documents_stream(spark, flat), corpus, fps, sigs, ckpt
    )
    assert q2.awaitTermination(120)

    final = spark.read.parquet(store_data_dir(corpus)).select("doc_id").collect()
    final_ids = {r.doc_id for r in final}
    assert ids_after_b0 <= final_ids
    assert len(final) == len(final_ids), "manifested swap let re-drops past dedup"
    assert any(i % 2 == 1 for i in final_ids)
    assert spark.read.parquet(store_data_dir(fps)).count() == len(final_ids)

    # grace over: prune legacy roots; state (incl. post-upgrade appends)
    # must be byte-for-byte what the stream left
    for path in (corpus, fps, sigs):
        store_prune(path)
    assert {
        r.doc_id
        for r in spark.read.parquet(store_data_dir(corpus)).select("doc_id").collect()
    } == final_ids
