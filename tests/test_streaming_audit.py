"""Streaming curation audit log (curate_document_stream(audit_dir=…)):
one funnel row per micro-batch with the gate/dedup drop counts, appended
before the corpus append so at-least-once replays fold away under
load_curation_audit's per-batch max."""

from __future__ import annotations

import time

from jurimetria_etl_spark.storefs import store_data_dir
from jurimetria_etl_spark.streaming.curation import (
    _append_audit,
    curate_document_stream,
    load_curation_audit,
    read_documents_stream,
)
from tests.conftest import stage_drop as _drop

LEAK = "the quick brown fox jumps over the lazy dog every single day"
BATCH_0 = [
    (0, LEAK),  # contaminated
    (1, "completely original prose about distributed query engines"),
    (2, "another unrelated document describing parquet file layouts"),
]
BATCH_1 = [
    (3, "fresh clean text on shuffle partitioning and broadcast joins"),
    (1, "completely original prose about distributed query engines"),  # dup
]
BATCH_2 = [(4, LEAK)]  # empties entirely at the gate


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, "drop", "en", t) for i, t in rows],
        "doc_id bigint, source string, lang string, text string",
    )


def test_audit_rows_per_batch_and_replay_fold(spark, tmp_path):
    bench = spark.createDataFrame([(900, LEAK)], "doc_id bigint, text string")
    flat = str(tmp_path / "flat")
    base_t = time.time() - 3600
    _drop(_docs(spark, BATCH_0), flat, "000", base_t)
    _drop(_docs(spark, BATCH_1), flat, "001", base_t + 60)
    _drop(_docs(spark, BATCH_2), flat, "002", base_t + 120)

    corpus = str(tmp_path / "corpus")
    audit = str(tmp_path / "audit")
    q = curate_document_stream(
        read_documents_stream(spark, flat),
        corpus,
        str(tmp_path / "fps"),
        str(tmp_path / "sigs"),
        str(tmp_path / "ckpt"),
        benchmark=bench,
        decontam_ngram=5,
        audit_dir=audit,
    )
    assert q.awaitTermination(120)

    rows = {
        r["batch_id"]: r
        for r in load_curation_audit(spark, audit).collect()
    }
    assert set(rows) == {0, 1, 2}
    # batch 0: 3 in, 1 contaminated → 2 gated, all fresh, all kept
    assert tuple(rows[0])[1:] == (3, 2, 2, 2)
    # batch 1: 2 in, none contaminated, doc 1 dedups vs the store
    assert tuple(rows[1])[1:] == (2, 2, 1, 1)
    # batch 2: everything dies at the gate — the zeros row still lands
    assert tuple(rows[2])[1:] == (1, 0, 0, 0)
    # the audit's n_kept total is the corpus row count
    landed = spark.read.parquet(store_data_dir(corpus)).count()
    assert sum(r["n_kept"] for r in rows.values()) == landed

    # simulate the one divergent replay (a COMPLETED batch re-run: its
    # docs dedup away → strictly smaller counts): the max-fold discards it
    _append_audit(spark, audit, 0, 3, 2, 0, 0)
    refolded = {
        r["batch_id"]: tuple(r)[1:]
        for r in load_curation_audit(spark, audit).collect()
    }
    assert refolded[0] == (3, 2, 2, 2)


def test_audit_log_compacts_and_folds_after_maintenance(spark, tmp_path):
    """The audit log is an ordinary manifested store: per-batch 1-row
    appends accumulate small files, compact_store folds them into one
    generation, the replay max-fold still holds on the compacted data,
    and post-compaction appends land in the new generation (the
    store_data_dir re-resolution every other store relies on)."""
    from jurimetria_etl_spark.sinks.maintenance import compact_store

    audit = str(tmp_path / "audit")
    for b in range(5):
        _append_audit(spark, audit, b, 10 + b, 8 + b, 6 + b, 5 + b)
    _append_audit(spark, audit, 2, 12, 0, 0, 0)  # completed-batch replay

    before = {
        r["batch_id"]: tuple(r)[1:]
        for r in load_curation_audit(spark, audit).collect()
    }
    rep = compact_store(spark, audit)
    assert rep["verified"] and rep["files_after"] < rep["files_before"]
    after = {
        r["batch_id"]: tuple(r)[1:]
        for r in load_curation_audit(spark, audit).collect()
    }
    assert after == before and after[2] == (12, 10, 8, 7)
    # a post-compaction append resolves the NEW generation and is seen
    _append_audit(spark, audit, 9, 3, 3, 3, 3)
    assert load_curation_audit(spark, audit).where(
        "batch_id = 9"
    ).count() == 1
