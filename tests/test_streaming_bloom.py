"""Streaming × Bloom integration: curate_document_stream with a
bloom_store_dir must produce a corpus IDENTICAL to the plain run (the
prefilter is a plan optimization, never a semantics change), keep the
folded filter a SUPERSET of the fingerprint store (the ordering
invariant that makes crash-retry safe), and fold retried delta appends
idempotently."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from jurimetria_etl_spark.operators.bloom import (
    bloom_fold_words,
    bloom_from_words,
    bloom_might_contain,
)
from jurimetria_etl_spark.storefs import store_data_dir
from jurimetria_etl_spark.streaming.curation import (
    curate_document_stream,
    read_documents_stream,
)
from tests.conftest import stage_drop as _drop


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, "drop", "en", t) for i, t in rows],
        "doc_id bigint, source string, lang string, text string",
    )


BATCH0 = [
    (0, "the quick brown fox jumps over the lazy dog tonight"),
    (1, "pack my box with five dozen assorted liquor jugs now"),
    (2, "the quick brown fox jumps over the lazy dog tonight"),  # in-batch dup
]
BATCH1 = [
    (10, "pack my box with five dozen assorted liquor jugs now"),  # store dup
    (11, "sphinx of black quartz judge my vow this very evening"),
    (12, "a wholly different document that only this batch carries"),
]


def _run(spark, tmp_path, tag: str, with_bloom: bool):
    flat = str(tmp_path / f"flat_{tag}")
    base_t = time.time() - 3600
    _drop(_docs(spark, BATCH0), flat, "000", base_t)
    _drop(_docs(spark, BATCH1), flat, "001", base_t + 600)
    dirs = {
        n: str(tmp_path / f"{n}_{tag}")
        for n in ("corpus", "fps", "sigs", "ckpt", "bloom")
    }
    q = curate_document_stream(
        read_documents_stream(spark, flat),
        dirs["corpus"], dirs["fps"], dirs["sigs"], dirs["ckpt"],
        bloom_store_dir=dirs["bloom"] if with_bloom else None,
        bloom_capacity=10_000,
    )
    assert q.awaitTermination(180)
    return dirs


def test_bloom_run_matches_plain_run_and_is_superset(spark, tmp_path):
    plain = _run(spark, tmp_path, "plain", with_bloom=False)
    bloomed = _run(spark, tmp_path, "bloom", with_bloom=True)

    want = {
        (r.doc_id, r.text)
        for r in spark.read.parquet(store_data_dir(plain["corpus"])).collect()
    }
    got = {
        (r.doc_id, r.text)
        for r in spark.read.parquet(
            store_data_dir(bloomed["corpus"])
        ).collect()
    }
    # dedup keeps one arbitrary row per fingerprint group — compare the
    # surviving TEXT set (content-identical duplicates share text here)
    assert {t for _, t in got} == {t for _, t in want}
    # the duplicate texts were dropped: 4 distinct contents survive
    assert len({t for _, t in got}) == 4

    # superset invariant: every store fingerprint is Bloom-positive
    fp_store = spark.read.parquet(store_data_dir(bloomed["fps"]))
    words = spark.read.parquet(store_data_dir(bloomed["bloom"]))
    bl = bloom_from_words(bloom_fold_words(words))
    misses = (
        bloom_might_contain(fp_store, "fp", bl)
        .where(~F.col("might_contain"))
        .count()
    )
    assert misses == 0


def test_delta_log_fold_is_retry_idempotent(spark, tmp_path):
    bloomed = _run(spark, tmp_path, "retry", with_bloom=True)
    path = store_data_dir(bloomed["bloom"])
    words = spark.read.parquet(path)
    folded_once = sorted(
        map(tuple, bloom_fold_words(words).collect())
    )
    # simulate an at-least-once retry: re-append the ENTIRE log, fold again
    words.write.mode("append").parquet(path)
    refolded = sorted(
        map(tuple, bloom_fold_words(spark.read.parquet(path)).collect())
    )
    assert refolded == folded_once


def test_capacity_above_dense_ceiling_falls_back_to_join_probe(
    spark, tmp_path
):
    """r8 review: a ``bloom_capacity`` whose geometry exceeds the dense
    bitset ceiling (2^27 bits) must flip ``bloom_might_contain`` to the
    join probe — the stream passes ``id_col`` through, so mode='auto'
    degrades instead of raising on every batch after the first."""
    from jurimetria_etl_spark.operators.bloom import DENSE_MAX_BITS

    flat = str(tmp_path / "flat_big")
    base_t = time.time() - 3600
    _drop(_docs(spark, BATCH0), flat, "000", base_t)
    _drop(_docs(spark, BATCH1), flat, "001", base_t + 600)
    dirs = {
        n: str(tmp_path / f"{n}_big")
        for n in ("corpus", "fps", "sigs", "ckpt", "bloom")
    }
    q = curate_document_stream(
        read_documents_stream(spark, flat),
        dirs["corpus"], dirs["fps"], dirs["sigs"], dirs["ckpt"],
        bloom_store_dir=dirs["bloom"],
        bloom_capacity=15_000_000,  # ~144M bits: above the dense ceiling
    )
    assert q.awaitTermination(240)
    # the provisioned geometry really is past the ceiling (the test's
    # premise), and dedup semantics match the small-capacity runs
    geom = (
        spark.read.parquet(store_data_dir(dirs["bloom"]))
        .select("n_bits").first()
    )
    assert geom["n_bits"] > DENSE_MAX_BITS
    texts = {
        r.text
        for r in spark.read.parquet(
            store_data_dir(dirs["corpus"])
        ).collect()
    }
    assert len(texts) == 4


def test_bloom_enabled_on_existing_fp_history_backfills(spark, tmp_path):
    """r8 review: turning bloom_store_dir ON for a stream that already
    has fp history must seed the filter from the existing store (the
    superset invariant) — a filter covering only new batches would pass
    old duplicates as 'definitely fresh' and corrupt exact dedup."""
    flat = str(tmp_path / "flat_late")
    base_t = time.time() - 3600
    _drop(_docs(spark, BATCH0), flat, "000", base_t)
    dirs = {
        n: str(tmp_path / f"{n}_late")
        for n in ("corpus", "fps", "sigs", "ckpt", "ckpt2", "bloom")
    }
    # phase 1: no bloom — fp history accumulates
    q = curate_document_stream(
        read_documents_stream(spark, flat),
        dirs["corpus"], dirs["fps"], dirs["sigs"], dirs["ckpt"],
    )
    assert q.awaitTermination(180)

    # phase 2: bloom enabled; BATCH1 contains a duplicate of phase-1 doc 1
    _drop(_docs(spark, BATCH1), flat, "001", base_t + 600)
    q2 = curate_document_stream(
        read_documents_stream(spark, flat),
        dirs["corpus"], dirs["fps"], dirs["sigs"], dirs["ckpt2"],
        bloom_store_dir=dirs["bloom"],
        bloom_capacity=10_000,
    )
    assert q2.awaitTermination(180)

    texts = {
        r.text
        for r in spark.read.parquet(store_data_dir(dirs["corpus"])).collect()
    }
    assert len(texts) == 4  # doc 10 (dup of phase-1 doc 1) was dropped

    # and the backfilled filter covers the PHASE-1 fingerprints
    fp_store = spark.read.parquet(store_data_dir(dirs["fps"]))
    bl = bloom_from_words(
        bloom_fold_words(
            spark.read.parquet(store_data_dir(dirs["bloom"]))
        )
    )
    misses = (
        bloom_might_contain(fp_store, "fp", bl)
        .where(~F.col("might_contain"))
        .count()
    )
    assert misses == 0
