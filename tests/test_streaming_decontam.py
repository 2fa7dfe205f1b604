"""Streaming × decontamination parity: the benchmark gate applied per
micro-batch by curate_document_stream must keep/reject exactly the
documents the batch pipeline's decontamination stage
(operators/decontaminate.py via plans/curation.py) does, rejected
documents must never seed the dedup stores (where their fingerprints
would shadow clean near-dups in later batches), and the persisted
benchmark store (build_benchmark_store) must be gate-equivalent to
shingling the benchmark frame live — with its shingle-width generation
contract enforced at load."""

from __future__ import annotations

import time

import pytest

from jurimetria_etl_spark.operators.decontaminate import (
    benchmark_shingle_set,
    build_benchmark_store,
    flag_contamination,
    load_benchmark_store,
    remove_contaminated,
)
from jurimetria_etl_spark.storefs import store_data_dir
from jurimetria_etl_spark.streaming.curation import (
    curate_document_stream,
    read_documents_stream,
)
from tests.conftest import cached_relations
from tests.conftest import stage_drop as _drop

# benchmark: two eval items
BENCH = [
    (900, "the quick brown fox jumps over the lazy dog every single day"),
    (901, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
]
# corpus drops: 0/3 copy benchmark text verbatim (contaminated); the
# rest are clean and mutually distinct
BATCH_0 = [
    (0, "the quick brown fox jumps over the lazy dog every single day"),
    (1, "completely original prose about distributed query engines"),
    (2, "another unrelated document describing parquet file layouts"),
]
BATCH_1 = [
    (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (4, "fresh clean text on shuffle partitioning and broadcast joins"),
]


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, "drop", "en", t) for i, t in rows],
        "doc_id bigint, source string, lang string, text string",
    )


def _bench(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in BENCH], "doc_id bigint, text string"
    )


def _run_stream(spark, tmp_path, sub, **kwargs):
    flat = str(tmp_path / f"flat_{sub}")
    base_t = time.time() - 3600
    _drop(_docs(spark, BATCH_0), flat, "000", base_t)
    _drop(_docs(spark, BATCH_1), flat, "001", base_t + 60)
    corpus = str(tmp_path / f"corpus_{sub}")
    fps = str(tmp_path / f"fps_{sub}")
    q = curate_document_stream(
        read_documents_stream(spark, flat),
        corpus,
        fps,
        str(tmp_path / f"sigs_{sub}"),
        str(tmp_path / f"ckpt_{sub}"),
        **kwargs,
    )
    assert q.awaitTermination(120)
    return corpus, fps


def test_stream_benchmark_gate_matches_batch(spark, tmp_path):
    all_rows = BATCH_0 + BATCH_1
    batch_keep = {
        r["doc_id"]
        for r in remove_contaminated(
            _docs(spark, all_rows), _bench(spark), n=5
        ).collect()
    }
    batch_reject = {i for i, _ in all_rows} - batch_keep
    # both sides of the gate must be exercised or the parity is vacuous
    assert batch_reject == {0, 3} and len(batch_keep) == 3

    corpus, fps = _run_stream(
        spark, tmp_path, "live", benchmark=_bench(spark), decontam_ngram=5
    )
    landed = {
        r.doc_id for r in spark.read.parquet(store_data_dir(corpus)).collect()
    }
    assert landed == batch_keep
    # rejected docs never seeded the fingerprint store
    assert spark.read.parquet(store_data_dir(fps)).count() == len(batch_keep)


def test_stream_benchmark_store_equals_live_frame(spark, tmp_path):
    """Gating against the persisted store ≡ shingling the benchmark
    frame per batch — and the store path needs no benchmark frame at
    all for the shingle axis."""
    store = str(tmp_path / "bench_store")
    meta = build_benchmark_store(_bench(spark), store, n=5)
    assert meta["n"] == 5 and meta["n_shingles"] > 0

    corpus, _ = _run_stream(
        spark, tmp_path, "store",
        benchmark_store_dir=store, decontam_ngram=5,
    )
    landed = {
        r.doc_id for r in spark.read.parquet(store_data_dir(corpus)).collect()
    }
    batch_keep = {
        r["doc_id"]
        for r in remove_contaminated(
            _docs(spark, BATCH_0 + BATCH_1), _bench(spark), n=5
        ).collect()
    }
    assert landed == batch_keep


def test_rejected_doc_cannot_shadow_clean_near_dup(spark, tmp_path):
    """The stage-order invariant the gate exists for: a contaminated doc
    C (batch 0) that is a MinHash near-dup of a clean doc D (batch 1)
    must not seed the signature store — with the gate, D lands; without
    it, C's stored signature would evict D and the corpus would hold
    NEITHER clean content."""
    c_text = "the quick brown fox jumps over the lazy dog every single day"
    # D: one word changed mid-sentence — 3-gram Jaccard vs C stays well
    # above the 0.7 near-dup threshold, while the 5-gram overlap RATIO
    # vs the benchmark falls under the 0.95 gate below
    d_text = "the quick brown fox leaps over the lazy dog every single day"
    flat = str(tmp_path / "flat_shadow")
    base_t = time.time() - 3600
    _drop(_docs(spark, [(10, c_text)]), flat, "000", base_t)
    _drop(_docs(spark, [(11, d_text)]), flat, "001", base_t + 60)
    corpus = str(tmp_path / "corpus_shadow")
    q = curate_document_stream(
        read_documents_stream(spark, flat),
        corpus,
        str(tmp_path / "fps_shadow"),
        str(tmp_path / "sigs_shadow"),
        str(tmp_path / "ckpt_shadow"),
        benchmark=_bench(spark),
        decontam_ngram=5,
        decontam_min_ratio=0.95,
    )
    assert q.awaitTermination(120)
    landed = {
        r.doc_id for r in spark.read.parquet(store_data_dir(corpus)).collect()
    }
    assert landed == {11}  # C gated out, D landed (not shadowed)


def test_stream_decontam_spans_drops_verbatim_leak(spark, tmp_path):
    """The span axis: a doc sharing an exact 40-char span with the
    benchmark is dropped even when the shingle-ratio gate passes it
    (min_ratio pinned above its overlap), using the store's persisted
    span fingerprints + the benchmark frame for span verification.
    The per-batch span gate leaves no cached relation behind."""
    leak = BENCH[0][1][:40]  # verbatim 40-char prefix of an eval item
    rows0 = [(20, leak + " then entirely different continuation text here")]
    rows1 = [(21, "totally clean document with zero benchmark overlap")]
    flat = str(tmp_path / "flat_spans")
    base_t = time.time() - 3600
    _drop(_docs(spark, rows0), flat, "000", base_t)
    _drop(_docs(spark, rows1), flat, "001", base_t + 60)

    store = str(tmp_path / "bench_store_spans")
    meta = build_benchmark_store(
        _bench(spark), store, n=5, spans=True, span_len=40, span_k=8
    )
    assert meta["spans"] is True

    corpus = str(tmp_path / "corpus_spans")
    before = cached_relations(spark)
    q = curate_document_stream(
        read_documents_stream(spark, flat),
        corpus,
        str(tmp_path / "fps_spans"),
        str(tmp_path / "sigs_spans"),
        str(tmp_path / "ckpt_spans"),
        benchmark=_bench(spark),
        benchmark_store_dir=store,
        decontam_ngram=5,
        decontam_min_ratio=0.99,  # shingle gate passes doc 20 …
        decontam_spans=True,      # … the span gate must still drop it
        span_len=40,
        span_k=8,
    )
    assert q.awaitTermination(120)
    assert cached_relations(spark) - before == set()
    landed = {
        r.doc_id for r in spark.read.parquet(store_data_dir(corpus)).collect()
    }
    assert landed == {21}


def test_benchmark_store_generation_guard(spark, tmp_path):
    store = str(tmp_path / "bench_guard")
    build_benchmark_store(_bench(spark), store, n=5)
    # wrong shingle width is a different probe set
    with pytest.raises(ValueError, match="n=5"):
        load_benchmark_store(spark, store, n=7)
    # span axis requested from a shingle-only store
    with pytest.raises(ValueError, match="span"):
        load_benchmark_store(spark, store, span_len=40)
    # matching parameters load fine; None accepts the stored contract
    bs = load_benchmark_store(spark, store, n=5)
    assert bs.span_fps is None and bs.meta["n"] == 5
    # spans=True stores verify span geometry too
    store2 = str(tmp_path / "bench_guard_spans")
    build_benchmark_store(
        _bench(spark), store2, n=5, spans=True, span_len=40, span_k=8
    )
    with pytest.raises(ValueError, match="span_len"):
        load_benchmark_store(spark, store2, span_len=50)


def test_bench_set_short_circuit_is_gate_identical(spark):
    """flag_contamination(bench_set=…) ≡ computing the set from the raw
    benchmark — the short-circuit must be output-invisible."""
    docs = _docs(spark, BATCH_0 + BATCH_1)
    live = flag_contamination(docs, _bench(spark), n=5)
    precomputed = flag_contamination(
        docs, None, n=5,
        bench_set=benchmark_shingle_set(_bench(spark), "text", 5),
    )
    canon = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    assert canon(live) == canon(precomputed)
    with pytest.raises(ValueError, match="bench or bench_set"):
        flag_contamination(docs, None, n=5)
