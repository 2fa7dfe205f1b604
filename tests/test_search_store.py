"""Incremental BM25 index store (operators/search.py:append_text_index /
load_text_index): batched appends must equal a from-scratch index over
the union (incremental ≡ batch), replays must fold away (at-least-once
idempotence), compaction must be search-invisible, and the streaming
curation wiring must serve keyword search over the curated corpus."""

from __future__ import annotations

import time

from jurimetria_etl_spark.operators.search import (
    append_text_index,
    bm25_search,
    build_text_index,
    load_text_index,
)
from jurimetria_etl_spark.sinks.maintenance import compact_store
from jurimetria_etl_spark.streaming.curation import (
    curate_document_stream,
    read_documents_stream,
)
from tests.conftest import stage_drop as _drop

BATCH0 = [
    (0, "spark shuffles data between stages a shuffle is a boundary"),
    (1, "the join strategy broadcasts the small side to every executor"),
]
BATCH1 = [
    (10, "sort merge join shuffles both sides by the join keys"),
    (11, "caching data avoids recomputing the shuffle twice"),
]
QUERIES = [(100, "spark shuffle"), (200, "join keys")]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _q(spark):
    return spark.createDataFrame(QUERIES, "query_id int, query_text string")


def _search_rows(spark, index):
    return sorted(map(tuple, bm25_search(index, _q(spark), k=10).collect()))


def test_incremental_index_equals_batch(spark, tmp_path):
    idx_dir = str(tmp_path / "tindex")
    append_text_index(_docs(spark, BATCH0), idx_dir)
    append_text_index(_docs(spark, BATCH1), idx_dir)
    inc = _search_rows(spark, load_text_index(spark, idx_dir))
    batch = _search_rows(
        spark, build_text_index(_docs(spark, BATCH0 + BATCH1))
    )
    assert inc == batch and inc  # non-vacuous


def test_replayed_append_is_idempotent(spark, tmp_path):
    idx_dir = str(tmp_path / "tindex")
    append_text_index(_docs(spark, BATCH0), idx_dir)
    before = _search_rows(spark, load_text_index(spark, idx_dir))
    append_text_index(_docs(spark, BATCH0), idx_dir)  # the retry
    after = _search_rows(spark, load_text_index(spark, idx_dir))
    assert after == before
    # the fold also keeps the stats exact: n_docs counts documents, not
    # appended rows
    st = load_text_index(spark, idx_dir).stats.first()
    assert st["n_docs"] == len(BATCH0)


def test_strict_stats_excludes_orphaned_doc_lens(spark, tmp_path):
    """r9 ADVICE: a crash between append_text_index's two writes leaves
    doc_lens rows with no postings.  On a SIDECAR store (r16) the
    default load serves stats from the per-batch counters — the orphan
    window's half-written batch has no stats row yet, so loose stats
    stay at the last complete batch; on a LEGACY store (no sidecars)
    the orphans inflate n_docs/avgdl until the replay lands
    (documented).  strict_stats=True derives stats from
    postings-backed docs only in both worlds."""
    import shutil

    from jurimetria_etl_spark.storefs import store_data_dir

    idx_dir = str(tmp_path / "tindex")
    append_text_index(_docs(spark, BATCH0), idx_dir)
    # simulate the crash window: doc_lens landed for BATCH1, postings
    # (and the sidecar's stats row) did not (doc_lens writes first)
    build_text_index(_docs(spark, BATCH1)).doc_lens.write.mode(
        "append"
    ).parquet(store_data_dir(f"{idx_dir}/doc_lens"))
    loose = load_text_index(spark, idx_dir).stats.first()
    strict = load_text_index(spark, idx_dir, strict_stats=True).stats.first()
    # sidecar store: the orphans are invisible to the counters
    assert loose["n_docs"] == len(BATCH0)
    assert strict["n_docs"] == len(BATCH0)
    clean = build_text_index(_docs(spark, BATCH0)).stats.first()
    assert abs(strict["avgdl"] - clean["avgdl"]) < 1e-9
    # legacy store (pre-sidecar layout): the documented inflation window
    shutil.rmtree(f"{idx_dir}/stats")
    shutil.rmtree(f"{idx_dir}/term_df")
    loose_legacy = load_text_index(spark, idx_dir).stats.first()
    assert loose_legacy["n_docs"] == len(BATCH0) + len(BATCH1)  # inflated
    strict_legacy = load_text_index(
        spark, idx_dir, strict_stats=True
    ).stats.first()
    assert strict_legacy["n_docs"] == len(BATCH0)
    # on a healthy store the semi-join is the identity
    append_text_index(_docs(spark, BATCH1), idx_dir)  # the replay lands
    healed = load_text_index(spark, idx_dir, strict_stats=True).stats.first()
    assert healed["n_docs"] == len(BATCH0) + len(BATCH1)
    # a legacy store never grows sidecars mid-life (a partial sidecar
    # would silently undercount) — the replay above must not have
    # started one
    import os

    assert not os.path.isdir(f"{idx_dir}/stats")
    assert not os.path.isdir(f"{idx_dir}/term_df")
    assert load_text_index(spark, idx_dir).n_docs is None


def test_compaction_is_search_invisible(spark, tmp_path):
    idx_dir = str(tmp_path / "tindex")
    append_text_index(_docs(spark, BATCH0), idx_dir)
    append_text_index(_docs(spark, BATCH1), idx_dir)
    before = _search_rows(spark, load_text_index(spark, idx_dir))
    for sub in ("postings", "doc_lens"):
        rep = compact_store(spark, f"{idx_dir}/{sub}")
        assert rep.get("verified", rep["skipped"])  # compacted or no-op
    assert _search_rows(spark, load_text_index(spark, idx_dir)) == before


def test_max_df_ratio_applies_at_load(spark, tmp_path):
    idx_dir = str(tmp_path / "tindex")
    append_text_index(_docs(spark, BATCH0), idx_dir)
    append_text_index(_docs(spark, BATCH1), idx_dir)
    # "the" occurs in 2/4 docs; at 0.4 it must leave the loaded index
    idx = load_text_index(spark, idx_dir, max_df_ratio=0.4)
    terms = {r["term"] for r in idx.postings.select("term").collect()}
    assert "the" not in terms and "spark" in terms


def test_materialized_stop_list_replaces_full_vocab_aggregate(
    spark, tmp_path
):
    """r9 verdict task 6: after materialize_stop_list, loading at the
    SAME ratio anti-joins the published term list — the loaded postings
    plan no longer touches doc_lens (the full-vocabulary df + stats
    aggregate is gone) and the term set is identical to the load-time
    form.  A DIFFERENT requested ratio falls back to the load-time
    aggregate unchanged."""
    from jurimetria_etl_spark.operators.search import (
        materialize_stop_list,
    )

    idx_dir = str(tmp_path / "tindex")
    append_text_index(_docs(spark, BATCH0), idx_dir)
    append_text_index(_docs(spark, BATCH1), idx_dir)
    inline_terms = {
        r["term"]
        for r in load_text_index(spark, idx_dir, max_df_ratio=0.4)
        .postings.select("term")
        .collect()
    }
    rep = materialize_stop_list(spark, idx_dir, max_df_ratio=0.4)
    assert rep["n_stop_terms"] >= 1  # at least "the"
    mat = load_text_index(spark, idx_dir, max_df_ratio=0.4)
    mat_terms = {
        r["term"] for r in mat.postings.select("term").collect()
    }
    assert mat_terms == inline_terms and "the" not in mat_terms
    # the plan contract: the materialized postings plan is just the
    # replay fold (1 partial+final aggregate pair) plus the stop-list
    # anti-join — the full-vocabulary df aggregate AND the doc_lens
    # stats scan are gone (the load-time form plants 10 HashAggregates
    # over 3 scans; path strings are truncated in the printed plan, so
    # count nodes, not directory names)
    mat_plan = (
        mat.postings._jdf.queryExecution().executedPlan().toString()
    )
    assert mat_plan.count("HashAggregate") == 2
    assert mat_plan.count("FileScan") == 2  # postings + stop_list
    fallback = load_text_index(spark, idx_dir, max_df_ratio=0.3)
    fb_plan = (
        fallback.postings._jdf.queryExecution().executedPlan().toString()
    )
    # ratio mismatch -> load-time form: the full-vocab df aggregate
    # returns (r16: stats ride the sidecar as a literal one-row frame —
    # "Range" — so doc_lens is no longer scanned here)
    assert fb_plan.count("HashAggregate") > 2
    assert fb_plan.count("FileScan") == 2  # postings x2
    assert "Range" in fb_plan  # the sidecar's literal stats frame
    # search over the materialized-stop-list index still matches the
    # from-scratch build at the same ratio
    want = _search_rows(
        spark,
        build_text_index(_docs(spark, BATCH0 + BATCH1), max_df_ratio=0.4),
    )
    assert _search_rows(spark, mat) == want


def test_stop_list_refresh_after_appends(spark, tmp_path):
    """The staleness contract: the list is exact as of materialization;
    re-materializing in the next maintenance window restores the
    identity after appends shift the dfs."""
    from jurimetria_etl_spark.operators.search import (
        materialize_stop_list,
    )

    idx_dir = str(tmp_path / "tindex")
    append_text_index(_docs(spark, BATCH0), idx_dir)
    materialize_stop_list(spark, idx_dir, max_df_ratio=0.4)
    append_text_index(_docs(spark, BATCH1), idx_dir)
    materialize_stop_list(spark, idx_dir, max_df_ratio=0.4)  # refresh
    got = {
        r["term"]
        for r in load_text_index(spark, idx_dir, max_df_ratio=0.4)
        .postings.select("term")
        .collect()
    }
    want = {
        r["term"]
        for r in build_text_index(
            _docs(spark, BATCH0 + BATCH1), max_df_ratio=0.4
        ).postings.select("term")
        .collect()
    }
    assert got == want


def test_maintain_stores_refreshes_stop_list(spark, tmp_path):
    """r11 verdict task 4: the maintenance entry point enforces the
    stop-list staleness contract.  A term under the ratio at
    materialization time ("the": 1 of 2 docs at 0.6) is pushed over it
    by an append (3 of 4 docs); the stale list still serves it until
    ``maintain_stores`` — compacting the index subdirs — re-materializes
    at the recorded ratio, after which the load's anti-join (same
    2-scan plan shape) stops the term."""
    from jurimetria_etl_spark.operators.search import (
        materialize_stop_list,
    )
    from jurimetria_etl_spark.sinks.maintenance import maintain_stores

    idx_dir = str(tmp_path / "tindex")
    append_text_index(_docs(spark, BATCH0), idx_dir)
    materialize_stop_list(spark, idx_dir, max_df_ratio=0.6)
    append_text_index(_docs(spark, BATCH1), idx_dir)

    def terms_at(ratio=0.6):
        idx = load_text_index(spark, idx_dir, max_df_ratio=ratio)
        plan = idx.postings._jdf.queryExecution().executedPlan().toString()
        return (
            {r["term"] for r in idx.postings.select("term").collect()},
            plan,
        )

    stale, _ = terms_at()
    assert "the" in stale  # the STALE list still serves the pushed term
    reports = maintain_stores(
        spark,
        [f"{idx_dir}/doc_lens", f"{idx_dir}/postings"],
        min_files_to_compact=1,
    )
    refresh = reports[f"{idx_dir}/postings"]["stop_list"]
    assert refresh["max_df_ratio"] == 0.6
    fresh, plan = terms_at()
    assert "the" not in fresh and "spark" in fresh
    # still the materialized anti-join form, not the load-time fallback
    assert plan.count("FileScan") == 2  # postings + stop_list
    assert plan.count("HashAggregate") == 2
    # matches a from-scratch build at the same ratio
    want = {
        r["term"]
        for r in build_text_index(
            _docs(spark, BATCH0 + BATCH1), max_df_ratio=0.6
        ).postings.select("term")
        .collect()
    }
    assert fresh == want
    # doc_lens stores (no stop list) carry no refresh entry
    assert "stop_list" not in reports[f"{idx_dir}/doc_lens"]


def test_stop_list_strict_stats_is_part_of_identity(spark, tmp_path):
    """r11 ADVICE: a list materialized non-strict must not serve a
    strict load (different n_docs denominator) and vice versa — the
    mismatched flavor falls back to its own load-time aggregate."""
    from jurimetria_etl_spark.operators.search import (
        materialize_stop_list,
    )

    idx_dir = str(tmp_path / "tindex")
    append_text_index(_docs(spark, BATCH0), idx_dir)
    append_text_index(_docs(spark, BATCH1), idx_dir)
    materialize_stop_list(spark, idx_dir, max_df_ratio=0.4)  # non-strict
    strict = load_text_index(
        spark, idx_dir, max_df_ratio=0.4, strict_stats=True
    )
    plan = strict.postings._jdf.queryExecution().executedPlan().toString()
    # fallback form: the full-vocab df aggregate + stats scans return
    # (strict adds a 4th scan: the orphan-excluding semi-join)
    assert plan.count("FileScan") > 2
    rep = materialize_stop_list(
        spark, idx_dir, max_df_ratio=0.4, strict_stats=True
    )
    assert rep["strict_stats"] is True
    strict2 = load_text_index(
        spark, idx_dir, max_df_ratio=0.4, strict_stats=True
    )
    plan2 = strict2.postings._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("FileScan") == 2  # now served by the strict list
    # and the non-strict flavor now falls back instead of reusing it:
    # the full-vocab df aggregate returns (stats are the sidecar's
    # literal frame, so the fallback is 2 postings scans, not 3)
    loose = load_text_index(spark, idx_dir, max_df_ratio=0.4)
    plan3 = loose.postings._jdf.queryExecution().executedPlan().toString()
    assert plan3.count("HashAggregate") > 2
    assert plan3.count("FileScan") == 2


def test_sidecar_serves_stats_and_df_without_corpus_aggregates(
    spark, tmp_path
):
    """r16 statistics sidecars: a sidecar-born store resolves
    (n_docs, avgdl) to scalars at load (identical to the frame-derived
    values) and a search's executed plan derives per-term df from the
    term_df sidecar — no doc_lens stats scan, no stats broadcast
    attach (BNLJ), and no aggregation over the query terms' posting
    lists; scores are byte-identical to the legacy derive-at-load
    plan."""
    import shutil

    idx_dir = str(tmp_path / "tindex")
    append_text_index(_docs(spark, BATCH0), idx_dir)
    append_text_index(_docs(spark, BATCH1), idx_dir)
    idx = load_text_index(spark, idx_dir)
    frame_stats = build_text_index(
        _docs(spark, BATCH0 + BATCH1)
    ).stats.first()
    assert idx.n_docs == frame_stats["n_docs"]
    assert abs(idx.avgdl - frame_stats["avgdl"]) == 0.0  # same IEEE op
    assert idx.term_df is not None
    res = bm25_search(idx, _q(spark), k=10)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastNestedLoopJoin") == 0  # stats attach gone
    # scans: postings (match) + doc_lens (dl attach) + term_df (df) —
    # the stats branch's doc_lens scan and the df-over-postings scan
    # are gone
    assert plan.count("FileScan") == 3
    rows = sorted(map(tuple, res.collect()))
    # the legacy plan (sidecars absent) scores identically
    shutil.rmtree(f"{idx_dir}/stats")
    shutil.rmtree(f"{idx_dir}/term_df")
    legacy = load_text_index(spark, idx_dir)
    assert legacy.n_docs is None and legacy.term_df is None
    legacy_plan = (
        bm25_search(legacy, _q(spark), k=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert legacy_plan.count("FileScan") == 4  # the two scans return
    assert rows == _search_rows(spark, legacy) and rows


def test_stream_maintains_text_index(spark, tmp_path):
    """curate_document_stream(text_index_dir=): keyword search over the
    streamed corpus equals a from-scratch index of the landed corpus —
    and a document dropped by dedup is never indexed."""
    from jurimetria_etl_spark.storefs import store_data_dir

    rows0 = [(0, "unique alpha document about spark shuffles")]
    rows1 = [
        (1, "unique alpha document about spark shuffles"),  # exact dup
        (2, "novel beta document about broadcast joins"),
    ]
    flat = str(tmp_path / "flat")
    base_t = time.time() - 3600
    wide = lambda rs: spark.createDataFrame(
        [(i, "drop", "en", t) for i, t in rs],
        "doc_id bigint, source string, lang string, text string",
    )
    _drop(wide(rows0), flat, "000", base_t)
    _drop(wide(rows1), flat, "001", base_t + 60)
    idx_dir = str(tmp_path / "tindex")
    q = curate_document_stream(
        read_documents_stream(spark, flat),
        str(tmp_path / "corpus"),
        str(tmp_path / "fps"),
        str(tmp_path / "sigs"),
        str(tmp_path / "ckpt"),
        text_index_dir=idx_dir,
    )
    assert q.awaitTermination(120)
    idx = load_text_index(spark, idx_dir)
    indexed = {r["doc_id"] for r in idx.doc_lens.collect()}
    landed = {
        r["doc_id"]
        for r in spark.read.parquet(
            store_data_dir(str(tmp_path / "corpus"))
        ).collect()
    }
    assert indexed == landed == {0, 2}  # the dup was never indexed
    qdf = spark.createDataFrame(
        [(1, "broadcast joins")], "query_id int, query_text string"
    )
    top = bm25_search(idx, qdf, k=1).first()
    assert top["doc_id"] == 2


def test_hybrid_search_store_backed_lexical_parity(spark, tmp_path):
    """hybrid_search(text_index_dir=…): the lexical side reads the
    persisted postings store instead of re-tokenizing the corpus, and
    the fused output is IDENTICAL to the inline-index path — with
    ann_store_dir also set this is the fully store-backed retrieval
    service (both indexes persisted, docs=None)."""
    import numpy as np

    from jurimetria_etl_spark.operators.ann_store import append_ann_store
    from jurimetria_etl_spark.operators.search import hybrid_search

    docs = _docs(spark, BATCH0 + BATCH1)
    rng = np.random.default_rng(7)
    vecs = [
        (i, [float(x) for x in rng.normal(0, 1, 8)])
        for i, _ in BATCH0 + BATCH1
    ]
    embeds = spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>"
    )
    cents = [(j, v) for j, (_, v) in enumerate(vecs[:2])]
    tq = _q(spark)
    pq = [(qid, vecs[qid % len(vecs)][1]) for qid, _ in QUERIES]

    idx_dir = str(tmp_path / "text_index")
    append_text_index(docs, idx_dir)
    ann_dir = str(tmp_path / "ann_store")
    append_ann_store(embeds, ann_dir, cents)

    common = dict(
        k_each=3, topk=4, rrf_k=60,
        ann_store_dir=ann_dir, ann_centroids=cents, ann_n_probe=2,
        probe_schema="query_id int, probe array<double>",
    )
    inline = hybrid_search(docs, None, tq, pq, **common)
    stored = hybrid_search(
        None, None, tq, pq, text_index_dir=idx_dir, **common
    )
    assert sorted(map(tuple, inline.collect())) == sorted(
        map(tuple, stored.collect())
    )
    # the store-backed plan reads parquet stores (postings + doc_lens +
    # ann cells), never document text: docs=None proves no corpus
    # tokenization; the scans must all be parquet FileScans
    plan = stored._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") >= 3


def test_hybrid_store_backed_accent_folding_matches_index(spark, tmp_path):
    """An accent-folded persisted index must be queried with folded
    terms: hybrid_search(text_index_dir=…, text_index_fold_accents=True)
    folds the query side to match; without the flag an accented query
    term can never hit a folded posting (r13 review finding)."""
    from jurimetria_etl_spark.operators.search import hybrid_search

    docs = _docs(
        spark,
        [
            (0, "a decisão judicial sobre o processo foi publicada"),
            (1, "notas sobre particionamento e embaralhamento de dados"),
        ],
    )
    idx_dir = str(tmp_path / "folded_index")
    append_text_index(docs, idx_dir, fold_accents=True)
    embeds = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    tq = spark.createDataFrame(
        [(1, "decisão")], "query_id int, query_text string"
    )
    pq = [(1, [1.0, 0.0])]
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    from jurimetria_etl_spark.operators.ann_store import append_ann_store

    ann_dir = str(tmp_path / "folded_ann")
    append_ann_store(
        spark.createDataFrame(embeds, "vec_id long, embedding array<double>"),
        ann_dir,
        cents,
    )
    common = dict(
        k_each=2, topk=2,
        ann_store_dir=ann_dir, ann_centroids=cents, ann_n_probe=2,
        probe_schema="query_id int, probe array<double>",
        text_index_dir=idx_dir,
    )
    folded = hybrid_search(None, None, tq, pq,
                           text_index_fold_accents=True, **common)
    top = {r["doc_id"]: r["fused_rank"] for r in folded.collect()}
    assert top.get(0) == 1  # the lexical match ranks doc 0 first
    # the mismatched (unfolded-query) form demotes doc 0: its accented
    # terms miss the folded postings, so only the dense side ranks it
    unfolded = hybrid_search(None, None, tq, pq, **common)
    scores_f = {r["doc_id"]: r["rrf_score"] for r in folded.collect()}
    scores_u = {r["doc_id"]: r["rrf_score"] for r in unfolded.collect()}
    assert scores_f[0] > scores_u[0]


def test_store_backed_lexical_rejects_custom_columns(spark, tmp_path):
    """r13 ADVICE: the persisted text index fixed id/text columns at
    build time — hybrid_search(text_index_dir=…) with custom
    id_col/text_col must raise instead of silently returning the
    store's doc ids under the caller's naming."""
    import pytest as _pytest

    from jurimetria_etl_spark.operators.search import hybrid_search

    tq = spark.createDataFrame(
        [(0, "any query")], "query_id bigint, query string"
    )
    pq = spark.createDataFrame(
        [(0, [1.0, 0.0])], "query_id bigint, probe array<double>"
    )
    with _pytest.raises(ValueError, match="inline-path-only"):
        hybrid_search(
            None, None, tq, pq,
            id_col="case_id",
            text_index_dir=str(tmp_path / "tix"),
            ann_store_dir=str(tmp_path / "ann"),
        )
