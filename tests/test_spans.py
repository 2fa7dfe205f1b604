"""Cross-document duplicate-span detection (operators/spans.py): exact
parity with the brute-force L-gram self-join, the winnowing no-false-
negative guarantee, the stop-fingerprint cap contract, and the
boilerplate aggregation — on planted fixtures and the real documents
table (DuckDB oracle in test_deregistered_queries.py / registered x28).
"""

from __future__ import annotations

import pytest

from jurimetria_etl_spark.operators.spans import (
    boilerplate_spans,
    duplicate_spans,
    lgram_set,
    winnowed_fingerprints,
)
from tests.conftest import cached_relations


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


BOILER = "This material is licensed under CC-BY-4.0 terms."  # 48 chars


@pytest.fixture(scope="module")
def planted(spark):
    """Four docs: 0 and 1 share the planted 48-char boilerplate inside
    distinct prose; 2 shares nothing; 3 is too short to hold a span."""
    return _docs(
        spark,
        [
            (0, "alpha beta gamma. " + BOILER + " delta epsilon zeta."),
            (1, "one two three four five. " + BOILER + " six seven."),
            (2, "completely unrelated content with no repeats at all here."),
            (3, "tiny"),
        ],
    )


def _brute(spark, df, span_len):
    g = lgram_set(df, span_len)
    a = g.selectExpr("doc_id AS left_id", "span AS s1")
    b = g.selectExpr("doc_id AS right_id", "span AS s2")
    return (
        a.join(b, (a.s1 == b.s2) & (a.left_id < b.right_id))
        .selectExpr("left_id", "right_id", "s1 AS span")
        .collect()
    )


def test_duplicate_spans_matches_bruteforce_on_planted(spark, planted):
    got = duplicate_spans(planted, span_len=40, k=8).collect()
    want = _brute(spark, planted, 40)
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    pairs = {(r.left_id, r.right_id) for r in got}
    assert pairs == {(0, 1)}  # only the boilerplate-sharing pair
    # the shared region is '. ' + BOILER + ' ' = 51 chars → 51-40+1 spans
    assert len(got) == 12
    assert any(BOILER[:40] == r.span for r in got)


def test_duplicate_spans_matches_bruteforce_on_documents_table(spark):
    """Real word-salad corpus (dense with repeats): winnow-pruned result
    must equal the exact self-join, proving the candidate stage is
    lossless below the df cap."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = duplicate_spans(docs, span_len=30, k=8, max_fp_df=None).collect()
    want = _brute(spark, docs, 30)
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) > 0  # the fixture genuinely exercises the join


def test_winnowing_guarantee_shared_fp(spark, planted):
    """Docs sharing a ≥span_len span MUST share a fingerprint value —
    the lossless-pruning invariant the whole design rests on."""
    fps = winnowed_fingerprints(planted, span_len=40, k=8)
    by_doc = {
        r.doc_id: set(rr.fp for rr in fps.where(fps.doc_id == r.doc_id).collect())
        for r in planted.select("doc_id").collect()
    }
    assert by_doc[0] & by_doc[1]
    assert not by_doc[3]  # too-short doc emits no fingerprints (no error)


def test_stop_fingerprint_cap_trades_recall_not_correctness(spark):
    """A span shared by MORE than max_fp_df docs is dropped by the cap
    (documented recall trade) and found again with max_fp_df=None."""
    rows = [(i, f"prefix {i} " + BOILER + f" suffix {i}") for i in range(6)]
    df = _docs(spark, rows)
    capped = duplicate_spans(df, span_len=40, k=8, max_fp_df=3).collect()
    assert capped == []  # every fingerprint of the span has df=6 > 3
    uncapped = duplicate_spans(df, span_len=40, k=8, max_fp_df=None)
    assert uncapped.select("left_id", "right_id").distinct().count() == 15

def test_boilerplate_spans_counts_distinct_docs(spark, planted):
    bp = boilerplate_spans(planted, span_len=40, min_df=2).collect()
    assert len(bp) == 12 and all(r.n_docs == 2 for r in bp)
    # repeated occurrence INSIDE one doc counts once
    dup_inside = _docs(spark, [(7, BOILER + " filler " + BOILER)])
    solo = boilerplate_spans(dup_inside, span_len=40, min_df=2).collect()
    assert solo == []


def test_span_len_must_exceed_k(spark, planted):
    with pytest.raises(ValueError, match="span_len"):
        winnowed_fingerprints(planted, span_len=8, k=8)


def test_strip_boilerplate_removes_planted_spans(spark, planted):
    from jurimetria_etl_spark.operators.spans import strip_boilerplate

    bp = boilerplate_spans(planted, span_len=40, min_df=2)
    cleaned = {
        r.doc_id: r.clean_text
        for r in strip_boilerplate(planted, bp).collect()
    }
    # the shared license sentence is gone from both carriers…
    assert BOILER[:40] not in cleaned[0] and BOILER[:40] not in cleaned[1]
    # …while untouched docs come back verbatim
    assert cleaned[2].startswith("completely unrelated")
    assert cleaned[3] == "tiny"
    # plan: strip-list rides ONE single-row broadcast attach, fold is
    # narrow — no per-row join, no extra shuffle beyond the span agg
    plan = (
        strip_boilerplate(planted, bp)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastNestedLoopJoin") == 1  # 1-row attach
    assert "CartesianProduct" not in plan


def test_strip_boilerplate_empty_striplist_is_identity(spark, planted):
    from jurimetria_etl_spark.operators.spans import strip_boilerplate

    empty = boilerplate_spans(planted, span_len=40, min_df=99)
    got = {
        r.doc_id: r.clean_text
        for r in strip_boilerplate(planted, empty).collect()
    }
    want = {r.doc_id: r.text for r in planted.collect()}
    assert got == want


def test_cross_corpus_spans_decontamination_shape(spark):
    """duplicate_spans_against: left=train right=eval — the planted eval
    passage leaked into one training doc must surface; disjoint docs must
    not; and a persisted right-side fingerprint store (the incremental
    pattern) must yield the identical answer."""
    from jurimetria_etl_spark.operators.spans import (
        duplicate_spans_against,
        winnowed_fingerprints,
    )

    leak = "The quick brown fox jumps over the lazy dog again."  # 50 chars
    train = _docs(
        spark,
        [
            (0, "some training prose. " + leak + " more prose here."),
            (1, "entirely original training document number one."),
        ],
    )
    eval_set = _docs(
        spark,
        [
            (100, "eval question: " + leak + " what does the fox do?"),
            (101, "an uncontaminated evaluation item goes here."),
        ],
    )
    got = duplicate_spans_against(train, eval_set, span_len=40, k=8).collect()
    pairs = {(r.left_id, r.right_id) for r in got}
    assert pairs == {(0, 100)}
    assert any(leak[:40] == r.span for r in got)

    # incremental form: right side served from a precomputed fp store
    store = winnowed_fingerprints(eval_set, span_len=40, k=8)
    via_store = duplicate_spans_against(
        train, eval_set, span_len=40, k=8, right_fps=store
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, via_store))


def test_cross_corpus_spans_requires_both_sides(spark):
    """A span repeated on ONE side only (within-corpus duplicate) must
    not appear — the op reports cross-corpus sharing exclusively."""
    from jurimetria_etl_spark.operators.spans import duplicate_spans_against

    left = _docs(
        spark,
        [(0, "padding. " + BOILER + " end."), (1, "intro " + BOILER + " out.")],
    )
    right = _docs(spark, [(9, "totally different right-corpus content here.")])
    assert duplicate_spans_against(left, right, span_len=40, k=8).count() == 0


def test_cross_corpus_spans_match_duckdb_on_documents_table(spark, duck):
    """The documents table split even/odd as the two corpora, uncapped,
    against DuckDB's brute-force cross 40-gram join."""
    from pyspark.sql import functions as F

    from jurimetria_etl_spark.operators.spans import duplicate_spans_against
    from jurimetria_etl_spark.sources.fixtures import load_fixture

    sql = """
WITH g AS (
  SELECT DISTINCT doc_id, substring(text, i, 40) AS span
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, length(text) - 39)) AS i))
SELECT l.doc_id AS left_id, r.doc_id AS right_id, l.span AS span
FROM g l JOIN g r ON l.span = r.span
WHERE l.doc_id % 2 = 0 AND r.doc_id % 2 = 1
"""
    docs = load_fixture(spark, "/root/testdata/sf0.001", "documents")
    even = docs.where(F.col("doc_id") % 2 == 0)
    odd = docs.where(F.col("doc_id") % 2 == 1)
    got = duplicate_spans_against(even, odd, span_len=40, k=8, max_fp_df=None)
    want = duck.sql(sql).fetchall()
    assert want
    assert sorted(
        map(tuple, got.select("left_id", "right_id", "span").collect())
    ) == sorted(want)


def test_remove_span_contaminated_gate(spark):
    """The span-level decontamination gate drops exactly the documents
    sharing a verbatim >=span_len span with the benchmark, keeps the
    rest with all columns, and accepts a persisted benchmark fingerprint
    frame."""
    from jurimetria_etl_spark.operators.decontaminate import (
        remove_span_contaminated,
    )
    from jurimetria_etl_spark.operators.spans import winnowed_fingerprints

    leak = "What is the airspeed velocity of an unladen swallow, friend?"
    corpus = spark.createDataFrame(
        [
            (0, "train doc quoting: " + leak + " end of quote.", "web"),
            (1, "a perfectly clean training document with no leaks.", "web"),
        ],
        "doc_id bigint, text string, source string",
    )
    bench = spark.createDataFrame(
        [(900, "q1: " + leak)], "doc_id bigint, text string"
    )
    kept = remove_span_contaminated(corpus, bench, span_len=40, k=8)
    assert [r.doc_id for r in kept.collect()] == [1]
    assert kept.columns == ["doc_id", "text", "source"]  # columns preserved

    store = winnowed_fingerprints(bench, 40, 8)
    kept2 = remove_span_contaminated(
        corpus, bench, span_len=40, k=8, bench_fps=store
    )
    assert [r.doc_id for r in kept2.collect()] == [1]


def test_store_duplicate_fp_rows_do_not_change_answers(spark, planted):
    """A persisted fingerprint store can hold duplicate (id, fp) rows —
    a retried streaming micro-batch appends the same page twice.  df is
    counted over DISTINCT doc ids, so duplicates must neither inflate df
    past max_fp_df (silently dropping real duplicate spans) nor fake
    df>=2 for a single-document span."""
    from jurimetria_etl_spark.operators.spans import duplicate_spans_against

    fps = winnowed_fingerprints(planted, span_len=40, k=8)
    doubled = fps.unionByName(fps)  # every (id, fp) row twice

    want = sorted(
        map(tuple, duplicate_spans(planted, span_len=40, k=8, fps=fps).collect())
    )
    got = sorted(
        map(
            tuple,
            duplicate_spans(planted, span_len=40, k=8, fps=doubled).collect(),
        )
    )
    assert got == want and want  # identical, and non-trivially so

    # cap exactly at the true df (2 docs share the boilerplate): raw row
    # counts over the doubled store would see 4 and drop everything
    capped = duplicate_spans(
        planted, span_len=40, k=8, max_fp_df=2, fps=doubled
    ).collect()
    assert sorted(map(tuple, capped)) == want

    # same contract on the cross-corpus form's store path
    left = _docs(spark, [(0, "padding text here. " + BOILER + " tail.")])
    right = _docs(spark, [(9, "other corpus intro " + BOILER + " outro.")])
    rf = winnowed_fingerprints(right, span_len=40, k=8)
    rf_doubled = rf.unionByName(rf)
    base = sorted(
        map(
            tuple,
            duplicate_spans_against(
                left, right, span_len=40, k=8, max_fp_df=2, right_fps=rf
            ).collect(),
        )
    )
    dup = sorted(
        map(
            tuple,
            duplicate_spans_against(
                left, right, span_len=40, k=8, max_fp_df=2, right_fps=rf_doubled
            ).collect(),
        )
    )
    # true df is 2 (one doc per side); doubled store rows would read 3
    # under raw row counts and the cap would drop the real leak
    assert base == dup and base


def test_boilerplate_exchange_carries_longs(spark, planted):
    """The corpus-wide aggregation exchange of boilerplate_spans must be
    keyed on the 8-byte xxhash64(span), never the raw span string; the
    only span-keyed exchange is the survivor-sized final recount behind
    the semi-filter.  r9: the default survivor posture is AQE-gated, so
    the broadcast conversion appears in the POST-execution adaptive
    plan (runtime bytes under the threshold), not the initial one."""
    df = boilerplate_spans(planted, span_len=40, min_df=2)
    initial = df._jdf.queryExecution().executedPlan().toString()
    assert initial.count("hashpartitioning(__h") >= 1  # pass-1: longs
    assert initial.count("hashpartitioning(span") == 1  # survivors only
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    # the survivor set rides an AQE-converted broadcast semi-join back
    # into the grams (tiny at fixture scale -> under the threshold)
    assert "LeftSemi, BuildRight" in final


def test_cross_corpus_verify_join_is_hash_prefiltered(spark):
    """duplicate_spans_against's exact verify join must be preceded by
    the 8-byte hash intersection (long-keyed exchanges) so only rows
    whose span hash appears on BOTH sides shuffle as strings."""
    from jurimetria_etl_spark.operators.spans import duplicate_spans_against

    lt = "padding text here. " + BOILER + " tail."
    rt = "other corpus intro " + BOILER + " outro."
    df = duplicate_spans_against(
        _docs(spark, [(0, lt)]), _docs(spark, [(9, rt)]), span_len=40, k=8
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(__h" in plan  # long-keyed intersection
    got = sorted(map(tuple, df.collect()))
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final  # shared subtrees computed once
    grams = [{t[i : i + 40] for i in range(len(t) - 39)} for t in (lt, rt)]
    assert got == sorted((0, 9, s) for s in grams[0] & grams[1])
    assert len(got) == 11  # ' ' + BOILER + ' ' is 50 chars


@pytest.mark.parametrize("op", ["duplicate_spans", "duplicate_spans_against"])
def test_span_plans_leave_nothing_cached(spark, planted, op):
    """A span plan leaves no cached relation behind, local checkpoints
    included: a long-running stream calls these once per micro-batch."""
    from jurimetria_etl_spark.operators import spans

    before = cached_relations(spark, checkpoints=True)
    args = (planted,) if op == "duplicate_spans" else (planted, planted)
    df = getattr(spans, op)(*args, span_len=40, k=8)
    assert df.count() > 0
    assert cached_relations(spark, checkpoints=True) - before == set()


def test_remove_span_contaminated_is_uncapped_by_default(spark):
    """The decontamination gate must default to the EXACT form: a
    benchmark span leaked into more documents than the production
    stop-fingerprint cap is the hottest leakage, and the default-capped
    form would silently keep every one of those documents."""
    from jurimetria_etl_spark.operators.decontaminate import (
        remove_span_contaminated,
    )

    leak = "Benchmark answer: the mitochondria is the powerhouse, yes."
    corpus = _docs(
        spark,
        [(i, f"doc {i} prose. " + leak + f" trailer {i}.") for i in range(6)]
        + [(100, "a clean training document with nothing shared at all.")],
    )
    bench = _docs(spark, [(900, "eval item: " + leak)])

    kept_default = remove_span_contaminated(corpus, bench, span_len=40, k=8)
    assert [r.doc_id for r in kept_default.collect()] == [100]

    # an explicit cap below the leak's df documents the recall trade:
    # every shared fingerprint sits above it, so the leaked docs survive
    kept_capped = remove_span_contaminated(
        corpus, bench, span_len=40, k=8, max_fp_df=1
    )
    assert kept_capped.count() == 7


def test_strip_bulk_matches_fold_on_disjoint_spans(spark):
    """When strip-list spans don't overlap in the documents — isolated
    boilerplate snippets — the bulk (broadcast-set scan) form equals the
    replace-fold form exactly.  (Overlapping sliding windows of a longer
    shared region resolve differently BY CONTRACT: the fold replaces
    span-by-span in lexicographic order, the scan removes the leftmost
    window and resumes after it — both deterministic, pinned below.)"""
    from jurimetria_etl_spark.operators.spans import (
        strip_boilerplate,
        strip_boilerplate_bulk,
    )

    a = "AAAA-template-header-0000-AAAA-exactly40"
    b = "BBBB-template-footer-1111-BBBB-exactly40"
    assert len(a) == 40 and len(b) == 40
    docs = _docs(
        spark,
        [
            (0, "intro. " + a + " body text. " + b + " outro."),
            (1, a + " solitary header carrier document."),
            (2, "footer only here -> " + b),
            (3, "no boilerplate at all in this one."),
        ],
    )
    spans = spark.createDataFrame([(a,), (b,)], "span string")
    fold = {
        r.doc_id: r.clean_text for r in strip_boilerplate(docs, spans).collect()
    }
    bulk = {
        r.doc_id: r.clean_text
        for r in strip_boilerplate_bulk(docs, spans, span_len=40).collect()
    }
    assert bulk == fold and len(bulk) == 4
    assert bulk[0] == "intro.  body text.  outro."


def test_strip_bulk_removes_whole_region_via_run_extension(spark, planted):
    """On the planted corpus the shared region is 51 chars — LONGER than
    span_len, so the strip-list holds its 12 overlapping windows.  With
    the default run extension the scan deletes the MAXIMAL run of
    consecutive matching windows, i.e. the whole 51-char region (no
    sub-span_len residue); with extend_runs=False it removes exactly the
    leftmost window.  Clean documents are never touched."""
    from jurimetria_etl_spark.operators.spans import strip_boilerplate_bulk

    bp = boilerplate_spans(planted, span_len=40, min_df=2)
    orig = {r.doc_id: r.text for r in planted.collect()}
    cleaned = {
        r.doc_id: r.clean_text
        for r in strip_boilerplate_bulk(planted, bp, span_len=40).collect()
    }
    single = {
        r.doc_id: r.clean_text
        for r in strip_boilerplate_bulk(
            planted, bp, span_len=40, extend_runs=False
        ).collect()
    }
    for d in (0, 1):
        assert BOILER[:40] not in cleaned[d]
        assert len(cleaned[d]) == len(orig[d]) - 51  # the WHOLE region
        assert BOILER not in cleaned[d]  # no residue of it either
        assert len(single[d]) == len(orig[d]) - 40  # one window only
    for got in (cleaned, single):
        assert got[2] == orig[2] and got[3] == orig[3]


def test_strip_calls_charge_one_driver_action(spark, planted):
    """Building a strip plan collects the strip-list in ONE Spark action
    (limit-bounded collect doubling as the size guard) — the r9 gate's
    separate count job is gone (r12 verdict task 7).  Pinned by job
    count per call for both strip entry points."""
    from jurimetria_etl_spark.operators.spans import (
        duplicate_lines,
        strip_boilerplate_bulk,
        strip_duplicate_lines,
    )

    bp = boilerplate_spans(planted, span_len=40, min_df=2)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_during(label, fn):
        sc.setJobGroup(label, label)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(tracker.getJobIdsForGroup(label))

    # AQE splits even one collect into several stage-jobs, so the pin is
    # RELATIVE: plan construction (the mapInPandas scan itself runs
    # later) must charge exactly what ONE bare limit-collect of the
    # strip-list charges — zero extra actions for the size guard.
    baseline = jobs_during(
        "strip_bulk_baseline",
        lambda: bp.select("span").distinct().limit(10_001).collect(),
    )
    assert jobs_during(
        "strip_bulk_probe",
        lambda: strip_boilerplate_bulk(
            planted, bp, span_len=40, max_spans=10_000
        ),
    ) == baseline

    docs = _docs(
        spark,
        [
            (0, "nav menu\nreal content zero\nfooter"),
            (1, "nav menu\nreal content one\nfooter"),
        ],
    )
    gl = duplicate_lines(docs, min_df=2)
    baseline_l = jobs_during(
        "strip_lines_baseline",
        lambda: gl.select("line").distinct().limit(10_001).collect(),
    )
    assert jobs_during(
        "strip_lines_probe",
        lambda: strip_duplicate_lines(docs, gl, max_lines=10_000),
    ) == baseline_l


def test_strip_bulk_is_single_python_map_no_shuffle(spark, planted):
    from jurimetria_etl_spark.operators.spans import strip_boilerplate_bulk

    bp = boilerplate_spans(planted, span_len=40, min_df=2)
    plan = (
        strip_boilerplate_bulk(planted, bp)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("MapInPandas") == 1
    # the only exchange is the widen repartition (CPU-dense scan fan-out)
    assert plan.count("Exchange") == plan.count("RoundRobinPartitioning")
    assert "BatchEvalPython" not in plan


def test_strip_bulk_semantics_pinned_on_cascade(spark):
    """Documented divergence: the fold rescans after each span's global
    removal (cascades can create new matches); the bulk scan reads the
    ORIGINAL text once, leftmost-non-overlapping.  Pin both behaviors so
    the difference is a contract, not a surprise."""
    from jurimetria_etl_spark.operators.spans import (
        strip_boilerplate,
        strip_boilerplate_bulk,
    )

    # span B = 'xy'*2? Use span_len=4: spans {'abcd', 'cdcd'}; text
    # 'abcdcdcd': bulk removes 'abcd' at 0 then 'cdcd' at 4 -> ''.
    spans = spark.createDataFrame([("abcd",), ("cdcd",)], "span string")
    docs = spark.createDataFrame([(1, "abcdcdcd")], "doc_id bigint, text string")
    bulk = strip_boilerplate_bulk(docs, spans, span_len=4).first().clean_text
    assert bulk == ""
    # fold order is lexicographic: 'abcd' removed first ('cdcd' left),
    # then 'cdcd' removed -> '' here too; cascade divergence needs a
    # removal that CREATES a match the single pass never sees:
    spans2 = spark.createDataFrame([("bbaa",), ("abba",)], "span string")
    docs2 = spark.createDataFrame(
        [(2, "abbbaaba")], "doc_id bigint, text string"
    )
    # fold: 'abba' has no match in original; 'bbaa' matches at 2 ->
    # 'ab' + 'ba' = 'abba'; the earlier-in-order 'abba' pass ALREADY ran,
    # so 'abba' survives the fold.
    fold2 = strip_boilerplate(docs2, spans2).first().clean_text
    bulk2 = strip_boilerplate_bulk(docs2, spans2, span_len=4).first().clean_text
    assert fold2 == "abba"
    assert bulk2 == "abba"  # same here: single pass also leaves it
    # the genuinely-divergent direction: fold's LEXICOGRAPHIC order means
    # a later span's removal can expose an earlier-sorted span only in
    # the bulk-scan's future, never the fold's past — both contracts are
    # deterministic; equality holds except when removal CONCATENATES a
    # new listed span, e.g.:
    spans3 = spark.createDataFrame([("cccc",), ("acca",)], "span string")
    docs3 = spark.createDataFrame(
        [(3, "acccccca")], "doc_id bigint, text string"
    )
    # fold: 'acca' no match; 'cccc' removed at 2 -> 'ac' + 'ca' = 'acca'
    # (created AFTER its own pass) -> fold leaves 'acca'.
    assert strip_boilerplate(docs3, spans3).first().clean_text == "acca"
    # bulk default (run extension): 'cccc' matches at 1,2,3 — one maximal
    # run [1,7) — leaving 'aa'; with extend_runs=False only the leftmost
    # window [1,5) goes, leaving 'acca' (same residue as the fold, no
    # rescan).
    assert (
        strip_boilerplate_bulk(docs3, spans3, span_len=4).first().clean_text
        == "aa"
    )
    assert (
        strip_boilerplate_bulk(docs3, spans3, span_len=4, extend_runs=False)
        .first()
        .clean_text
        == "acca"
    )


def test_strip_bulk_rejects_wrong_length_spans(spark, planted):
    import pytest as _pytest

    from jurimetria_etl_spark.operators.spans import strip_boilerplate_bulk

    spans = spark.createDataFrame([("short",)], "span string")
    with _pytest.raises(ValueError, match="length"):
        strip_boilerplate_bulk(planted, spans, span_len=40)


def test_flag_span_contamination_report(spark):
    """The metrics companion of the span gate: per-doc shared-span and
    implicated-benchmark-doc counts, zeros for clean docs, flag
    consistent with what remove_span_contaminated would drop."""
    from jurimetria_etl_spark.operators.decontaminate import (
        flag_span_contamination,
        remove_span_contaminated,
    )

    leak1 = "Answer A: photosynthesis converts light to chemical energy."
    leak2 = "Answer B: the capital of France has always been Paris, yes."
    corpus = _docs(
        spark,
        [
            (0, "quotes both: " + leak1 + " and " + leak2 + " end."),
            (1, "quotes one: " + leak1 + " nothing else shared here."),
            (2, "a fully clean training document, nothing shared at all."),
        ],
    )
    bench = _docs(spark, [(900, "q1: " + leak1), (901, "q2: " + leak2)])

    rep = {
        r.doc_id: (r.n_shared_spans, r.n_bench_docs, r.contaminated)
        for r in flag_span_contamination(corpus, bench, span_len=40, k=8).collect()
    }
    assert set(rep) == {0, 1, 2}
    assert rep[2] == (0, 0, False)
    assert rep[0][1] == 2 and rep[0][2] is True  # both bench docs implicated
    assert rep[1][1] == 1 and rep[1][2] is True
    assert rep[0][0] > rep[1][0] > 0  # doc 0 shares strictly more spans

    # flag ≡ gate: flagged ids are exactly the ids the gate drops
    kept = {
        r.doc_id
        for r in remove_span_contaminated(corpus, bench, span_len=40, k=8).collect()
    }
    assert kept == {d for d, (_, _, c) in rep.items() if not c}


def test_strip_bulk_guards_oversized_striplist(spark, planted):
    from jurimetria_etl_spark.operators.spans import strip_boilerplate_bulk

    bp = boilerplate_spans(planted, span_len=40, min_df=2)
    with pytest.raises(ValueError, match="max_spans"):
        strip_boilerplate_bulk(planted, bp, span_len=40, max_spans=3)


NAV = "Home | About | Products | Contact | Privacy Policy"


def test_duplicate_lines_and_strip(spark):
    """Line-level dedup (CCNet/RefinedWeb axis): the nav line shared by
    two docs surfaces with its distinct-doc count; short lines never
    qualify; stripping removes exactly the listed lines and preserves
    the rest (and metadata columns in replace mode)."""
    from jurimetria_etl_spark.operators.spans import (
        duplicate_lines,
        strip_duplicate_lines,
    )

    docs = spark.createDataFrame(
        [
            (0, NAV + "\nunique first body line here.\nok", "web"),
            (1, NAV + "\na different second body entirely.\nok", "web"),
            (2, "no shared lines in this document at all.", "web"),
        ],
        "doc_id bigint, text string, source string",
    )
    dup = {(r.line, r.n_docs) for r in duplicate_lines(docs, min_df=2).collect()}
    # 'ok' is shared by 0 and 1 but below min_line_chars — excluded
    assert dup == {(NAV, 2)}

    lines = duplicate_lines(docs, min_df=2)
    slim = {
        r.doc_id: r.clean_text
        for r in strip_duplicate_lines(docs, lines).collect()
    }
    assert slim[0] == "unique first body line here.\nok"
    assert slim[1] == "a different second body entirely.\nok"
    assert slim[2] == "no shared lines in this document at all."

    rep = strip_duplicate_lines(docs, lines, replace=True)
    assert rep.columns == ["doc_id", "text", "source"]
    assert {r.doc_id: r.text for r in rep.collect()} == slim

    # guard parity with the span form
    with pytest.raises(ValueError, match="max_lines"):
        strip_duplicate_lines(docs, lines, max_lines=0)


def test_duplicate_lines_counts_docs_not_occurrences(spark):
    from jurimetria_etl_spark.operators.spans import duplicate_lines

    # NAV appears TWICE inside doc 7 — still one document
    docs = spark.createDataFrame(
        [(7, NAV + "\nmiddle content body\n" + NAV), (8, NAV + "\ntail.")],
        "doc_id bigint, text string",
    )
    got = {(r.line, r.n_docs) for r in duplicate_lines(docs, min_df=2).collect()}
    assert got == {(NAV, 2)}


def test_survivor_broadcast_is_size_gated(spark, planted):
    """r7 verdict weak: the ≥min_df survivor sets, and
    duplicate_spans_against's hash intersection, are corpus-sized build
    sides — at min_df=2 on a dense corpus a forced broadcast is a
    multi-GB OOM — so they carry no hint and AQE sizes them from
    runtime bytes.  With every automatic broadcast disabled no span-
    family plan holds a BroadcastExchange; under the defaults AQE
    broadcasts the small survivor set; the answers are the same."""
    from jurimetria_etl_spark.operators.spans import (
        duplicate_lines,
        duplicate_spans_against,
    )

    docs = _docs(
        spark,
        [(0, NAV + "\nbody a. " + BOILER), (1, NAV + "\nbody b. " + BOILER)],
    )

    def build():
        return {
            "boilerplate_spans": boilerplate_spans(
                planted, span_len=40, min_df=2
            ),
            "duplicate_lines": duplicate_lines(docs, min_df=2),
            "duplicate_spans": duplicate_spans(planted, span_len=40, k=8),
            "duplicate_spans_against": duplicate_spans_against(
                planted, docs, span_len=40, k=8
            ),
        }

    def rows(df):
        return sorted(map(tuple, df.collect()))

    aqe = build()
    want = {name: rows(df) for name, df in aqe.items()}
    final = aqe["boilerplate_spans"]._jdf.queryExecution().executedPlan()
    assert "BroadcastHashJoin" in final.toString()  # AQE's runtime choice
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    old = {k: spark.conf.get(k, None) for k in keys}
    # disable every AUTOMATIC broadcast: any BroadcastExchange left in a
    # plan below can only come from an explicit hint
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        for name, df in build().items():
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastExchange" not in plan, name
            assert rows(df) == want[name], name
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert want["duplicate_spans"] == sorted(
        map(tuple, _brute(spark, planted, 40))
    )
    assert [line for line, _ in want["duplicate_lines"]] == [NAV]
    assert {r[:2] for r in want["duplicate_spans_against"]} == {
        (0, 0), (0, 1), (1, 0), (1, 1)
    }


def test_survivor_default_has_no_count_job(spark, planted):
    """r8 verdict note #3: a persist+count at plan construction charged
    a dedicated Spark job per call.  Every semi-join build side, corpus-
    sized (no hint; AQE decides broadcast vs shuffle from the runtime
    bytes) or an external benchmark's (an explicit broadcast hint), is
    planned LAZILY: building these plans runs zero jobs."""
    from jurimetria_etl_spark.operators.decontaminate import (
        flag_contamination,
    )
    from jurimetria_etl_spark.operators.sampling import split_leakage_guarded
    from jurimetria_etl_spark.operators.spans import (
        duplicate_lines,
        duplicate_spans_against,
    )
    from jurimetria_etl_spark.plans.curation import curation_funnel

    docs2 = _docs(
        spark,
        [(0, NAV + "\nbody a. " + BOILER), (1, NAV + "\nbody b. " + BOILER)],
    )
    bench = _docs(spark, [(9, "eval item: " + BOILER)])
    sc = spark.sparkContext
    group = "survivor-default-lazy"
    sc.setJobGroup(group, "construction must schedule no jobs")
    try:
        built = {
            "duplicate_spans": duplicate_spans(planted, span_len=40, k=8),
            "boilerplate_spans": boilerplate_spans(
                planted, span_len=40, min_df=2
            ),
            "duplicate_lines": duplicate_lines(docs2, min_df=2),
            "duplicate_spans_against": duplicate_spans_against(
                planted, bench, span_len=40, k=8
            ),
            "flag_contamination": flag_contamination(planted, bench, n=3),
            "split_leakage_guarded": split_leakage_guarded(planted, 0.5, n=3),
            "curation_funnel": curation_funnel(
                planted, benchmark=bench, decontam_spans=True, span_len=40
            ),
        }
    finally:
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        sc.setJobGroup("", "")
    assert jobs == [], f"plan construction ran jobs: {jobs}"
    assert sorted(map(tuple, built["duplicate_spans"].collect())) == sorted(
        map(tuple, _brute(spark, planted, 40))
    )
    assert built["boilerplate_spans"].count() > 0
    assert {r.line for r in built["duplicate_lines"].collect()} == {NAV}
    assert {
        r.left_id for r in built["duplicate_spans_against"].collect()
    } == {0, 1}
    flags = {
        r.doc_id: r.contaminated
        for r in built["flag_contamination"].collect()
    }
    assert flags == {0: True, 1: True, 2: False, 3: False}
    assert built["split_leakage_guarded"].count() == 4
    assert built["curation_funnel"].collect()[0]["n_span_clean"] == 2
