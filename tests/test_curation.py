"""Corpus-curation composite: the chained lang→quality→dedup→near-dup
pipeline holds its contract — survivors meet every gate, no duplicates or
near-dups remain, and the funnel report accounts for every document."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jurimetria_etl_spark.operators import dedup as D
from jurimetria_etl_spark.plans.curation import curate_corpus, curation_report
from tests.conftest import cached_relations

SF = "/root/testdata/sf0.001"


def _docs(spark):
    from jurimetria_etl_spark.sources.fixtures import load_fixture

    return load_fixture(spark, SF, "documents")


def test_curation_survivors_meet_gates(spark):
    docs = _docs(spark)
    curated = curate_corpus(docs, languages=("en",), min_quality=0.3).cache()
    rows = curated.collect()
    assert len(rows) > 0
    assert all(r["lang_pred"] == "en" for r in rows)
    assert all(r["quality"] >= 0.3 for r in rows)


def test_curation_no_exact_dups_remain(spark):
    docs = _docs(spark)
    curated = curate_corpus(docs)
    fps = curated.select(D.fingerprint("text").alias("fp"))
    assert fps.count() == fps.distinct().count()


def test_curation_no_near_dups_remain(spark):
    docs = _docs(spark)
    curated = curate_corpus(docs, near_dup_threshold=0.7).cache()
    remaining = D.minhash_near_duplicates(
        curated, "doc_id", "text", threshold=0.7
    )
    assert remaining.count() == 0


def test_curation_keeps_lower_id_of_planted_pair(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again today"),
        (2, "the quick brown fox jumps over the lazy dog again and again today now"),
        (3, "an entirely different document about the weather and the ocean waves"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    curated = curate_corpus(
        docs, languages=("en",), min_quality=0.0, near_dup_threshold=0.5
    )
    assert sorted(r["doc_id"] for r in curated.collect()) == [1, 3]


def test_curation_report_funnel(spark):
    docs = _docs(spark)
    curated = curate_corpus(docs)
    rep = curation_report(docs, curated).first()
    assert rep["docs_in"] == docs.count()
    assert 0 < rep["docs_kept"] <= rep["docs_in"]
    assert rep["tokens_kept"] > 0


def test_curation_star_graph_keeps_one_per_cluster(spark):
    # Star pair graph: doc1 and doc2 are the disjoint halves of doc3, so
    # Jaccard(1,3) = Jaccard(2,3) ≈ 0.5 and Jaccard(1,2) = 0 — near-dup
    # pairs (1,3) and (2,3) WITHOUT (1,2).  bands=8 (one minhash row per
    # band) makes LSH collision at J≈0.5 near-certain, so the fixture is
    # stable under the fixed hash seed.  Transitive (default) semantics
    # keep exactly {1} from the cluster {1,2,3}; greedy pairwise removal
    # over-keeps {1,2}.
    a = " ".join(f"alpha{i} bravo{i}" for i in range(10))
    b = " ".join(f"charlie{i} delta{i}" for i in range(10))
    rows = [(1, a), (2, b), (3, a + " " + b), (4, "totally unrelated words here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    langs = ("en", "fr", "es", "de", "und")
    lsh = dict(k=8, bands=8)

    pairs = D.minhash_near_duplicates(docs, "doc_id", "text", threshold=0.4, **lsh)
    got = sorted((r["left_id"], r["right_id"]) for r in pairs.collect())
    assert got == [(1, 3), (2, 3)], f"fixture must form a star, got {got}"

    curated = curate_corpus(
        docs,
        languages=langs,
        min_quality=0.0,
        near_dup_threshold=0.4,
        minhash_k=8,
        minhash_bands=8,
    )
    assert sorted(r["doc_id"] for r in curated.collect()) == [1, 4]

    greedy = curate_corpus(
        docs,
        languages=langs,
        min_quality=0.0,
        near_dup_threshold=0.4,
        transitive=False,
        minhash_k=8,
        minhash_bands=8,
    )
    assert sorted(r["doc_id"] for r in greedy.collect()) == [1, 2, 4]


def test_curation_is_one_lazy_plan_no_python(spark):
    # The single-lazy-plan property belongs to the greedy path; the
    # transitive default runs a driver-side convergence loop by design.
    plan = (
        curate_corpus(_docs(spark), transitive=False)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "PythonUDF" not in plan


def test_prepare_training_shards_end_to_end(spark):
    from jurimetria_etl_spark.plans.curation import prepare_training_shards
    from jurimetria_etl_spark.sources.fixtures import load_fixture

    docs = load_fixture(spark, "/root/testdata/sf0.001", "documents")
    shards = prepare_training_shards(
        docs,
        languages=("en", "fr", "es", "de", "und"),
        min_quality=0.0,
        chunk_chars=240,
        overlap_chars=40,
        max_chars_per_shard=5_000,
    )
    rows = shards.select("doc_id", "chunk_idx", "chunk", "shard_id").collect()
    assert rows, "curation gates must keep some documents"
    # shard ids are a contiguous 0..N range
    ids = sorted({r["shard_id"] for r in rows})
    assert ids == list(range(len(ids)))
    # sequential fill: no shard except possibly the last exceeds the budget
    # by more than one chunk's length (a chunk never splits)
    from collections import defaultdict

    per = defaultdict(int)
    for r in rows:
        per[r["shard_id"]] += len(r["chunk"])
    for sid, total in per.items():
        assert total <= 5_000 + 240
    # chunks reassemble their source doc's prefix windows: spot-check one doc
    doc_rows = sorted(
        (r["chunk_idx"], r["chunk"]) for r in rows if r["doc_id"] == rows[0]["doc_id"]
    )
    text = [r["text"] for r in docs.collect() if r["doc_id"] == rows[0]["doc_id"]][0]
    for i, chunk in doc_rows:
        assert chunk == text[i * 200 : i * 200 + 240]


def test_curate_corpus_optional_stages_full_chain(spark):
    """scrub → rule gate → decontamination compose with the core gates:
    PII is redacted before fingerprinting, the benchmark doc is removed,
    and the rule gate drops what the score gate alone would keep."""
    from pyspark.sql import functions as F

    from jurimetria_etl_spark.plans.curation import curate_corpus

    prose = (
        "the quick brown fox jumps over the lazy dog and then runs to "
        "the river bank where a boat is waiting for the long trip home"
    )
    docs = spark.createDataFrame(
        [
            (1, prose + " contact someone@example.com today"),
            (2, prose + " contact someone@example.com today"),  # exact dup after scrub
            (3, "held out benchmark sentence about unique evaluation topics "
                "entirely and completely distinct from the rest here"),
            (4, "short junk"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(99, "held out benchmark sentence about unique evaluation topics "
              "entirely and completely distinct from the rest here")],
        "doc_id long, text string",
    )
    out = curate_corpus(
        docs,
        languages=("en",),
        min_quality=0.0,
        scrub_pii=True,
        quality_rules=dict(
            min_words=5,
            max_mean_word_length=10.0,
            min_stopwords=1,
            max_top_2gram_char_fraction=0.5,
        ),
        benchmark=bench,
        decontam_ngram=5,
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    # doc 3 decontaminated, doc 4 fails the rule gate (min_words),
    # docs 1/2 collapse to one survivor AFTER redaction made them equal
    assert set(rows) == {1}
    assert "<EMAIL>" in rows[1]["text"]
    assert "someone@example.com" not in rows[1]["text"]


def test_curate_corpus_span_stages(spark):
    """The two round-7 stages wired into the composite: boilerplate
    stripping BEFORE profiling (quality/dedup see content, all original
    columns preserved) and span-level decontamination alongside the
    n-gram gate."""
    from jurimetria_etl_spark.plans.curation import curate_corpus

    boiler = "SUBSCRIBE TO OUR NEWSLETTER FOR DAILY UPDATES NOW!"  # 50 chars
    leak = "The answer to the ultimate question is forty-two, obviously."

    p0 = (
        "the appellate court reviewed the evidence carefully and found "
        "that the lower ruling should stand without any modification. "
    )
    p1 = (
        "several engineers spent the afternoon debugging the pipeline "
        "and discovered that the scheduler had silently dropped work. "
    )
    p2 = (
        "a long walk along the river revealed three herons standing in "
        "the shallows while the morning fog lifted over the water. "
    )
    p3 = (
        "the committee agreed to publish the revised guidelines after "
        "reviewing feedback from every regional office this quarter. "
    )
    docs = spark.createDataFrame(
        [
            (0, p0 + boiler, "en", "web", 1),
            (1, p1 + "also this. " + boiler, "en", "web", 1),
            (2, p2 + "quoting now: " + leak + " end quote.", "en", "web", 1),
            (3, p3 + "third clean unique document body here.", "en", "web", 1),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    bench = spark.createDataFrame(
        [(900, "eval: " + leak)], "doc_id bigint, text string"
    )
    out = curate_corpus(
        docs,
        benchmark=bench,
        decontam_spans=True,
        strip_boilerplate_min_df=2,
        span_len=40,
        near_dup_threshold=0.95,
        transitive=False,
    )
    rows = {r.doc_id: r for r in out.collect()}
    # doc 2 dropped: exact span leak; docs 0/1/3 survive
    assert 2 not in rows and {0, 1, 3} <= set(rows)
    # boilerplate stripped BEFORE profiling: the shared banner is gone
    for d in (0, 1):
        assert boiler[:40] not in rows[d].text
    # original metadata columns preserved through the replace-mode strip
    assert {"lang", "source", "n_chars"} <= set(out.columns)


def test_curate_corpus_line_strip_stage(spark):
    """strip_lines_min_df removes duplicated whole lines (the shared nav
    menu) before profiling, while each document's unique body lines pass
    through untouched — and a body line that IS duplicated across docs
    is itself removed (that is what duplicated-paragraph removal
    means)."""
    from jurimetria_etl_spark.plans.curation import curate_corpus

    nav = "Home | About | Products | Contact | Privacy"
    body_a = (
        "the committee reviewed the quarterly figures and approved the "
        "new budget without objection from any member present today."
    )
    body_b = (
        "a completely different article about rivers, herons, and the "
        "slow lifting of morning fog over quiet water in early autumn."
    )
    body_c = (
        "the engineers spent the afternoon tracing a subtle scheduling "
        "bug through the pipeline logs before dinner arrived at last."
    )
    shared_para = (
        "this exact paragraph was syndicated into two documents verbatim."
    )
    docs = spark.createDataFrame(
        [
            (0, nav + "\n" + body_a + "\n" + shared_para, "en", "web", 1),
            (1, nav + "\n" + body_b, "en", "web", 1),
            (2, body_c + "\n" + shared_para, "en", "web", 1),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    out = curate_corpus(docs, strip_lines_min_df=2, transitive=False)
    rows = {r.doc_id: r.text for r in out.collect()}
    assert set(rows) == {0, 1, 2}
    # nav and the syndicated paragraph stripped everywhere...
    assert all(nav not in t and shared_para not in t for t in rows.values())
    # ...unique body lines intact
    assert rows[0] == body_a and rows[1] == body_b and rows[2] == body_c


def test_curate_corpus_semantic_stage(spark):
    """semdedup_eps adds the embedding axis LAST: two text-DISTINCT docs
    with near-identical embeddings collapse to the lower-ranked one;
    docs without the stage survive; missing vec_col fails loudly."""
    import numpy as np
    import pytest

    rng = np.random.default_rng(13)
    base = rng.normal(size=8)
    rows = [
        (1, "a perfectly unique english sentence about mountains and rivers today", base),
        (2, "entirely different words regarding oceans and deserts tomorrow evening", base + 1e-4),
        (3, "novel content on forests plains and weather patterns this afternoon", rng.normal(size=8)),
    ]
    docs = spark.createDataFrame(
        [(i, t, "en", [float(x) for x in v]) for i, t, v in rows],
        "doc_id long, text string, lang string, embedding array<float>",
    )
    plain = curate_corpus(docs, min_quality=0.0)
    assert {r.doc_id for r in plain.collect()} == {1, 2, 3}
    sem = curate_corpus(docs, min_quality=0.0, semdedup_eps=0.99,
                        semdedup_n_clusters=1)
    ids = {r.doc_id for r in sem.collect()}
    assert 3 in ids
    assert len(ids & {1, 2}) == 1  # the embedding-near pair collapsed
    # greedy (non-transitive) path gets the stage too
    sem2 = curate_corpus(docs, min_quality=0.0, transitive=False,
                         semdedup_eps=0.99, semdedup_n_clusters=1)
    ids2 = {r.doc_id for r in sem2.collect()}
    assert 3 in ids2 and len(ids2 & {1, 2}) == 1
    # loud failure without the embedding column
    with pytest.raises(Exception, match="embedding"):
        curate_corpus(
            docs.drop("embedding"), min_quality=0.0, semdedup_eps=0.99
        ).collect()


def test_classifier_stage_gates_the_composite(spark):
    """curate_corpus(classifier=...) must add quality_prob to the audit
    columns and drop documents below the threshold — everything else
    identical to the unclassified run."""
    from jurimetria_etl_spark.operators.classify import train_hashed_linear
    from jurimetria_etl_spark.plans.curation import curate_corpus

    good = [
        "peer reviewed study of climate physics and careful measurement",
        "the theorem proof follows from induction on the tree depth",
        "students learn algebra geometry and rigorous mathematical logic",
    ]
    spam = [
        "win big casino bonus click now free spins jackpot prize",
        "cheap pills discount offer buy now limited deal click here",
    ]
    train = spark.createDataFrame(
        [(i, t, 1) for i, t in enumerate(good)]
        + [(100 + i, t, 0) for i, t in enumerate(spam)],
        "doc_id long, text string, label int",
    )
    w, b = train_hashed_linear(train, "label", n_features=64, iters=200)

    docs = train.drop("label")
    base = curate_corpus(docs, min_quality=0.0, languages=("en", "pt", "es"))
    clf = curate_corpus(
        docs,
        min_quality=0.0,
        languages=("en", "pt", "es"),
        classifier=(w, b),
    )
    assert "quality_prob" in clf.columns
    base_ids = {r.doc_id for r in base.select("doc_id").collect()}
    clf_ids = {r.doc_id for r in clf.select("doc_id").collect()}
    assert clf_ids == {i for i in base_ids if i < 100}  # spam gated out


def test_extension_tail_is_keyword_only(spark):
    """r10 ADVICE note 3: the extension tail after the core
    reference-parity parameters is keyword-only — inserting a stage can
    never silently re-bind a positional caller again."""
    import pytest

    with pytest.raises(TypeError):
        # 7th positional = first extension parameter (transitive)
        curate_corpus(
            _docs(spark), "doc_id", "text", ("en",), 0.3, 0.7, True
        )


def test_curate_corpus_benchmark_store_dir_parity(spark, tmp_path):
    """curate_corpus(benchmark_store_dir=…) ≡ curate_corpus(benchmark=…):
    the persisted probe set must be gate-invisible, including the span
    axis read from the store's fingerprints."""
    from jurimetria_etl_spark.operators.decontaminate import (
        build_benchmark_store,
    )
    from jurimetria_etl_spark.plans.curation import curate_corpus

    leak = "this exact sentence leaked verbatim from the held out eval set"
    docs = spark.createDataFrame(
        [
            (0, "a perfectly ordinary document about compiler design and "
                "register allocation strategies for modern hardware", "en"),
            (1, "quoting now: " + leak + " end of the quoted material "
                "with some extra trailing context", "en"),
            (2, "another clean body of text describing parquet row group "
                "statistics and predicate pushdown behavior", "en"),
        ],
        "doc_id bigint, text string, lang string",
    )
    bench = spark.createDataFrame(
        [(900, "eval: " + leak)], "doc_id bigint, text string"
    )
    store = str(tmp_path / "bench_store")
    build_benchmark_store(bench, store, n=5, spans=True, span_len=40, span_k=8)

    kw = dict(
        decontam_spans=True, span_len=40, span_k=8,
        near_dup_threshold=0.95, transitive=False,
    )
    live = curate_corpus(docs, benchmark=bench, **kw)
    stored = curate_corpus(
        docs, benchmark=bench, benchmark_store_dir=store, **kw
    )
    canon = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    assert canon(live) == canon(stored)
    assert {r.doc_id for r in stored.collect()} == {0, 2}
    # the shingle-only gate needs no benchmark frame at all
    shingle_only = curate_corpus(
        docs, benchmark_store_dir=store, near_dup_threshold=0.95,
        transitive=False,
    )
    assert {r.doc_id for r in shingle_only.collect()} == {0, 2}
    # decontam_spans without the benchmark frame is a contract error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="benchmark frame"):
        curate_corpus(docs, benchmark_store_dir=store, decontam_spans=True)


def test_prepare_training_shards_shuffle_seed(spark):
    """shuffle_seed packs shards in the seeded document permutation with
    chunks contiguous per document: shard assignment matches the python
    model (md5-permute docs, walk chunks in idx order, sequential fill),
    and the default (no seed) output is unchanged."""
    import hashlib

    from jurimetria_etl_spark.plans.curation import prepare_training_shards

    docs = _docs(spark)
    kw = dict(
        languages=("en",), min_quality=0.0, near_dup_threshold=0.99,
        chunk_chars=120, overlap_chars=20, max_chars_per_shard=400,
    )
    shuffled = prepare_training_shards(docs, shuffle_seed="13", **kw)
    got = {
        (r["doc_id"], r["chunk_idx"]): r["shard_id"]
        for r in shuffled.collect()
    }
    assert got  # the gate kept something, or the parity below is vacuous

    # python model over the SAME curated chunk set (reuse the engine's
    # chunks; the model only re-derives ORDER + packing)
    chunk_rows = [
        (r["doc_id"], r["chunk_idx"], len(r["chunk"]))
        for r in prepare_training_shards(docs, **kw)
        .select("doc_id", "chunk_idx", "chunk")
        .collect()
    ]
    order = sorted(
        chunk_rows,
        key=lambda t: (
            hashlib.md5(f"shuffle:13:{t[0]}".encode()).hexdigest(),
            t[1],
        ),
    )
    expected, total = {}, 0
    for d, i, n in order:
        expected[(d, i)] = total // 400
        total += n
    assert got == expected


def test_curation_funnel_consistency_and_optional_columns(spark):
    """curation_funnel's n_eligible equals curate_corpus's survivor count
    on a dedup-neutral corpus (all texts distinct, no near-dups), the
    per-gate counts bound it, and classifier/rules/benchmark each add
    their column."""
    from jurimetria_etl_spark.plans.curation import (
        curate_corpus,
        curation_funnel,
    )

    leak = "this exact sentence leaked verbatim from the held out eval set"
    rows = [
        (0, "a thorough essay on register allocation and live range "
            "splitting in optimizing compilers for modern processors"),
        (1, "quoting now: " + leak + " end of quote with more original "
            "trailing context to stay above the length floor"),
        (2, "short junk"),
        (3, "uma discussão detalhada sobre o processo judicial e os "
            "recursos que o tribunal pode julgar em cada instância para "
            "que não haja dúvida sobre o resultado final do caso"),
        (4, "field notes describing heron behavior along the river "
            "shallows during early morning fog in the breeding season"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    bench = spark.createDataFrame(
        [(900, "eval: " + leak)], "doc_id bigint, text string"
    )
    D = 16
    weights = [((i * 29) % 11 - 5) / 5.0 for i in range(D)]
    kw = dict(
        languages=("en",), min_quality=0.2, benchmark=bench,
        decontam_ngram=5, classifier=(weights, 10.0),  # passes everything
        quality_rules={"min_words": 5},
    )
    funnel = curation_funnel(docs, **kw).collect()[0].asDict()
    assert set(funnel) == {
        "n_docs", "n_lang_pass", "n_quality_pass", "n_classifier_pass",
        "n_rules_pass", "n_clean", "n_eligible",
    }
    assert funnel["n_docs"] == 5
    assert funnel["n_lang_pass"] < 5   # the pt doc fails the lang gate
    assert funnel["n_clean"] == 4      # the leak doc is contaminated
    assert funnel["n_classifier_pass"] == 5  # bias +10 passes all
    assert 0 < funnel["n_eligible"] <= min(
        funnel["n_lang_pass"], funnel["n_quality_pass"], funnel["n_clean"]
    )
    survivors = curate_corpus(
        docs, near_dup_threshold=0.99, transitive=False, **kw
    ).count()
    assert survivors == funnel["n_eligible"]
    # no-benchmark shape: n_clean absent, one scan + one aggregate
    basic = curation_funnel(
        docs, languages=("en",), min_quality=0.2
    ).collect()[0].asDict()
    assert set(basic) == {
        "n_docs", "n_lang_pass", "n_quality_pass", "n_eligible",
    }


def test_prepare_training_shards_token_count_fn(spark):
    """The pluggable packing budget (r12 verdict task 5): (1) the default
    char-budget path keeps ZERO Python nodes in the executed plan — the
    hook must not tax the native default; (2) an injected Arrow
    ``pandas_udf`` tokenizer packs by ITS counts, pinned against an
    independent Python replay of the sequential-fill model."""
    from pyspark.sql.functions import pandas_udf

    from jurimetria_etl_spark.plans.curation import prepare_training_shards

    texts = [
        "the appellate court reviewed the evidence carefully and found "
        "that the lower ruling should stand without any modification at "
        "all in this case",
        "several engineers spent the afternoon debugging the pipeline "
        "and discovered that the scheduler had silently dropped work "
        "from the queue yesterday",
        "a long walk along the river revealed three herons standing in "
        "the shallows while the morning fog lifted over the water before "
        "breakfast time",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    kw = dict(
        min_quality=0.0, near_dup_threshold=0.99,
        chunk_chars=60, overlap_chars=10,
    )
    base = prepare_training_shards(docs, max_chars_per_shard=100, **kw)
    plan = base._jdf.queryExecution().executedPlan().toString()
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                 "FlatMapGroupsInPandas"):
        assert node not in plan, f"default path grew a {node}"

    # lambda form: the module's postponed annotations would turn hints
    # into unresolvable strings for the decorator form
    ws_tokens = pandas_udf(
        lambda s: s.str.split().str.len().fillna(0).astype("int64"),
        "long",
    )

    budget = 15  # tokens per shard — small enough to split shards
    out = prepare_training_shards(
        docs, max_chars_per_shard=budget, token_count_fn=ws_tokens, **kw
    ).collect()
    rows = sorted(out, key=lambda r: (r["doc_id"], r["chunk_idx"]))
    assert len(rows) > 3  # chunking actually split documents
    run, expected = 0, []
    for r in rows:  # python replay of sequential-fill on UDF counts
        expected.append(run // budget)
        run += len(r["chunk"].split())
    got = [r["shard_id"] for r in rows]
    assert got == expected
    assert len(set(got)) > 1  # the token budget split shards


def test_curation_funnel_span_axis_and_broadcast_gate(spark):
    """The two r12 funnel refinements: (1) ``decontam_spans=True`` adds
    an ``n_span_clean`` axis mirroring the pipeline's exact-span gate,
    so ``n_eligible`` matches ``curate_corpus(decontam_spans=True)``'s
    pre-dedup survivors instead of over-counting; (2) the benchmark
    probe keeps ``flag_contamination``'s explicit broadcast hint, while
    the span axis's hit set is corpus-sized and un-hinted (AQE sizes
    it), with identical counts either way."""
    from jurimetria_etl_spark.plans.curation import (
        curate_corpus,
        curation_funnel,
    )

    leak = "The answer to the ultimate question is forty-two, obviously."
    p0 = (
        "the appellate court reviewed the evidence carefully and found "
        "that the lower ruling should stand without any modification."
    )
    p1 = (
        "several engineers spent the afternoon debugging the pipeline "
        "and discovered that the scheduler had silently dropped work."
    )
    p2 = (
        "a long walk along the river revealed three herons standing in "
        "the shallows while the morning fog lifted over the water."
    )
    docs = spark.createDataFrame(
        [
            (0, p0),
            (1, p1),
            (2, p2 + " quoting now: " + leak + " end quote."),
        ],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame(
        [(900, "eval: " + leak)], "doc_id bigint, text string"
    )
    kw = dict(
        languages=("en",), min_quality=0.1, benchmark=bench,
        decontam_spans=True, span_len=40,
    )
    funnel = curation_funnel(docs, **kw).collect()[0].asDict()
    assert "n_span_clean" in funnel
    assert funnel["n_span_clean"] == 2  # doc 2 shares an exact span
    survivors = curate_corpus(
        docs, near_dup_threshold=0.99, transitive=False, **kw
    ).count()
    assert survivors == funnel["n_eligible"]
    # span gate without its benchmark text is a contract error, not a
    # silent over-count (same message class as curate_corpus)
    with pytest.raises(ValueError, match="decontam_spans"):
        curation_funnel(docs, decontam_spans=True)
    # with every automatic broadcast disabled only the benchmark probe's
    # hint plans a BroadcastExchange; the one-row audit is identical
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    old = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        shingles = curation_funnel(docs, benchmark=bench)
        spans = curation_funnel(docs, **kw)
        sp = shingles._jdf.queryExecution().executedPlan().toString()
        pp = spans._jdf.queryExecution().executedPlan().toString()
        assert sp.count("BroadcastExchange") == 1  # the benchmark probe
        assert pp.count("BroadcastExchange") == 1  # span hits: no hint
        assert spans.collect()[0].asDict() == funnel
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_funnel_span_axis_joins_hit_set_not_report(spark):
    """r13 verdict task 4, plan-pinned: the span axis must fold the
    DISTINCT contaminated-id set into the funnel, not
    ``flag_span_contamination``'s corpus-sized every-document report —
    the report shape re-keyed per-document rows (its ``docs.select(id)``
    left join) after the funnel's aggregate.  The report's
    ``n_shared_spans``/``n_bench_docs`` columns are the textual marker:
    they must never appear anywhere in the funnel's optimized plan."""
    from jurimetria_etl_spark.plans.curation import curation_funnel

    leak = "The answer to the ultimate question is forty-two, obviously."
    docs = spark.createDataFrame(
        [
            (0, "a calm and ordinary sentence about rivers and stones."),
            (1, "context before the leak " + leak + " and text after."),
        ],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame(
        [(9, "eval item: " + leak)], "doc_id bigint, text string"
    )
    funnel = curation_funnel(
        docs, languages=("en",), min_quality=0.0, benchmark=bench,
        decontam_spans=True, span_len=40,
    )
    plan = funnel._jdf.queryExecution().optimizedPlan().toString()
    assert "n_shared_spans" not in plan
    assert "n_bench_docs" not in plan
    row = funnel.collect()[0].asDict()
    assert row["n_docs"] == 2 and row["n_span_clean"] == 1


def test_probe_persist_lifecycle_is_bounded(spark):
    """Repeated gate and audit calls in one session leave no cached
    relation behind, local checkpoints included: no probe set is
    materialized while a plan is built."""
    from jurimetria_etl_spark.operators.decontaminate import (
        flag_contamination,
    )
    from jurimetria_etl_spark.operators.sampling import split_leakage_guarded
    from jurimetria_etl_spark.plans.curation import curation_funnel

    docs = spark.createDataFrame(
        [(i, f"w{i} shared words here and there {i}") for i in range(6)],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame(
        [(900, "shared words here and there")], "doc_id bigint, text string"
    )
    before = cached_relations(spark, checkpoints=True)
    for _ in range(3):
        assert flag_contamination(docs, bench, n=3).count() == 6
        assert split_leakage_guarded(docs, 0.5, n=3).count() == 6
    assert curation_funnel(docs, benchmark=bench).count() == 1
    assert cached_relations(spark, checkpoints=True) - before == set()
