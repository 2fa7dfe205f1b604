"""Sampling / shard-packing operators (operators/sampling.py): stability,
stratification, and the two-phase prefix sum's equality with the naive
global-window packing it replaces."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from jurimetria_etl_spark.operators.sampling import (
    deterministic_sample,
    pack_into_shards,
    stratified_sample,
)
from jurimetria_etl_spark.sources.fixtures import load_fixture

SF = "/root/testdata/sf0.001"


def test_deterministic_sample_is_stable_and_near_fraction(spark):
    docs = load_fixture(spark, SF, "documents")
    a = sorted(r["doc_id"] for r in deterministic_sample(docs, 0.3, "doc_id").collect())
    b = sorted(r["doc_id"] for r in deterministic_sample(docs, 0.3, "doc_id").collect())
    assert a == b  # same rows every run — not partitioning-dependent
    n = docs.count()
    assert 0.15 * n < len(a) < 0.45 * n  # loose band around the fraction

    # growing the fraction only ADDS rows (nested samples — hash threshold)
    c = set(r["doc_id"] for r in deterministic_sample(docs, 0.5, "doc_id").collect())
    assert set(a) <= c


def test_stratified_sample_respects_per_stratum_fractions(spark):
    docs = load_fixture(spark, SF, "documents")
    out = stratified_sample(
        docs, "lang", {"en": 0.0}, key_col="doc_id", default_fraction=1.0
    )
    kept = out.groupBy("lang").count().collect()
    assert all(r["lang"] != "en" for r in kept)  # en fully dropped
    other_in = docs.where(F.col("lang") != "en").count()
    assert sum(r["count"] for r in kept) == other_in  # rest fully kept


def test_pack_into_shards_matches_naive_global_window(spark):
    docs = load_fixture(spark, SF, "documents")
    fast = pack_into_shards(docs, "n_chars", "doc_id", 10_000).select(
        "doc_id", "shard_id"
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    naive = docs.select(
        "doc_id",
        F.floor(
            (F.sum("n_chars").over(w) - F.col("n_chars")) / F.lit(10_000)
        ).cast("bigint").alias("shard_id"),
    )
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, naive.collect())
    )


def test_pack_into_shards_sequential_fill_semantics(spark):
    rows = [(1, 400), (2, 400), (3, 400), (4, 1200), (5, 100)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    got = {
        r["doc_id"]: r["shard_id"]
        for r in pack_into_shards(df, "n_tok", "doc_id", 1000).collect()
    }
    # starts: 0, 400, 800, 1200, 2400 → shards 0,0,0,1,2
    assert got == {1: 0, 2: 0, 3: 0, 4: 1, 5: 2}


# ───────────────── round-8: split / leakage guard / per-domain ──────────────
def test_split_corpus_labels_stable_and_growth_invariant(spark):
    from jurimetria_etl_spark.operators.sampling import split_corpus

    docs = load_fixture(spark, SF, "documents")
    full = {
        r["doc_id"]: r["split"]
        for r in split_corpus(docs, 0.2, "doc_id").select("doc_id", "split").collect()
    }
    n_eval = sum(1 for v in full.values() if v == "eval")
    assert 0.1 * len(full) < n_eval < 0.3 * len(full)

    # a document's label never flips when OTHER documents arrive: labeling
    # any subset reproduces the full-corpus labels row-for-row
    sub = {
        r["doc_id"]: r["split"]
        for r in split_corpus(docs.where("doc_id % 3 = 0"), 0.2, "doc_id")
        .select("doc_id", "split")
        .collect()
    }
    assert sub == {k: v for k, v in full.items() if k % 3 == 0}


def test_split_leakage_guard_quarantines_overlapping_train_docs(spark):
    from jurimetria_etl_spark.operators.sampling import (
        split_corpus,
        split_leakage_guarded,
    )

    # discover the hash-stable labels first, then plant texts against them
    ids = spark.createDataFrame([(i,) for i in range(60)], "doc_id long")
    labels = {
        r["doc_id"]: r["split"]
        for r in split_corpus(ids, 0.25, "doc_id").collect()
    }
    evals = sorted(k for k, v in labels.items() if v == "eval")
    trains = sorted(k for k, v in labels.items() if v == "train")
    assert evals and len(trains) >= 2
    leaker = trains[0]  # copies an eval doc verbatim → must be quarantined

    rows = [
        (
            i,
            (
                f"w{evals[0]}a w{evals[0]}b w{evals[0]}c w{evals[0]}d "
                f"w{evals[0]}e w{evals[0]}f"
                if i == leaker
                else f"w{i}a w{i}b w{i}c w{i}d w{i}e w{i}f"
            ),
        )
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["split"]
        for r in split_leakage_guarded(
            docs, 0.25, n=3, min_overlap=2, min_overlap_ratio=0.5
        ).select("doc_id", "split").collect()
    }
    assert got[leaker] == "quarantine"
    # eval docs keep their label; non-overlapping train docs stay train
    assert all(got[i] == "eval" for i in evals)
    assert all(got[i] == "train" for i in trains[1:])


def test_contamination_probe_scans_docs_once(spark, tmp_path):
    """r8 verdict fix #2: flag_contamination must compute
    (n_shingles, overlap_cnt) in ONE pass over the doc side — the old
    shape scanned docs twice and SortMergeJoined the halves back.  Pin:
    exactly one FileScan of the docs parquet in the executed plan, no
    SortMergeJoin anywhere, values unchanged vs a python model."""
    from jurimetria_etl_spark.operators.decontaminate import flag_contamination

    dp, bp = str(tmp_path / "docs"), str(tmp_path / "bench")
    spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six"),
            (3, "short"),          # too short to shingle -> n_shingles 0
            (4, None),             # NULL text -> empty shingles, clean
        ],
        "doc_id long, text string",
    ).write.parquet(dp)
    spark.createDataFrame(
        [(9, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    ).write.parquet(bp)
    docs, bench = spark.read.parquet(dp), spark.read.parquet(bp)
    out = flag_contamination(docs, bench, n=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count(dp.rsplit("/", 1)[-1]) <= plan.count("Scan parquet")
    # one scan of the docs file; the bench side is its own single scan
    doc_scans = len(
        [ln for ln in plan.splitlines() if "Scan parquet" in ln and "docs" in ln]
    )
    assert doc_scans == 1, f"expected 1 docs scan, plan had {doc_scans}"
    assert "SortMergeJoin" not in plan
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["n_shingles"] == 4 and rows[1]["overlap_cnt"] == 4
    assert rows[1]["contaminated"] is True
    assert rows[2]["overlap_cnt"] == 0 and rows[2]["contaminated"] is False
    assert rows[3]["n_shingles"] == 0 and rows[3]["contaminated"] is False
    assert rows[4]["n_shingles"] == 0 and rows[4]["contaminated"] is False
    assert len(rows) == 4  # every doc gets a row, zero-shingle ones too


def test_contamination_size_gate_falls_back_to_shuffle(spark):
    """The guard's eval shingle set scales with the corpus (it is a split,
    not an external benchmark), so it carries no broadcast hint and AQE
    sizes the join; an external benchmark's set keeps its explicit hint.
    With every automatic broadcast disabled only the hint can plan a
    BroadcastExchange; the un-hinted probe's output is identical."""
    from jurimetria_etl_spark.operators.decontaminate import (
        _flag_against,
        benchmark_shingle_set,
        flag_contamination,
    )
    from jurimetria_etl_spark.operators.sampling import split_leakage_guarded

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(9, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    old = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        hinted = flag_contamination(docs, bench, n=3)
        unhinted = _flag_against(
            docs, benchmark_shingle_set(bench, n=3), "doc_id", "text", 3,
            1, 0.0,
        )
        guarded = split_leakage_guarded(docs, 0.5, n=3)
        hp = hinted._jdf.queryExecution().executedPlan().toString()
        up = unhinted._jdf.queryExecution().executedPlan().toString()
        gp = guarded._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in hp  # external benchmark: hinted
        assert "BroadcastExchange" not in up  # no hint: AQE decides
        assert "BroadcastExchange" not in gp  # the split's eval side
        assert sorted(map(tuple, hinted.collect())) == sorted(
            map(tuple, unhinted.collect())
        )
        assert guarded.count() == 2
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_top_k_per_domain_k_fraction_and_tie_semantics(spark):
    import pytest

    from jurimetria_etl_spark.operators.sampling import top_k_per_domain

    rows = [
        # domain a: scores 9,7,7,1 — k=2 keeps 9 and the LOWER-id 7
        (1, "a", 9.0), (2, "a", 7.0), (3, "a", 7.0), (4, "a", 1.0),
        # domain b: 5 rows, fraction .2 → ceil(1) row
        (5, "b", 5.0), (6, "b", 4.0), (7, "b", 3.0), (8, "b", 2.0), (9, "b", 1.0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, domain string, score double")
    by_k = {
        r["doc_id"]
        for r in top_k_per_domain(df, "domain", "score", k=2).collect()
    }
    assert by_k == {1, 2, 5, 6}  # tie at 7.0 breaks to doc_id 2

    by_frac = {
        (r["domain"], r["doc_id"])
        for r in top_k_per_domain(df, "domain", "score", fraction=0.2).collect()
    }
    assert by_frac == {("a", 1), ("b", 5)}  # ceil(4·.2)=1, ceil(5·.2)=1

    asc = {
        r["doc_id"]
        for r in top_k_per_domain(
            df, "domain", "score", k=1, descending=False
        ).collect()
    }
    assert asc == {4, 9}

    with pytest.raises(ValueError):
        top_k_per_domain(df, "domain", "score")
    with pytest.raises(ValueError):
        top_k_per_domain(df, "domain", "score", k=1, fraction=0.5)


def test_top_fraction_per_domain_has_no_forced_broadcast(spark):
    """r8 review: the per-domain count is unbounded in |domains| — it
    must ride the rank window's own partitioning (one exchange, two
    window functions), never a forced broadcast join."""
    from jurimetria_etl_spark.operators.sampling import top_k_per_domain

    docs = load_fixture(spark, SF, "documents")
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    old = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        out = top_k_per_domain(docs, "source", "n_chars", fraction=0.2)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan
        assert out.count() > 0
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_pack_shuffled_shards_matches_python_model(spark):
    """The seeded shuffle's full python model: md5-permute, sequential
    fill — bit-identical shard assignment, and reproducible from the
    seed alone."""
    import hashlib

    from jurimetria_etl_spark.operators.sampling import (
        pack_shuffled_shards,
    )

    docs = load_fixture(spark, SF, "documents").select("doc_id", "n_chars")
    rows = {r["doc_id"]: r["n_chars"] for r in docs.collect()}

    def model(seed):
        order = sorted(
            rows,
            key=lambda d: hashlib.md5(
                f"shuffle:{seed}:{d}".encode()
            ).hexdigest(),
        )
        out, total = {}, 0
        for d in order:
            out[d] = total // 10_000
            total += rows[d]
        return out

    got = {
        r["doc_id"]: r["shard_id"]
        for r in pack_shuffled_shards(
            docs, "n_chars", "doc_id", 10_000, seed="7"
        ).collect()
    }
    assert got == model("7")
    # same seed → identical shards on a re-run; a different seed is a
    # different permutation (and therefore different shard contents)
    again = {
        r["doc_id"]: r["shard_id"]
        for r in pack_shuffled_shards(
            docs, "n_chars", "doc_id", 10_000, seed="7"
        ).collect()
    }
    assert again == got
    other = {
        r["doc_id"]: r["shard_id"]
        for r in pack_shuffled_shards(
            docs, "n_chars", "doc_id", 10_000, seed="8"
        ).collect()
    }
    assert other == model("8") and other != got
