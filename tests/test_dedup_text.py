"""Unit tests for the dedup / text-analysis / similarity extension operators
(E1–E4): semantic properties, not just smoke — LSH recall, jaccard symmetry,
signature determinism, and the planted near-dups in the fixture corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from jurimetria_etl_spark.operators import dedup as D
from jurimetria_etl_spark.operators import similarity as S
from jurimetria_etl_spark.operators import text as X

SF = "/root/testdata/sf0.001"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_word_shingles_short_doc_empty(spark):
    df = _docs(spark, [(1, "only two"), (2, "a b c d")])
    got = {r["doc_id"]: r["sh"] for r in df.select(
        "doc_id", D.word_shingles("text", 3).alias("sh")).collect()}
    assert got[1] == []
    assert got[2] == ["a b c", "b c d"]


def test_fingerprint_normalizes_whitespace_and_case(spark):
    df = _docs(spark, [(1, "Hello  World"), (2, "hello world"), (3, "different")])
    fps = {r["doc_id"]: r["fp"] for r in df.select(
        "doc_id", D.fingerprint("text").alias("fp")).collect()}
    assert fps[1] == fps[2] != fps[3]


def test_dedup_by_fingerprint_keeps_min_id(spark):
    df = _docs(spark, [(1, "same text"), (2, "same  TEXT"), (3, "other")])
    kept = sorted(r["doc_id"] for r in D.dedup_by_fingerprint(df, "text", "doc_id").collect())
    assert kept == [1, 3]


def test_minhash_identical_texts_identical_sigs(spark):
    t = "the quick brown fox jumps over the lazy dog again and again"
    df = _docs(spark, [(1, t), (2, t), (3, "completely unrelated words here of many kinds")])
    sigs = {r["doc_id"]: r["m"] for r in D.add_minhash(df, "text", sig_col="m").collect()}
    assert sigs[1] == sigs[2] != sigs[3]
    assert len(sigs[1]) == 8
    # independent permutations: salts must differ
    assert len(set(sigs[1])) > 1


def test_minhash_near_duplicates_finds_planted_pair(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    near = base + " nu"
    df = _docs(spark, [(1, base), (2, near), (3, "totally different content with other words entirely")])
    pairs = D.minhash_near_duplicates(df, "doc_id", "text", threshold=0.5).collect()
    assert [(p["left_id"], p["right_id"]) for p in pairs] == [(1, 2)]
    assert pairs[0]["jaccard"] > 0.8


def test_minhash_candidate_pairs_matches_duckdb(spark, duck):
    """The LSH candidate join (k=8, bands=4×2, 3-gram shingles) on the
    documents table against a DuckDB re-derivation: the same md5 shingle
    hashes, permutation minima and band keys, self-joined on (band, bkey)."""
    from jurimetria_etl_spark.plans.extensions import (
        _BASE_HASHES,
        _minhash_sigs_sql,
        h60,
        shingles_sql,
    )
    from jurimetria_etl_spark.sources.fixtures import load_fixture

    sql = f"""
WITH sh AS (SELECT doc_id, {shingles_sql(3)} AS shingles FROM documents),
hs AS (SELECT doc_id, {_BASE_HASHES} AS base FROM sh),
sig AS (SELECT doc_id, [{_minhash_sigs_sql(8)}] AS sig FROM hs),
banded AS (
  SELECT doc_id, b,
         {h60("array_to_string(sig[b*2+1 : b*2+2], ',')")} AS bkey
  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) bs
)
SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
FROM banded l JOIN banded r
  ON l.b = r.b AND l.bkey = r.bkey AND l.doc_id < r.doc_id
"""
    docs = load_fixture(spark, SF, "documents")
    got = D.minhash_candidate_pairs(docs, "doc_id", "text", k=8, bands=4, n=3)
    want = duck.sql(sql).fetchall()
    assert want
    assert sorted(map(tuple, got.collect())) == sorted(want)


def test_ngram_jaccard_exact_value(spark):
    # shingle sets: {a b c, b c d} vs {a b c}; jaccard = 1/2
    df = _docs(spark, [(1, "a b c d"), (2, "a b c")])
    pairs = D.ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.0).collect()
    assert len(pairs) == 1 and abs(pairs[0]["jaccard"] - 0.5) < 1e-9


def test_simhash_near_dup_and_hamming(spark):
    t = "spark engine table scan filter join aggregate window sort merge"
    df = _docs(spark, [(1, t), (2, t), (3, "x y z entirely different tokens")])
    pairs = D.simhash_near_duplicates(df, "doc_id", "text", max_hamming=0).collect()
    assert [(p["left_id"], p["right_id"], p["hamming"]) for p in pairs] == [(1, 2, 0)]


def test_lang_id_heuristics(spark):
    df = _docs(
        spark,
        [
            (1, "the cat is on the roof of the house and it is happy"),
            (2, "le chat est sur le toit de la maison et les oiseaux"),
            (3, "el gato y los perros en la casa una vez"),
            (4, "der hund und die katze das ist ein haus nicht"),
            (5, "这是一个中文文档"),
            (6, "zzz qqq www"),
        ],
    )
    got = {r["doc_id"]: r["lang"] for r in df.select(
        "doc_id", X.lang_id("text").alias("lang")).collect()}
    assert got == {1: "en", 2: "fr", 3: "es", 4: "de", 5: "zh", 6: "und"}


def test_quality_score_bounds_and_null(spark):
    df = _docs(spark, [(1, "the of and is a to in word " * 10), (2, "")])
    got = {r["doc_id"]: r["q"] for r in df.select(
        "doc_id", X.quality_score("text").alias("q")).collect()}
    assert got[1] is not None and 0.0 <= got[1] <= 1.0
    assert got[2] is None  # empty doc → NULL, not a crash


def test_token_counts(spark):
    df = _docs(spark, [(1, "Hello, world! 42 times")])
    r = df.select(
        X.token_count("text").alias("ws"),
        X.bpe_ish_token_count("text").alias("bpe"),
        X.chars_per_token_estimate("text").alias("est"),
    ).first()
    assert r["ws"] == 4
    # hello , world ! 42 times → 6 chunks
    assert r["bpe"] == 6
    assert r["est"] == 6  # ceil(22/4)
    # r9: accented Portuguese words are ONE chunk each, not per-char
    # symbol shrapnel ('ação' was 4 chunks under the old ASCII class)
    pt = _docs(spark, [(1, "ação de indenização")])
    assert pt.select(
        X.bpe_ish_token_count("text").alias("bpe")
    ).first()["bpe"] == 3


def test_lsh_topk_recall_vs_brute_force(spark):
    """x13's approximation quality: LSH top-5 must recover ≥3 of the exact
    brute-force top-5 for a fixed probe/seed (deterministic given both)."""
    from jurimetria_etl_spark.sources.fixtures import load_fixture

    emb = load_fixture(spark, SF, "embeddings")
    exact = {r["vec_id"] for r in S.cosine_topk(emb, probe_id=1, k=5).collect()}
    approx = {
        r["vec_id"]
        for r in S.lsh_bucket_topk(
            emb, probe_id=1, k=5, dim=64, n_planes=4, n_tables=8
        ).collect()
    }
    assert len(exact) == 5
    assert len(exact & approx) >= 3


def test_cosine_similarity_join_threshold(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = S.cosine_similarity_join(df, df, threshold=0.9, dim=3, n_planes=2).collect()
    assert {(p["left_id"], p["right_id"]) for p in pairs} == {(1, 2)}


def test_dedup_by_fingerprint_duplicate_keep_ids_no_leak(spark):
    # keep-id 1 appears in two different fingerprint groups; the (fp, keep)
    # semi-join must not let a loser from another group ride id 1 through.
    df = _docs(spark, [(1, "group one"), (1, "group two"), (2, "group one")])
    kept = sorted(
        (r["doc_id"], r["text"])
        for r in D.dedup_by_fingerprint(df, "text", "doc_id").collect()
    )
    # winners: (1, "group one") [min id of its group] and (1, "group two")
    assert kept == [(1, "group one"), (1, "group two")]


def test_ngram_jaccard_hot_shingle_cap(spark):
    # every doc shares the same hot 3-gram; two docs additionally share
    # genuine content.  With the DF cap, the hot-only pairs disappear.
    hot = "common boiler plate"
    rows = [
        (1, hot + " alpha beta gamma delta epsilon"),
        (2, hot + " alpha beta gamma delta zeta"),
        (3, hot + " totally different words here now"),
        (4, hot + " other unrelated content words too"),
    ]
    df = _docs(spark, rows)
    uncapped = D.ngram_jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.01, max_shingle_df=None
    )
    assert len(uncapped.collect()) == 6  # all pairs share the hot shingle
    capped = D.ngram_jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.01, max_shingle_df=3
    )
    got = sorted((r["left_id"], r["right_id"]) for r in capped.collect())
    assert got == [(1, 2)]  # only the genuinely-overlapping pair survives


def test_ngram_jaccard_capped_is_lower_bound(spark):
    """Property: with ANY df cap, the reported pair set is a subset of the
    exact pair set, and every reported jaccard is ≤ the exact jaccard for
    that pair (hot shingles only ever leave the intersection count)."""
    import random

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(12)]  # tiny vocab → many hot shingles
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(6, 20))))
        for i in range(24)
    ]
    df = _docs(spark, rows)
    exact = {
        (r["left_id"], r["right_id"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=0.05, max_shingle_df=None
        ).collect()
    }
    for cap in (1, 3, 8):
        capped = {
            (r["left_id"], r["right_id"]): r["jaccard"]
            for r in D.ngram_jaccard_pairs(
                df, "doc_id", "text", n=3, threshold=0.05, max_shingle_df=cap
            ).collect()
        }
        assert set(capped) <= set(exact), f"cap={cap} reported a non-exact pair"
        for pair, j in capped.items():
            assert j <= exact[pair] + 1e-9, f"cap={cap} inflated {pair}"


def test_cosine_pairs_exact_guard(spark):
    import pytest

    emb = spark.range(10).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="O\\(N²\\)"):
        S.cosine_pairs_exact(emb, threshold=0.5, max_rows=5)
    # under the bound it runs
    assert S.cosine_pairs_exact(emb, threshold=0.5, max_rows=100).count() == 45


def test_cosine_similarity_join_distinct_inputs_keeps_all_pairs(spark):
    # with distinct left/right frames the id-ordering dedup must NOT apply:
    # right ids are all smaller than left ids here, so the old left<right
    # filter would return zero pairs.
    left = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0, 0.0]), (11, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    right = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    pairs = S.cosine_similarity_join(
        left, right, threshold=0.9, dim=4, n_planes=2, n_tables=4
    ).collect()
    assert [(p["left_id"], p["right_id"]) for p in pairs] == [(10, 1)]


def test_lsh_join_is_sound_subset_of_exact_pairs(spark):
    """Soundness of the LSH scale path: every pair x13 reports must appear
    in the exact all-pairs output with the SAME similarity (candidates are
    exactly re-scored, so LSH can miss pairs but never invent or inflate
    them)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r["left_id"], r["right_id"]): r["cos_sim"]
        for r in S.cosine_pairs_exact(emb, threshold=0.4).collect()
    }
    lsh = S.cosine_similarity_join(
        emb, emb, threshold=0.4, dim=64, n_planes=4, n_tables=8
    ).collect()
    assert len(lsh) > 0
    for r in lsh:
        key = (r["left_id"], r["right_id"])
        assert key in exact and exact[key] == r["cos_sim"]


def test_cosine_topk_pandas_matches_jvm_fold(spark):
    """The Arrow-vectorized path returns the same neighbors and (rounded)
    similarities as the JVM fold baseline."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    jvm = S.cosine_topk(emb, probe_id=1, k=5, round_to=4).collect()
    arrow = S.cosine_topk_pandas(emb, probe_id=1, k=5, round_to=4).collect()
    assert [(r["vec_id"], r["cos_sim"]) for r in arrow] == [
        (r["vec_id"], r["cos_sim"]) for r in jvm
    ]


def test_near_dup_clusters_transitive_chain(spark):
    # A~B and B~C (but never A~C directly) must collapse to ONE cluster —
    # the failure mode greedy pairwise keep-one cannot handle
    from jurimetria_etl_spark.operators.dedup import (
        dedup_keep_one_per_cluster,
        near_dup_clusters,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "left_id long, right_id long"
    )
    comp = {r["id"]: r["cluster_id"] for r in near_dup_clusters(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in (1, 2, 3, 10, 11, 99)],
        "doc_id long, text string",
    )
    survivors = sorted(
        r["doc_id"] for r in dedup_keep_one_per_cluster(docs, pairs).collect()
    )
    assert survivors == [1, 10, 99]


def test_dedup_embeddings_keep_one_collapses_planted_near_dups(spark):
    # pairs above the threshold (per the exact baseline) must lose all but
    # their cluster minimum; everything unpaired survives
    from jurimetria_etl_spark.operators.similarity import (
        cosine_pairs_exact,
        cosine_similarity_join,
        dedup_embeddings_keep_one,
    )
    from jurimetria_etl_spark.sources.fixtures import load_fixture

    emb = load_fixture(spark, "/root/testdata/sf0.001", "embeddings")
    survivors = {
        r["vec_id"]
        for r in dedup_embeddings_keep_one(emb, 0.45, dim=64).collect()
    }
    pairs = cosine_similarity_join(emb, emb, 0.45, dim=64).collect()
    all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    paired = {r["left_id"] for r in pairs} | {r["right_id"] for r in pairs}
    # unpaired ids all survive
    assert (all_ids - paired) <= survivors
    # every pair lost at least one side, and the kept side is the smaller
    for r in pairs:
        assert not (r["left_id"] in survivors and r["right_id"] in survivors)
    # survivors within the paired set are exactly the cluster minima —
    # cross-check count via union-find over the pair list
    parent = {i: i for i in paired}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        a, b = find(r["left_id"]), find(r["right_id"])
        if a != b:
            parent[max(a, b)] = min(a, b)
    minima = {find(i) for i in paired}
    assert (survivors & paired) == minima


def test_chunk_documents_windows_and_edges(spark):
    from jurimetria_etl_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [(1, "abcdefghij"), (2, ""), (3, "xyz")], "doc_id long, text string"
    )
    got = sorted(
        (r["doc_id"], r["chunk_idx"], r["chunk"])
        for r in chunk_documents(df, chunk_chars=4, overlap_chars=1).collect()
    )
    # len=10, step=3: 10 mod 3 = 1 == overlap, so a 4th chunk "j" would be
    # fully contained in "ghij" — the contributes-new-characters rule
    # (ceil(greatest(len-overlap,1)/step)) stops at 3 chunks.
    assert got == [
        (1, 0, "abcd"),
        (1, 1, "defg"),
        (1, 2, "ghij"),
        (2, 0, ""),   # empty doc -> one empty chunk
        (3, 0, "xyz"),
    ]
    # overlap: consecutive chunks share overlap_chars characters
    assert got[0][2][-1] == got[1][2][0]
    # every character is still covered exactly once by chunk starts
    assert "".join(c[: 4 - 1] for _, _, c in got[:3]) + got[2][2][-1:] == "abcdefghij"

    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_chars=4, overlap_chars=4)


def test_near_dup_clusters_raises_when_not_converged(spark):
    # a 6-node chain has diameter 5; with max_iters=2 labels cannot reach
    # the far end — the operator must refuse to return inconsistent labels
    import pytest as _pytest

    from jurimetria_etl_spark.operators.dedup import near_dup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "left_id long, right_id long"
    )
    with _pytest.raises(RuntimeError, match="not converged"):
        near_dup_clusters(chain, max_iters=2, max_driver_pairs=0)
    # and with enough rounds the same chain collapses to one cluster
    comp = near_dup_clusters(chain, max_iters=10, max_driver_pairs=0)
    assert {r["cluster_id"] for r in comp.collect()} == {1}


def test_near_dup_clusters_paths_agree(spark):
    """Bounded union-find and iterative label propagation must emit the
    IDENTICAL (id, min-reachable-id) labeling on the fixture pair graph."""
    from jurimetria_etl_spark.operators.dedup import (
        minhash_near_duplicates,
        near_dup_clusters,
    )
    from jurimetria_etl_spark.sources.fixtures import load_fixture

    docs = load_fixture(spark, SF, "documents")
    pairs = minhash_near_duplicates(docs, "doc_id", "text", threshold=0.7)
    fast = {
        (r["id"], r["cluster_id"]) for r in near_dup_clusters(pairs).collect()
    }
    slow = {
        (r["id"], r["cluster_id"])
        for r in near_dup_clusters(pairs, max_driver_pairs=0).collect()
    }
    assert fast == slow and fast


def test_minhash_incremental_matches_batch_pair_graph(spark):
    """Incremental near-dup dedup against a persisted store must drop
    exactly what the batch operator's pair graph implies: new docs paired
    with any store doc, plus the greater id of every verified new-new
    pair.  Expected set derived from minhash_near_duplicates on the full
    corpus (identical signature pipeline ⇒ identical candidates; hashed
    vs string shingle jaccard differ only on md5 collisions)."""
    from jurimetria_etl_spark.operators.dedup import (
        build_near_dup_store,
        minhash_dedup_incremental,
        minhash_near_duplicates,
    )
    from jurimetria_etl_spark.sources.fixtures import load_fixture

    docs = load_fixture(spark, SF, "documents")
    base = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)

    pairs = {
        (r["left_id"], r["right_id"])
        for r in minhash_near_duplicates(
            docs, "doc_id", "text", threshold=0.7
        ).collect()
    }
    assert pairs, "fixture corpus should contain planted near-dups"
    drops = set()
    for lo, hi in pairs:
        if lo % 2 == 0 and hi % 2 == 1:
            drops.add(hi)
        elif lo % 2 == 1 and hi % 2 == 0:
            drops.add(lo)
        elif lo % 2 == 1 and hi % 2 == 1:
            drops.add(hi)
    expected = {
        r["doc_id"] for r in new.select("doc_id").collect()
    } - drops

    store = build_near_dup_store(base)
    got = {
        r["doc_id"]
        for r in minhash_dedup_incremental(
            new, store, threshold=0.7
        ).collect()
    }
    assert got == expected


def test_near_dup_store_schema_stable(spark):
    """Store rows from different batches with the same params are
    union/join-compatible (the append contract)."""
    from jurimetria_etl_spark.operators.dedup import build_near_dup_store
    from jurimetria_etl_spark.sources.fixtures import load_fixture

    docs = load_fixture(spark, SF, "documents")
    a = build_near_dup_store(docs.limit(10))
    b = build_near_dup_store(docs.limit(20))
    assert a.schema == b.schema
    assert a.unionByName(b).count() == 30


def test_near_dup_clusters_string_ids_iterative_path(spark):
    """r8 review: the iterative path's convergence probe must be
    type-agnostic — with STRING ids a sum-of-labels check casts to NULL
    and declares convergence after one round, mislabeling chains.  Both
    paths must agree on string ids exactly as they do on longs."""
    from jurimetria_etl_spark.operators.dedup import near_dup_clusters

    # chain c~b, b~a plus an isolated pair z~y: min labels {a, y}
    pairs = spark.createDataFrame(
        [("c", "b"), ("b", "a"), ("z", "y")],
        "left_id string, right_id string",
    )
    slow = {
        (r["id"], r["cluster_id"])
        for r in near_dup_clusters(pairs, max_driver_pairs=0).collect()
    }
    fast = {
        (r["id"], r["cluster_id"])
        for r in near_dup_clusters(pairs).collect()
    }
    want = {("a", "a"), ("b", "a"), ("c", "a"), ("y", "y"), ("z", "y")}
    assert slow == want and fast == want
