"""Full-composition streaming curation: every optional axis enabled at
once — line strip, span strip, classifier gate, Bloom word-log, SemDeDup
store, span-fingerprint store, and the r9 text-index store.  The
per-feature tests pin each axis alone; this pins their COMPOSITION
(gate order, append order, and store consistency when everything is
on), because a regression in the interplay would pass every individual
test."""

from __future__ import annotations

import time

import numpy as np

from jurimetria_etl_spark.operators.search import bm25_search, load_text_index
from jurimetria_etl_spark.storefs import store_data_dir
from jurimetria_etl_spark.streaming.curation import curate_document_stream

DIM = 6
RNG = np.random.default_rng(33)

NAV = "HOME | ABOUT | CONTACT | PRIVACY POLICY TERMS"
BANNER = "SPONSORED CONTENT - CLICK HERE TO LEARN MOR"[:40]
GOOD1 = "careful rigorous measurement of the tree depth and physics"
GOOD2 = "students learn algebra geometry and mathematical logic today"
SPAM = "win big casino bonus click now free spins jackpot prize offer"

SCHEMA = (
    "doc_id bigint, source string, lang string, text string, "
    "embedding array<float>"
)

# weights that separate GOOD from SPAM via the hashed features: train a
# tiny model inline in the fixture instead of hand-tuning literals


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, "drop", "en", t, [float(x) for x in v]) for i, t, v in rows],
        SCHEMA,
    )


def _read_stream(spark, path):
    return (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def test_all_axes_compose(spark, tmp_path):
    from tests.conftest import stage_drop as _drop

    from jurimetria_etl_spark.operators.classify import train_hashed_linear

    labeled = spark.createDataFrame(
        [(0, GOOD1, 1), (1, GOOD2, 1), (2, SPAM, 0),
         (3, "cheap pills discount offer buy now limited deal", 0)],
        "doc_id long, text string, label int",
    )
    w, b = train_hashed_linear(labeled, "label", n_features=64, iters=200)

    v = {i: RNG.normal(size=DIM) for i in range(4)}
    batch0 = [
        # doc 0: good text wrapped in boilerplate line + span
        (0, NAV + "\n" + GOOD1 + " " + BANNER, v[0]),
        # doc 1: spam -> classifier gate must reject it
        (1, NAV + "\n" + SPAM, v[1]),
    ]
    batch1 = [
        # doc 10: differs from doc 0 ONLY by boilerplate -> exact dup
        # after strips -> dropped
        (10, GOOD1, v[0] + 1e-4),
        # doc 11: novel good text, novel embedding -> lands
        (11, GOOD2 + " " + BANNER, v[2]),
        # doc 12: novel good TEXT but embedding ~= doc 0 -> semdedup drop
        (12, "a rigorous novel treatise on graph theory and proofs",
         v[0] + 1e-4),
    ]
    flat = str(tmp_path / "flat")
    base_t = time.time() - 3600
    _drop(_docs(spark, batch0), flat, "000", base_t)
    _drop(_docs(spark, batch1), flat, "001", base_t + 60)

    cents = [(k, [float(x) for x in RNG.normal(size=DIM)]) for k in range(2)]
    dirs = {
        n: str(tmp_path / n)
        for n in ("corpus", "fps", "sigs", "ckpt", "sem", "spanfp",
                  "bloom", "tindex")
    }
    q = curate_document_stream(
        _read_stream(spark, flat),
        dirs["corpus"], dirs["fps"], dirs["sigs"], dirs["ckpt"],
        strip_lines=spark.createDataFrame([(NAV,)], "line string"),
        strip_spans=spark.createDataFrame([(BANNER,)], "span string"),
        classifier=(w, b),
        classifier_threshold=0.5,
        bloom_store_dir=dirs["bloom"],
        bloom_capacity=10_000,
        semdedup_store_dir=dirs["sem"],
        semdedup_centroids=cents,
        semdedup_eps=0.99,
        span_fp_store_dir=dirs["spanfp"],
        text_index_dir=dirs["tindex"],
    )
    assert q.awaitTermination(240)

    landed = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(store_data_dir(dirs["corpus"])).collect()
    }
    # 0 survives (stripped), 1 spam-gated, 10 exact-dup of stripped 0,
    # 11 survives (stripped), 12 semantic-dup of 0's vector
    assert set(landed) == {0, 11}
    assert all(NAV not in t and BANNER not in t for t in landed.values())

    # every store holds rows for exactly the survivors
    fps = spark.read.parquet(store_data_dir(dirs["fps"]))
    assert fps.count() == 2
    sem = spark.read.parquet(store_data_dir(dirs["sem"]))
    assert {r["doc_id"] for r in sem.collect()} == {0, 11}
    spanfp = spark.read.parquet(store_data_dir(dirs["spanfp"]))
    assert {r["doc_id"] for r in spanfp.collect()} == {0, 11}
    idx = load_text_index(spark, dirs["tindex"])
    assert {r["doc_id"] for r in idx.doc_lens.collect()} == {0, 11}

    # retrieval over the composed result: boilerplate terms are gone
    # from the index, content terms resolve
    qdf = spark.createDataFrame(
        [(1, "rigorous measurement physics"), (2, "sponsored content")],
        "query_id int, query_text string",
    )
    hits = bm25_search(idx, qdf, k=5).collect()
    assert {r["doc_id"] for r in hits if r["query_id"] == 1} == {0}
    assert not [r for r in hits if r["query_id"] == 2]  # stripped away
