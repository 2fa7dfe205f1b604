"""Extension-query corpus: the LLM-training-data pipeline operators
(SURVEY §2.12 / BASELINE.json north_star) with DuckDB oracles.

Oracles recompute the SAME signatures/heuristics in SQL — portability is
why every hash in operators/dedup.py is md5-derived (``hash60``) rather
than Spark's murmur3.  Long repetitive oracle SQL (per-bit simhash votes,
per-permutation minhash) is generated programmatically below.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jurimetria_etl_spark.memo import session_memo
from jurimetria_etl_spark.operators import dedup as D
from jurimetria_etl_spark.operators import similarity as S
from jurimetria_etl_spark.operators import text as X
from jurimetria_etl_spark.plans.corpus import _t
from jurimetria_etl_spark.session import local_frame

# ── SQL fragment builders (DuckDB dialect) ─────────────────────────────────
TOKS = "string_split(trim(text), ' ')"
# Linguistic tokenization (dedup.ws_words): whitespace-RUN split, empties
# dropped — used by every oracle replicating word-count/stopword/lang-ID
# metrics.  TOKS above remains the structural single-space split of the
# shingle/fingerprint family.
WS_TOKS = r"list_filter(string_split_regex(trim(text), '\s+'), w -> w <> '')"
WS_TOKS_LC = (
    r"list_filter(string_split_regex(trim(lower(text)), '\s+'), "
    "w -> w <> '')"
)


def h60(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def shingles_sql(n: int = 3) -> str:
    return (
        f"list_distinct(list_transform(generate_series(1, len({TOKS}) - {n - 1}), "
        f"i -> array_to_string({TOKS}[i:i+{n - 1}], ' ')))"
    )


# ───────────────────────────── queries ─────────────────────────────────────
def x01_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text dedup over documents (E1): distinct fingerprint count."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(D.fingerprint("text").alias("fp")).distinct().agg(
        F.count("*").alias("cnt")
    )


_NORM_TEXT = r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"

X01_SQL = f"""
SELECT count(*) AS cnt FROM (
  SELECT DISTINCT {h60(_NORM_TEXT)} AS fp
  FROM documents) t
"""


def _minhash_sigs_sql(k: int) -> str:
    """The k per-permutation minima over the staged ``base`` hash array —
    same (a_i, b_i) literals as operators/dedup.py."""
    return ", ".join(
        f"list_aggregate(list_transform(base, h -> "
        f"({a} * h + {b}) % {D.MINHASH_PRIME}), 'min')"
        for a, b in D.minhash_coeffs(k)
    )


_BASE_HASHES = (
    f"list_transform(shingles, s -> {h60('s')} % {D.MINHASH_PRIME})"
)


def x05_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash near-dup pipeline: LSH candidates + exact-Jaccard
    verification at 0.5."""
    return D.minhash_near_duplicates(
        _t(spark, sf_dir, "documents"), "doc_id", "text", threshold=0.5
    )


X05_SQL = f"""
WITH sh AS (SELECT doc_id, {shingles_sql(3)} AS shingles FROM documents),
hs AS (SELECT doc_id, shingles, {_BASE_HASHES} AS base FROM sh),
sig AS (SELECT doc_id, [{_minhash_sigs_sql(8)}] AS sig FROM hs),
banded AS (
  SELECT doc_id, b, {h60("array_to_string(sig[b*2+1 : b*2+2], ',')")} AS bkey
  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) bs
),
cand AS (
  SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
  FROM banded l JOIN banded r ON l.b = r.b AND l.bkey = r.bkey AND l.doc_id < r.doc_id
)
SELECT c.left_id, c.right_id,
       round(len(list_intersect(a.shingles, b.shingles)) * 1.0
             / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) AS jaccard
FROM cand c JOIN sh a ON c.left_id = a.doc_id JOIN sh b ON c.right_id = b.doc_id
WHERE round(len(list_intersect(a.shingles, b.shingles)) * 1.0
            / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) >= 0.5
"""


# Simhash signatures are stored once at ingest in a production corpus
# (memo.py); x08 reads the persisted frame.
@session_memo
def _simhash_sigs(spark: SparkSession, sf_dir: str, bits: int = 48) -> DataFrame:
    sigs = D.add_simhash(
        _t(spark, sf_dir, "documents"), "text", bits, "__sig"
    ).select("doc_id", "__sig")
    return sigs.persist()


def x08_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: banded candidates + hamming ≤ 3 verify.
    Signatures come from the per-session persisted cache (computed once —
    the ingest-time persistence story at 100 TB)."""
    return D.simhash_near_duplicates(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        bits=48,
        max_hamming=3,
        band_bits=12,
        sig_frame=_simhash_sigs(spark, sf_dir, bits=48),
    )


def _x08_sql(bits: int = 16, band_bits: int = 4, max_hamming: int = 3) -> str:
    votes = " + ".join(
        f"(CASE WHEN list_aggregate(list_transform(hs, h -> "
        f"CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END), 'sum') >= 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(bits)
    )
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    return f"""
WITH th AS (SELECT doc_id, list_transform({TOKS}, t -> {h60("t")}) AS hs FROM documents),
sig AS (SELECT doc_id, CAST({votes} AS BIGINT) AS sig FROM th),
banded AS (
  SELECT doc_id, sig, b, (sig >> (b * {band_bits})) & {mask} AS bval
  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, {n_bands - 1})) AS b) bs
)
SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id,
       bit_count(xor(l.sig, r.sig)) AS hamming
FROM banded l JOIN banded r
  ON l.b = r.b AND l.bval = r.bval AND l.doc_id < r.doc_id
WHERE bit_count(xor(l.sig, r.sig)) <= {max_hamming}
"""


def _lang_filter_sql(words: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter(toks, x -> x IN ({inlist})))"


X09_SQL = f"""
WITH t AS (SELECT doc_id, text, {WS_TOKS_LC} AS toks FROM documents),
s AS (SELECT doc_id, text,
  {_lang_filter_sql(X.LANG_STOPWORDS["en"])} AS en,
  {_lang_filter_sql(X.LANG_STOPWORDS["pt"])} AS pt,
  {_lang_filter_sql(X.LANG_STOPWORDS["fr"])} AS fr,
  {_lang_filter_sql(X.LANG_STOPWORDS["es"])} AS es,
  {_lang_filter_sql(X.LANG_STOPWORDS["de"])} AS de
  FROM t)
SELECT doc_id,
  CASE WHEN text IS NULL THEN 'und'
       WHEN regexp_matches(text, '{X.CJK_PATTERN}') THEN 'zh'
       WHEN greatest(en, pt, fr, es, de) = 0 THEN 'und'
       WHEN en = greatest(en, pt, fr, es, de) THEN 'en'
       WHEN pt = greatest(en, pt, fr, es, de) THEN 'pt'
       WHEN fr = greatest(en, pt, fr, es, de) THEN 'fr'
       WHEN es = greatest(en, pt, fr, es, de) THEN 'es'
       ELSE 'de' END AS lang_pred
FROM s
"""


_EN = ", ".join(f"'{w}'" for w in X.LANG_STOPWORDS["en"])
X10_SQL = f"""
WITH t AS (SELECT doc_id, {WS_TOKS_LC} AS toks FROM documents),
s AS (SELECT doc_id,
        len(toks) AS n_tok,
        len(list_distinct(toks)) AS n_uniq,
        len(list_filter(toks, x -> x IN ({_EN}))) AS stop
      FROM t)
SELECT doc_id,
  round( least(n_tok / 100.0, 1.0) * 0.4
       + (n_uniq / CAST(nullif(n_tok, 0) AS DOUBLE)) * 0.4
       + least(stop / CAST(nullif(n_tok, 0) AS DOUBLE) * 5, 1.0) * 0.2, 6) AS quality
FROM s
"""


def x09_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged per-document text-analysis profile (E4): char count,
    whitespace/BPE-ish/estimate token counting, heuristic language-ID and
    composite quality scoring in ONE narrow JVM-side projection — zero
    Python.  The operators' own value tests live in tests/test_dedup_text.py
    and tests/test_scrub_quality.py; the oracle is assembled from the
    X09_SQL (language-ID) and X10_SQL (quality) fragments below, which
    x22 and x43 reuse.  The input is widened to cluster parallelism first
    (regex CPU ≫ scan bytes; no-op at 100 TB where file count ≥ cores)."""
    docs = D.widen_partitions(_t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("chars"),
        X.token_count("text").alias("ws_tokens"),
        X.bpe_ish_token_count("text").alias("bpe_tokens"),
        X.chars_per_token_estimate("text").alias("est_tokens"),
        X.lang_id("text").alias("lang_pred"),
        X.quality_score("text").alias("quality"),
    )


_X11_CHARS_SQL = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS chars,
       CAST(len({WS_TOKS}) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '{X.WORDLIKE_PATTERN}')) AS BIGINT) AS bpe_tokens,
       CAST(ceil(length(text) / 4) AS BIGINT) AS est_tokens
FROM documents
"""

X09_PROFILE_SQL = f"""
SELECT p.doc_id, p.chars, p.ws_tokens, p.bpe_tokens, p.est_tokens,
       l.lang_pred, q.quality
FROM ({_X11_CHARS_SQL}) p
JOIN ({X09_SQL}) l USING (doc_id)
JOIN ({X10_SQL}) q USING (doc_id)
"""


# Banded LSH signatures are computed once at ingest at scale; locally the
# signature fold is the dominant cost of every LSH consumer (x13, embedding
# dedup), so they must not re-run the 8×4×64 fold.
@session_memo
def _lsh_banded(
    spark: SparkSession,
    sf_dir: str,
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    banded = S.lsh_banded_signatures(
        _t(spark, sf_dir, "embeddings"), dim, n_planes, n_tables, seed
    )
    return banded.persist()


def x13_cosine_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-pruned all-pairs cosine similarity join at 0.45 — the SCALE path
    for embedding near-dup (shuffle keyed on (table, bucket) instead of a
    cartesian).  Fully deterministic given the seed, so the oracle
    recomputes the identical random-hyperplane signatures in SQL (the plane
    literals are embedded programmatically below) and re-derives the same
    candidate set + exact re-score.  The banded signature frame comes from
    the per-session ``_lsh_banded`` cache — computed once, persisted,
    shared by every LSH consumer (the ingest-time persistence story at
    100 TB, SCALE.md)."""
    emb = _t(spark, sf_dir, "embeddings")
    banded = _lsh_banded(spark, sf_dir, dim=64, n_planes=4, n_tables=8, seed=42)
    return S.cosine_similarity_join(
        emb,
        emb,
        threshold=0.45,
        dim=64,
        n_planes=4,
        n_tables=8,
        seed=42,
        left_banded=banded,
    )


_COS_AB = (
    "list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))"
)


def _lsh_bucket_sql(vec_expr: str, planes: list[list[float]]) -> str:
    """Sign-bit bucket id for one hash table — mirrors
    operators/similarity.py:_bucket_from_matrix with the same plane
    literals."""
    return " + ".join(
        f"(CASE WHEN list_dot_product({vec_expr}, "
        f"[{', '.join(repr(v) for v in plane)}]) >= 0 THEN {1 << i} ELSE 0 END)"
        for i, plane in enumerate(planes)
    )


def _x13_join_sql(
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    threshold: float = 0.45,
) -> str:
    buckets = ", ".join(
        _lsh_bucket_sql(
            "CAST(embedding AS DOUBLE[])",
            S._hyperplanes(dim, n_planes, seed + 1000 * t),
        )
        for t in range(n_tables)
    )
    return f"""
WITH sig AS (SELECT vec_id, [{buckets}] AS bks FROM embeddings),
banded AS (
  SELECT vec_id, t, bks[t] AS bk
  FROM sig CROSS JOIN (SELECT unnest(generate_series(1, {n_tables})) AS t) ts),
cand AS (
  SELECT DISTINCT l.vec_id AS left_id, r.vec_id AS right_id
  FROM banded l JOIN banded r ON l.t = r.t AND l.bk = r.bk AND l.vec_id < r.vec_id)
SELECT c.left_id, c.right_id, round({_COS_AB}, 6) AS cos_sim
FROM cand c JOIN embeddings a ON c.left_id = a.vec_id
            JOIN embeddings b ON c.right_id = b.vec_id
WHERE round({_COS_AB}, 6) >= {threshold}
"""


def x14_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k registered at FULL probe (n_probe == n_cells), where IVF
    is provably identical to brute force — that identity is the oracle
    (the Q23 brute-force SQL).  It probes x41's session-built ANN store
    (``_ann_store_dir``, 16 lowest-id seed cells) with vec_id 1's
    vector, excluding the probe itself.  Partial-probe recall and the
    cell-pruning behavior are pinned in tests/test_ann_ivf.py."""
    from jurimetria_etl_spark.operators.ann_store import ann_ivf_topk_store

    d, cents = _ann_store_dir(spark, sf_dir, n_cells=16)
    [(_, probe_vec)] = _ann_probe_rows(spark, sf_dir, (1,))
    return ann_ivf_topk_store(
        spark, d, probe_vec, k=5, n_probe=16, centroids=cents, exclude_id=1
    )


def x15_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata extraction end-to-end: documents → binary blobs →
    Arrow-batched ``mapInPandas`` decode (deterministic fake decoder) →
    typed metadata.  The oracle recomputes the fake decoder's arithmetic on
    UTF-8 byte lengths in SQL, so the whole mapInPandas plumbing — schema,
    batching, struct assembly — is value-checked, not just smoke-tested."""
    from jurimetria_etl_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents")
    blobs = M.attach_text_as_binary(docs)
    meta = M.extract_media_metadata(
        blobs, decode_fn=M.fake_image_decoder, batch_cols=("doc_id", "length")
    )
    return meta.select(
        "doc_id",
        F.col("length").alias("n_bytes"),
        F.col("meta.media_type").alias("media_type"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.n_channels").alias("n_channels"),
    )


X15_SQL = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       'image' AS media_type,
       CAST((octet_length(encode(text)) % 640) + 1 AS INT) AS width,
       CAST(((octet_length(encode(text)) * 7) % 480) + 1 AS INT) AS height,
       CAST(3 AS INT) AS n_channels
FROM documents
"""


def x18_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clustering: MinHash near-dup pairs (x05) →
    connected components by min-label propagation → every document labeled
    with its cluster id (own id when it has no near-dup).  Registered since
    round 3 — the driver checks it against the recursive-CTE DuckDB oracle
    below."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_near_duplicates(docs, "doc_id", "text", threshold=0.5)
    return D.assign_near_dup_clusters(docs, pairs, "doc_id").select(
        "doc_id", "cluster_id"
    )


# Transitive closure of the x05 pair graph: reach(id, r) enumerates every
# id reachable from ``id``; min(r) is the deterministic cluster label.
X18_SQL = f"""
WITH RECURSIVE pairs AS ({X05_SQL}),
edges AS (
  SELECT left_id AS a, right_id AS b FROM pairs
  UNION
  SELECT right_id, left_id FROM pairs),
reach(id, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id),
comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
"""


def x20_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing: sequential fill over doc_id order, 10k
    chars per shard — the scalable two-phase prefix sum
    (operators/sampling.py:pack_into_shards); the oracle is the
    single-window global cumsum it must equal.  Registered since round 3."""
    from jurimetria_etl_spark.operators import sampling as SM

    docs = _t(spark, sf_dir, "documents")
    return SM.pack_into_shards(
        docs, tokens_col="n_chars", order_col="doc_id",
        max_tokens_per_shard=10_000,
    ).select("doc_id", "shard_id")


X20_SQL = """
SELECT doc_id,
       CAST(floor((sum(n_chars) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - n_chars) / 10000) AS BIGINT) AS shard_id
FROM documents
"""


def x42_shuffled_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded-shuffle shard packing (operators/sampling.py:
    pack_shuffled_shards): documents pack into 10k-char shards in the
    md5('shuffle:7:'‖doc_id) permutation — the training-order shuffle,
    deterministic from the seed alone and engine-portable (the oracle
    recomputes the identical permutation from the same md5).  Outside
    the gate (x20 covers the packing prefix sum); tools/scale_bench.py
    runs it, and tests/test_deregistered_queries.py oracle-checks it."""
    from jurimetria_etl_spark.operators.sampling import pack_shuffled_shards

    docs = _t(spark, sf_dir, "documents")
    return pack_shuffled_shards(
        docs, tokens_col="n_chars", key_col="doc_id",
        max_tokens_per_shard=10_000, seed="7",
    ).select("doc_id", "shard_id")


X42_SQL = """
SELECT doc_id,
       CAST(floor((sum(n_chars) OVER (
              ORDER BY md5('shuffle:7:' || CAST(doc_id AS VARCHAR))
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - n_chars) / 10000) AS BIGINT) AS shard_id
FROM documents
"""


def x43_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row curation audit (plans/curation.py:curation_funnel): per-gate
    independent pass counts + the all-gates conjunction over the documents
    fixture, with the x25 benchmark convention (docs where doc_id % 97 = 0)
    as the decontamination probe at min_overlap=3 / min_ratio=0.2.  The
    flags are the SAME Column expressions curate_corpus's gate conjoins
    (curation_gate_flags).  Gated; also oracle-checked at sf0.001 in
    tests/test_deregistered_queries.py."""
    from jurimetria_etl_spark.plans.curation import curation_funnel

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    return curation_funnel(
        docs,
        languages=("en",),
        min_quality=0.3,
        benchmark=bench,
        decontam_ngram=5,
        decontam_min_overlap=3,
        decontam_min_ratio=0.2,
    )


# X09/X10's lang/quality fragments joined per doc, x25's shingle-overlap
# contamination flag, aggregated to the one-row funnel.
X43_SQL = f"""
WITH sh AS (
  SELECT doc_id,
         list_transform({shingles_sql(5)}, s -> {h60("s")}) AS shs
  FROM documents),
bench AS (SELECT DISTINCT unnest(shs) AS bsh FROM sh WHERE doc_id % 97 = 0),
docsh AS (SELECT doc_id, unnest(shs) AS s FROM sh),
ov AS (
  SELECT doc_id, count(*) AS overlap_cnt
  FROM docsh JOIN bench ON s = bsh
  GROUP BY doc_id),
flags AS (
  SELECT s.doc_id,
         l.lang_pred IN ('en') AS lang_pass,
         q.quality >= 0.3 AS quality_pass,
         NOT coalesce(coalesce(o.overlap_cnt, 0) >= 3
                      AND round(coalesce(o.overlap_cnt, 0) * 1.0
                                / nullif(len(s.shs), 0), 6) >= 0.2,
                      false) AS clean
  FROM sh s
  JOIN ({X09_SQL}) l USING (doc_id)
  JOIN ({X10_SQL}) q USING (doc_id)
  LEFT JOIN ov o USING (doc_id))
SELECT count(*) AS n_docs,
       CAST(sum(CAST(lang_pass AS BIGINT)) AS BIGINT) AS n_lang_pass,
       CAST(sum(CAST(quality_pass AS BIGINT)) AS BIGINT) AS n_quality_pass,
       CAST(sum(CAST(clean AS BIGINT)) AS BIGINT) AS n_clean,
       CAST(sum(CAST(lang_pass AND quality_pass AND clean AS BIGINT))
            AS BIGINT) AS n_eligible
FROM flags
"""


def x22_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship LLM-data composite — the full corpus→training-shards
    pipeline (plans/curation.py:prepare_training_shards): language gate →
    quality gate → exact dedup → transitive MinHash near-dup removal →
    overlapping context-window chunking → token-budget shard packing.
    Parameters sized to the fixture corpus so every stage does work:
    'en'-only at quality ≥ 0.3 gates out ~10% of documents, threshold 0.7
    finds the planted near-dup pairs, 240/40 chunking splits the longer
    documents, and 10k-char shards pack into ~15 shards.

    Bench-only entry (the driver registry stays at its 50-entry window) —
    oracle-checked at sf0.001 in tests/test_deregistered_queries.py and
    timed with its DuckDB denominator in bench.py."""
    import tempfile

    from jurimetria_etl_spark.plans.curation import prepare_training_shards

    docs = _t(spark, sf_dir, "documents")
    # Materialize the curated intermediate to scratch parquet (the
    # production pattern SCALE.md documents): the clustering's eager
    # actions and the final consumer all scan the compact intermediate
    # instead of re-running the gate+dedup lineage per action.
    # key by full-path hash + pid: leaf-name keys collide across datasets
    # (testdata/sf0.1 vs _scale/sf0.1) and pid isolates concurrent
    # processes; same-process re-runs still reuse the path (overwrite)
    import hashlib
    import os as _os

    tag = hashlib.md5(_os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    scratch = f"{tempfile.gettempdir()}/x22_curated_{tag}_{_os.getpid()}"
    # The consumer's action runs AFTER this function returns (lazy frame),
    # so the scratch tree can only be reclaimed at process exit — without
    # this, every bench/test process leaves a curated-parquet copy in the
    # temp dir.  pid-keying + overwrite semantics make the delete safe;
    # repeated registration is harmless (rmtree ignore_errors idempotent).
    import atexit
    import shutil

    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    shards = prepare_training_shards(
        docs,
        languages=("en",),
        min_quality=0.3,
        near_dup_threshold=0.7,
        chunk_chars=240,
        overlap_chars=40,
        max_chars_per_shard=10_000,
        intermediate_dir=f"{scratch}/curated",
    )
    return shards.select("doc_id", "chunk_idx", "shard_id")


# The whole pipeline re-derived in one DuckDB statement from the same
# fragments the other oracles use: X09/X10 gates, X01-style
# min-id-per-fingerprint dedup, the X05 minhash/banding/verify chain at
# 0.7 over the deduped set, X18-style recursive transitive closure with
# min-id survivors, 240/40 chunk arithmetic, X20 cumsum packing.
X22_SQL = f"""
WITH RECURSIVE gated AS (
  SELECT d.doc_id, d.text
  FROM documents d
  JOIN ({X09_SQL}) l USING (doc_id)
  JOIN ({X10_SQL}) q USING (doc_id)
  WHERE l.lang_pred IN ('en') AND q.quality >= 0.3),
exact AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY {h60(_NORM_TEXT)}
                              ORDER BY doc_id) AS rn
    FROM gated) WHERE rn = 1),
sh AS (SELECT doc_id, {shingles_sql(3)} AS shingles FROM exact),
hs AS (SELECT doc_id, shingles, {_BASE_HASHES} AS base FROM sh),
sig AS (SELECT doc_id, [{_minhash_sigs_sql(8)}] AS sig FROM hs),
banded AS (
  SELECT doc_id, b, {h60("array_to_string(sig[b*2+1 : b*2+2], ',')")} AS bkey
  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) bs),
cand AS (
  SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
  FROM banded l JOIN banded r
    ON l.b = r.b AND l.bkey = r.bkey AND l.doc_id < r.doc_id),
pairs AS (
  SELECT c.left_id, c.right_id
  FROM cand c JOIN sh a ON c.left_id = a.doc_id
              JOIN sh b ON c.right_id = b.doc_id
  WHERE round(len(list_intersect(a.shingles, b.shingles)) * 1.0
        / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) >= 0.7),
edges AS (
  SELECT left_id AS ea, right_id AS eb FROM pairs
  UNION
  SELECT right_id, left_id FROM pairs),
reach(id, r) AS (
  SELECT ea, ea FROM edges
  UNION
  SELECT e.ea, reach.r FROM edges e JOIN reach ON e.eb = reach.id),
comp AS (SELECT id, min(r) AS cid FROM reach GROUP BY id),
keep AS (
  SELECT e.doc_id, e.text FROM exact e LEFT JOIN comp c ON e.doc_id = c.id
  WHERE c.cid IS NULL OR c.cid = e.doc_id),
chunks AS (
  SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         CAST(length(substring(text, CAST(i * 200 + 1 AS BIGINT), 240))
              AS BIGINT) AS n
  FROM keep,
       UNNEST(generate_series(
         0, CAST(ceil(greatest(length(text) - 40, 1) / 200.0) AS BIGINT) - 1
       )) AS t(i)),
packed AS (
  SELECT doc_id, chunk_idx, n,
         sum(n) OVER (ORDER BY doc_id * 1048576 + chunk_idx
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM chunks)
SELECT doc_id, chunk_idx,
       CAST(floor((cum - n) / 10000) AS BIGINT) AS shard_id
FROM packed
"""


def x23_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction + per-category audit counts (operators/scrub.py).
    The fixture corpus carries no PII, so a deterministic per-doc payload
    (email/URL/CNJ/CPF/phone derived from doc_id) is appended first — the
    redaction itself, not the payload, is what the oracle checks."""
    from jurimetria_etl_spark.operators import scrub as SC

    docs = _t(spark, sf_dir, "documents")
    pii_text = F.concat(
        F.col("text"),
        F.lit(" contato: user"),
        F.col("doc_id"),
        F.lit("@example.com via https://www.tjce.jus.br/consulta?id="),
        F.col("doc_id"),
        F.lit(" cpf 123.456.789-"),
        F.lpad(F.pmod(F.col("doc_id"), F.lit(100)).cast("string"), 2, "0"),
        F.lit(" tel (85) 99999-"),
        F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
        F.lit(" processo 0000001-02.2024.8.06.0001"),
    )
    staged = docs.select("doc_id", pii_text.alias("pii_text"))
    out = SC.add_pii_counts(staged, "pii_text")
    return out.select(
        "doc_id",
        SC.redact_pii("pii_text").alias("clean"),
        *[f"n_{name}" for name, _, _ in SC.PII_PATTERNS],
    )


def _x23_sql() -> str:
    """CTE chain applying the same ordered patterns: each stage counts on
    the text AFTER higher-priority categories were consumed, exactly as
    scrub.pii_counts does."""
    from jurimetria_etl_spark.operators.scrub import PII_PATTERNS

    pii_text = (
        "text || ' contato: user' || doc_id"
        " || '@example.com via https://www.tjce.jus.br/consulta?id='"
        " || doc_id || ' cpf 123.456.789-'"
        " || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')"
        " || ' tel (85) 99999-'"
        " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        " || ' processo 0000001-02.2024.8.06.0001'"
    )
    ctes = [f"s0 AS (SELECT doc_id, {pii_text} AS t FROM documents)"]
    counts: list[str] = []
    for i, (name, pattern, repl) in enumerate(PII_PATTERNS):
        prev = ", ".join(counts)
        prev = (", " + prev) if prev else ""
        ctes.append(
            f"s{i + 1} AS (SELECT doc_id, "
            f"regexp_replace(t, '{pattern}', '{repl}', 'g') AS t"
            f"{prev}, "
            f"CAST(len(regexp_extract_all(t, '{pattern}')) AS BIGINT)"
            f" AS n_{name} FROM s{i})"
        )
        counts.append(f"n_{name}")
    cols = ", ".join(f"n_{name}" for name, _, _ in PII_PATTERNS)
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT doc_id, t AS clean, {cols} "
        f"FROM s{len(PII_PATTERNS)}"
    )


X23_SQL = _x23_sql()


def x25_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontaminate.py): 5-gram
    shingle overlap of every document against a deterministic 'benchmark'
    slice (doc_id % 97 = 0 — the held-out eval set stand-in)."""
    from jurimetria_etl_spark.operators import decontaminate as DC

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    return DC.flag_contamination(
        docs, bench, n=5, min_overlap=3, min_overlap_ratio=0.2
    )


X25_SQL = f"""
WITH sh AS (
  SELECT doc_id,
         list_transform({shingles_sql(5)}, s -> {h60("s")}) AS shs
  FROM documents),
bench AS (SELECT DISTINCT unnest(shs) AS bsh FROM sh WHERE doc_id % 97 = 0),
docsh AS (SELECT doc_id, unnest(shs) AS s FROM sh),
ov AS (
  SELECT doc_id, count(*) AS overlap_cnt
  FROM docsh JOIN bench ON s = bsh
  GROUP BY doc_id)
SELECT s.doc_id,
       CAST(len(s.shs) AS BIGINT) AS n_shingles,
       coalesce(o.overlap_cnt, 0) AS overlap_cnt,
       round(coalesce(o.overlap_cnt, 0) * 1.0
             / nullif(len(s.shs), 0), 6) AS overlap_ratio,
       coalesce(coalesce(o.overlap_cnt, 0) >= 3
                AND round(coalesce(o.overlap_cnt, 0) * 1.0
                          / nullif(len(s.shs), 0), 6) >= 0.2,
                false) AS contaminated
FROM sh s LEFT JOIN ov o USING (doc_id)
"""


def x27_hll_daily_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-path benchmark entry: per-day HLL partials over events
    rolled up to one global distinct-user estimate
    (operators/sketches.py) — the mergeable two-level plan a 100 TB daily
    pipeline runs.  Approximate by construction, so timing-only here
    (value properties are pinned in tests/test_sketches.py); the DuckDB
    denominator runs its own approx_count_distinct."""
    from jurimetria_etl_spark.operators import sketches as SK

    ev = _t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    daily = SK.hll_sketch_by(ev, ["day"], "user_id")
    return SK.hll_rollup(daily, [])


X27_SQL = "SELECT approx_count_distinct(user_id) AS approx_distinct FROM events"


def q32b_percentile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q32's exact percentiles via the DISTRIBUTED-histogram operator
    (operators/stats.py:percentile_cont_by_group) — the scale path for
    exact percentile_cont over near-continuous columns.  Same output
    contract and the same DuckDB oracle as the registered q32 (values
    bit-identical to the native ``F.percentile`` by construction); kept
    bench-only so both forms carry a timing series (scale exponents
    r12: native 0.77 vs histogram 0.50 — crossover ~sf1, and
    structurally no per-group value→count buffer to spill at 100-TB
    group sizes; SCALE.md §Scaling exponents)."""
    from jurimetria_etl_spark.operators.stats import (
        percentile_cont_by_group,
    )
    from jurimetria_etl_spark.plans.corpus import _fact

    # Melt BOTH value columns into (metric, v) long format so the whole
    # query pays ONE lineitem scan (r11 verdict item 1: the previous
    # shape ran the operator once per column and each call re-executed
    # its corpus lineage for the totals branch — four scans where one
    # suffices).  The composite (l_returnflag, metric) group key rides
    # the operator's list-group support; the price metric's extra
    # quartiles cost only histogram-sized rows and are dropped in the
    # final pivot, which also replaces the former broadcast join.
    li = _fact(spark, sf_dir, "lineitem")
    melted = li.select(
        "l_returnflag",
        F.explode(
            F.array(
                F.struct(
                    F.lit("qty").alias("metric"),
                    F.col("l_quantity").alias("v"),
                ),
                F.struct(
                    F.lit("price").alias("metric"),
                    F.col("l_extendedprice").alias("v"),
                ),
            )
        ).alias("m"),
    ).select("l_returnflag", "m.metric", "m.v")
    qs = percentile_cont_by_group(
        melted, ["l_returnflag", "metric"], "v", [0.25, 0.5, 0.9]
    )
    qty = F.col("metric") == "qty"
    return qs.groupBy("l_returnflag").agg(
        F.max(F.when(qty & (F.col("p") == 0.25), F.col("val"))).alias("q25"),
        F.max(F.when(qty & (F.col("p") == 0.5), F.col("val"))).alias("q50"),
        F.max(F.when(qty & (F.col("p") == 0.9), F.col("val"))).alias("q90"),
        F.max(
            F.when(
                (F.col("metric") == "price") & (F.col("p") == 0.5),
                F.col("val"),
            )
        ).alias("median_price"),
    )


def x17_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive Karp-Rabin rolling fingerprint per document."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id", X.rolling_fingerprint("text").alias("roll_fp")
    )


X17_SQL = f"""
WITH th AS (SELECT doc_id,
  list_transform({TOKS}, t -> {h60("t")} % {D.MINHASH_PRIME}) AS hs
  FROM documents)
SELECT doc_id,
  list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
              (acc, h) -> (acc * {X.ROLL_BASE} + h) % {D.MINHASH_PRIME}) AS roll_fp
FROM th
"""


def x13b_cosine_join_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AUTO-SCALED similarity join — ``cosine_similarity_join`` on its
    default path (``n_planes=None`` → ``suggest_lsh_planes(count)``), so
    the driver gate exercises the plan you would actually run at 100×:
    plane count grows with the corpus, holding bucket occupancy (and the
    N²/2^planes candidate volume) constant.  Registered alongside the
    fixed-plane x13 (which pins the explicit-plane hash space its oracle
    literals were generated in).

    Oracle note: the DuckDB SQL embeds hyperplane literals for
    ``suggest_lsh_planes(500) = 2`` — the embeddings fixture is 500 rows
    at BOTH oracle scales (driver sf0.01 and pytest sf0.001), so one
    static SQL covers both; the scale bench re-derives literals per scale
    (tools/scale_bench.py) and proved the auto-scaled form hash-matches
    at sf0.1 and sf1 too.

    The suggested plane count keys the same per-session banded-signature
    cache x13 uses (``_lsh_banded``) — computing the fold once per
    (scale, planes) is the ingest-time persistence story; passing the
    frame requires passing its explicit plane count (the
    auto-vs-precomputed guard in ``cosine_similarity_join``), which is
    byte-identical to what the default path would derive."""
    emb = _t(spark, sf_dir, "embeddings")
    planes = S.suggest_lsh_planes(emb.count())
    banded = _lsh_banded(
        spark, sf_dir, dim=64, n_planes=planes, n_tables=8, seed=42
    )
    return S.cosine_similarity_join(
        emb,
        emb,
        threshold=0.45,
        dim=64,
        n_planes=planes,
        n_tables=8,
        seed=42,
        left_banded=banded,
    )


def x28_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-SPAN detection (suffix-array-dedup shape,
    operators/spans.py): every 40-char span shared by ≥2 distinct
    documents, as (left_id, right_id, span) pairs.  Winnowed 8-byte
    fingerprints prune to candidate DOCS (lossless for spans ≥ 40 —
    Schleimer-guarantee), then an exact span-keyed L-gram join emits the
    verified pairs; no candidate-pair materialization anywhere.  The
    oracle recomputes the answer brute-force (all L-grams self-joined),
    so the whole winnow→candidate→verify pipeline is value-checked, not
    just the verify stage.  ``max_fp_df=None``: the oracle is the exact
    semantics; the production stop-fingerprint cap's recall trade is
    pinned separately in tests/test_spans.py."""
    from jurimetria_etl_spark.operators import spans as SP

    docs = _t(spark, sf_dir, "documents")
    return SP.duplicate_spans(docs, span_len=40, k=8, max_fp_df=None)


X28_SQL = """
WITH g AS (
  SELECT DISTINCT doc_id, substring(text, i, 40) AS span
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, length(text) - 39)) AS i)
)
SELECT a.doc_id AS left_id, b.doc_id AS right_id, a.span AS span
FROM g a JOIN g b ON a.span = b.span AND a.doc_id < b.doc_id
"""


def x29_boilerplate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus boilerplate table (strip-list): 40-char spans occurring in
    ≥2 distinct documents with their document frequency — the aggregate
    companion of x28 (one span-keyed exchange, fully linear).
    pytest-oracle (registry window full)."""
    from jurimetria_etl_spark.operators import spans as SP

    docs = _t(spark, sf_dir, "documents")
    return SP.boilerplate_spans(docs, span_len=40, min_df=2)


X29_SQL = """
WITH g AS (
  SELECT DISTINCT doc_id, substring(text, i, 40) AS span
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, length(text) - 39)) AS i)
)
SELECT span, COUNT(*) AS n_docs FROM g GROUP BY span HAVING COUNT(*) >= 2
"""


def _lined_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents fixture is single-line word salad; line-level dedup
    needs a MULTI-line corpus with genuinely shared lines.  Derive one
    deterministically, with expressions both engines evaluate identically
    (the DuckDB oracles repeat the same ``||``/``replace`` prep): a
    per-group section header (10 groups of ~50 docs), the body split
    into lines on the frequent token ``' value '`` (non-overlapping
    left-to-right replace in both engines), and one corpus-wide footer."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.concat(
            F.lit("SECTION "),
            (F.col("doc_id") % 10).cast("string"),
            F.lit(" standard navigation header for every page\n"),
            F.replace(F.col("text"), F.lit(" value "), F.lit("\n")),
            F.lit("\nCopyright legal footer shared across the whole corpus"),
        ).alias("text"),
    )


_LINED_SQL_CTE = """
lined AS (
  SELECT doc_id,
         'SECTION ' || CAST(doc_id % 10 AS VARCHAR)
           || ' standard navigation header for every page' || chr(10)
           || replace(text, ' value ', chr(10)) || chr(10)
           || 'Copyright legal footer shared across the whole corpus'
           AS text
  FROM documents)
"""


def x32_duplicate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level dedup (the CCNet/RefinedWeb curation axis,
    operators/spans.py:duplicate_lines): every line ≥10 chars (trimmed)
    occurring in ≥2 distinct documents, with its document frequency —
    engine-vs-engine checked against DuckDB ``string_split``+``unnest``
    (the r7 verdict's top missing oracle).  The hash-keyed two-pass plan
    (8-byte longs on the corpus-wide exchange, an un-hinted survivor
    semi-join that AQE sizes) is the part under test; the deterministic
    line-ification (``_lined_docs``) plants section headers / a global
    footer so the duplicate set is non-trivial on the single-line
    fixture."""
    from jurimetria_etl_spark.operators import spans as SP

    return SP.duplicate_lines(_lined_docs(spark, sf_dir), min_df=2)


X32_SQL = f"""
WITH {_LINED_SQL_CTE},
l AS (
  SELECT DISTINCT doc_id, line FROM (
    SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM lined)
  WHERE length(trim(line)) >= 10)
SELECT line, COUNT(*) AS n_docs FROM l GROUP BY line HAVING COUNT(*) >= 2
"""


def x34_bloom_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered incremental dedup (operators/bloom.py
    ``dedup_incremental_bloom``): the store is the fingerprint of every
    doc_id ≡ 0 (mod 3); the batch is the rest of the corpus.  Output:
    the distinct NORMALIZED text of batch documents whose content is not
    in the store — the surviving-fingerprint set of
    ``dedup_incremental``, determinized to normalized text so the
    arbitrary-survivor row choice inside ``dropDuplicates`` cannot leak
    into the hash compare.  The DuckDB oracle re-derives the same set
    with a plain anti-join on the same normalization: the Bloom filter
    must be OUTPUT-INVISIBLE (no false negatives, positives re-checked
    exactly) — only the plan shape may differ."""
    from jurimetria_etl_spark.operators.bloom import (
        bloom_build,
        dedup_incremental_bloom,
    )
    from jurimetria_etl_spark.operators.dedup import fingerprint
    from jurimetria_etl_spark.sources.fixtures import load_fixture

    docs = load_fixture(spark, sf_dir, "documents")
    store = (
        docs.where(F.col("doc_id") % 3 == 0)
        .select(fingerprint("text").alias("fp"))
        .distinct()
    )
    batch = docs.where(F.col("doc_id") % 3 != 0)
    # Size the geometry from the corpus row count — a metadata-only
    # parquet count — instead of letting bloom_build run the whole
    # store pipeline (scan → fingerprint → distinct → count) once per
    # call just to learn n.  An upper bound only over-sizes (lower
    # realized fpp); output is identical because the filter is
    # output-invisible by contract.
    bl = bloom_build(store, "fp", expected_items=docs.count(), fpp=0.01)
    out = dedup_incremental_bloom(batch, store, bloom=bl, fpp=0.01)
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return out.select(norm.alias("norm_text"))


X34_SQL = r"""
WITH store AS (
  SELECT DISTINCT regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS n
  FROM documents WHERE doc_id % 3 = 0),
batch AS (
  SELECT DISTINCT regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS n
  FROM documents WHERE doc_id % 3 <> 0)
SELECT b.n AS norm_text FROM batch b ANTI JOIN store s ON b.n = s.n
"""


_X35_QUERIES = [
    (1, "spark shuffle join"),
    (2, "vector stream data cache"),
    (3, "batch part order line"),
    (4, "zebra unicorn missing"),  # no-hit query: zero rows both engines
]


def x35_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 over the documents corpus (operators/search.py):
    inverted-index stats built inline, four fixed keyword queries
    (one with no indexed term — the zero-candidate case must agree
    too).  The DuckDB oracle recomputes the identical Okapi formula
    (k1=1.2, b=0.75, Robertson idf) from the same tokenization; scores
    round 1e-6 before ranking with doc_id tie-breaks, the cosine
    family's determinization."""
    from jurimetria_etl_spark.operators.search import bm25_search_docs
    from jurimetria_etl_spark.sources.fixtures import load_fixture

    docs = load_fixture(spark, sf_dir, "documents")
    queries = local_frame(
        spark, _X35_QUERIES, "query_id int, query_text string"
    )
    return bm25_search_docs(docs, queries, k=10)


X35_SQL = r"""
WITH toks AS (
  SELECT doc_id, t AS term FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(text), '[^\p{L}\p{N}]+')) AS t
    FROM documents)
  WHERE length(t) > 0),
postings AS (SELECT term, doc_id, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dls AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dls),
q(query_id, query_text) AS (VALUES
  (1, 'spark shuffle join'),
  (2, 'vector stream data cache'),
  (3, 'batch part order line'),
  (4, 'zebra unicorn missing')),
qt AS (
  SELECT DISTINCT query_id, t AS term FROM (
    SELECT query_id,
           unnest(string_split_regex(lower(query_text), '[^\p{L}\p{N}]+')) AS t
    FROM q)
  WHERE length(t) > 0),
dfs AS (SELECT term, COUNT(*) AS df FROM postings GROUP BY 1),
scored AS (
  SELECT qt.query_id, p.doc_id,
         ROUND(SUM(
           ln(1 + (s.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
           * p.tf * (1.2 + 1.0)
           / (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / s.avgdl))
         ), 6) AS score
  FROM qt
  JOIN postings p USING (term)
  JOIN dfs USING (term)
  JOIN dls d ON p.doc_id = d.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2)
SELECT query_id, doc_id, score, rank FROM (
  SELECT query_id, doc_id, score,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id
         ) AS rank
  FROM scored)
WHERE rank <= 10
"""


def x37_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+semantic retrieval (operators/search.py
    ``hybrid_search``): BM25 top-20 over documents and exact cosine
    top-20 over embeddings per query (the four x35 keyword queries,
    paired with probe vectors = embeddings of vec_id 1-4), fused by
    reciprocal-rank fusion (k=60) to a top-10.  The DuckDB oracle
    recomputes both ranked lists (identical tokenization/Okapi formula
    and double-precision cosine, both 1e-6-rounded + id-tie-broken)
    and the same 1/(60+rank) sum.  rrf_score is exact double arithmetic
    on integer ranks — engine-identical by construction."""
    from jurimetria_etl_spark.operators.search import hybrid_search
    from jurimetria_etl_spark.sources.fixtures import load_fixture

    docs = load_fixture(spark, sf_dir, "documents")
    embeds = load_fixture(spark, sf_dir, "embeddings")
    tq = local_frame(spark, _X35_QUERIES, "query_id int, query_text string")
    pq = (
        embeds.join(
            local_frame(
                spark, [(i, i) for i in (1, 2, 3, 4)], "query_id int, pv bigint"
            ),
            F.col("vec_id") == F.col("pv"),
        )
        .select("query_id", F.col("embedding").alias("probe"))
    )
    return hybrid_search(
        docs, embeds, tq, pq, k_each=20, topk=10, rrf_k=60
    )


def x37b_hybrid_search_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x37's composed AT-SCALE form — since r13 the FULLY STORE-BACKED
    retrieval service: the dense side probes the PERSISTED incremental
    IVF ANN store (the x41 fixture: two appends + a full replayed
    append + compaction) and the lexical side reads the PERSISTED
    incremental BM25 postings store (``append_text_index`` at ingest,
    compacted) — ``hybrid_search(ann_store_dir=…, text_index_dir=…,
    docs=None)``.  No corpus text is tokenized and no index is rebuilt
    at query time; both generations resolve through their manifests per
    request.  Probed at FULL probe (n_probe == n_cells) where IVF is
    provably exact, and the store-loaded BM25 scores are fold-identical
    to the inline build (pinned in tests/test_search_store.py), so the
    registered x37's DuckDB oracle applies verbatim while the plan
    under it is the production one (store scans + replay folds + static
    cell pruning + broadcast probe-cell equi-join).  The partial-probe
    recall trade is pinned in tests/test_ann_store.py and
    tests/test_streaming_ann.py."""
    from jurimetria_etl_spark.operators.search import hybrid_search

    tq = local_frame(spark, _X35_QUERIES, "query_id int, query_text string")
    pq = _ann_probe_rows(spark, sf_dir, (1, 2, 3, 4))
    d, cents = _ann_store_dir(spark, sf_dir, n_cells=16)
    ti = _text_index_dir(spark, sf_dir)
    return hybrid_search(
        None,
        None,
        tq,
        pq,
        k_each=20,
        topk=10,
        rrf_k=60,
        ann_store_dir=d,
        ann_centroids=cents,
        ann_n_probe=16,
        # int query_id to match tq's literal frame (the fused output's
        # type); float vectors to keep the store's scoring arithmetic
        probe_schema="query_id int, probe array<float>",
        text_index_dir=ti,
    )


X37_SQL = r"""
WITH toks AS (
  SELECT doc_id, t AS term FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(text), '[^\p{L}\p{N}]+')) AS t
    FROM documents)
  WHERE length(t) > 0),
postings AS (SELECT term, doc_id, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dls AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dls),
q(query_id, query_text) AS (VALUES
  (1, 'spark shuffle join'),
  (2, 'vector stream data cache'),
  (3, 'batch part order line'),
  (4, 'zebra unicorn missing')),
qt AS (
  SELECT DISTINCT query_id, t AS term FROM (
    SELECT query_id,
           unnest(string_split_regex(lower(query_text), '[^\p{L}\p{N}]+')) AS t
    FROM q)
  WHERE length(t) > 0),
dfs AS (SELECT term, COUNT(*) AS df FROM postings GROUP BY 1),
lex AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT query_id, doc_id,
           ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
    FROM (
      SELECT qt.query_id, p.doc_id,
             ROUND(SUM(
               ln(1 + (s.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
               * p.tf * (1.2 + 1.0)
               / (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / s.avgdl))
             ), 6) AS score
      FROM qt
      JOIN postings p USING (term)
      JOIN dfs USING (term)
      JOIN dls d ON p.doc_id = d.doc_id
      CROSS JOIN stats s
      GROUP BY 1, 2))
  WHERE rank <= 20),
dense AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT pq.query_id, e.vec_id AS doc_id,
           ROW_NUMBER() OVER (
             PARTITION BY pq.query_id
             ORDER BY ROUND(list_cosine_similarity(
               e.embedding::DOUBLE[], pq.probe::DOUBLE[]), 6) DESC,
             e.vec_id) AS rank
    FROM (SELECT v.query_id, p.embedding AS probe
          FROM (VALUES (1, 1), (2, 2), (3, 3), (4, 4)) v(query_id, pv)
          JOIN embeddings p ON p.vec_id = v.pv) pq
    CROSS JOIN embeddings e)
  WHERE rank <= 20),
fused AS (
  SELECT query_id, doc_id,
         ROUND(SUM(1.0 / (60.0 + rank)), 9) AS rrf_score
  FROM (SELECT * FROM lex UNION ALL SELECT * FROM dense)
  GROUP BY 1, 2)
SELECT query_id, doc_id, rrf_score, fused_rank FROM (
  SELECT query_id, doc_id, rrf_score,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY rrf_score DESC, doc_id
         ) AS fused_rank
  FROM fused)
WHERE fused_rank <= 10
"""


def x36_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup survivors over the embeddings corpus
    (operators/semdedup.py) with the fixture's ``label`` column as the
    given clustering: rank within cluster by similarity-to-mean
    ascending (keep far-from-centroid first, Abbas et al. 2023), drop
    every row with a prior-ranked neighbor at cosine >= 0.35 (the
    synthetic corpus' within-cluster sims top out ~0.48; nearest
    realized sim sits >=5e-5 from the threshold at every SF, so the
    float64-vs-float64 engine comparison is stable).  Output is
    integer-only (id, cluster, rank) — no float columns cross the
    hash gate."""
    from jurimetria_etl_spark.operators.semdedup import semdedup_flags
    from jurimetria_etl_spark.sources.fixtures import load_fixture

    embeds = load_fixture(spark, sf_dir, "embeddings")
    flags = semdedup_flags(embeds, eps=0.35, cluster_col="label")
    return (
        flags.filter(F.col("sem_kept"))
        .select("vec_id", F.col("sem_cluster").alias("label"), "sem_rank")
        .orderBy("vec_id")
    )


X36_SQL = """
WITH ex AS (
  SELECT label, unnest(embedding) AS v,
         unnest(range(1, len(embedding)+1)) AS p
  FROM embeddings
),
cent AS (
  SELECT label, list(m ORDER BY p) AS centroid FROM (
    SELECT label, p, avg(v) AS m FROM ex GROUP BY label, p
  ) GROUP BY label
),
ranked AS (
  SELECT e.vec_id, e.label, e.embedding,
         row_number() OVER (PARTITION BY e.label
            ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.centroid) ASC,
                     e.vec_id) AS sem_rank
  FROM embeddings e JOIN cent c USING (label)
),
prior AS (
  SELECT a.vec_id,
         max(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])) AS mx
  FROM ranked a JOIN ranked b ON a.label = b.label AND b.sem_rank < a.sem_rank
  GROUP BY a.vec_id
)
SELECT r.vec_id, r.label, r.sem_rank
FROM ranked r LEFT JOIN prior p USING (vec_id)
WHERE p.mx IS NULL OR p.mx < 0.35
ORDER BY r.vec_id
"""


# Round-8: leakage-guarded train/eval split (operators/sampling.py:
# split_leakage_guarded) — hash-stable split + n-gram quarantine of train
# docs that overlap the held-out side.  Same shingle family/thresholds as
# x25 so the two oracles cross-check the machinery.
_X38_EVAL_FRAC = 0.1
_X38_THR = int(_X38_EVAL_FRAC * 1_000_000)


def x38_split_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval/quarantine labels over documents: 10% held out by md5
    bucket of doc_id, train docs sharing ≥3 distinct 5-gram shingles
    (≥20% of their own) with ANY eval doc quarantined."""
    from jurimetria_etl_spark.operators import sampling as SM

    docs = _t(spark, sf_dir, "documents")
    return SM.split_leakage_guarded(
        docs,
        _X38_EVAL_FRAC,
        n=5,
        min_overlap=3,
        min_overlap_ratio=0.2,
    ).select("doc_id", "split")


X38_SQL = f"""
WITH lab AS (
  SELECT doc_id, text,
         CASE WHEN {h60("'split:' || CAST(doc_id AS VARCHAR)")} % 1000000
                   < {_X38_THR}
              THEN 'eval' ELSE 'train' END AS split
  FROM documents),
sh AS (
  SELECT doc_id, split,
         list_transform({shingles_sql(5)}, s -> {h60("s")}) AS shs
  FROM lab),
ev AS (SELECT DISTINCT unnest(shs) AS bsh FROM sh WHERE split = 'eval'),
tr AS (SELECT doc_id, unnest(shs) AS s FROM sh WHERE split = 'train'),
ov AS (
  SELECT doc_id, count(*) AS c
  FROM tr JOIN ev ON s = bsh
  GROUP BY doc_id),
leaked AS (
  SELECT s.doc_id
  FROM sh s JOIN ov o USING (doc_id)
  WHERE s.split = 'train' AND o.c >= 3
    AND round(o.c * 1.0 / nullif(len(s.shs), 0), 6) >= 0.2)
SELECT l.doc_id,
       CASE WHEN k.doc_id IS NOT NULL THEN 'quarantine' ELSE l.split END
         AS split
FROM lab l LEFT JOIN leaked k ON l.doc_id = k.doc_id
"""


def x39_top_per_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-balanced selection (operators/sampling.py:top_k_per_domain):
    the 10 longest documents per source, ties by doc_id — the narrow-rank
    + semi-join-back plan."""
    from jurimetria_etl_spark.operators import sampling as SM

    docs = _t(spark, sf_dir, "documents")
    return SM.top_k_per_domain(
        docs, "source", "n_chars", k=10, id_col="doc_id"
    ).select("doc_id", "lang", "source", "n_chars")


X39_SQL = """
WITH ranked AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d JOIN ranked r USING (doc_id)
WHERE r.rk <= 10
"""


# Round-8: hashed-linear quality classifier apply (operators/classify.py)
# — the fastText-style corpus-wide scoring pass.  FIXED deterministic
# weights (training is driver-side and engine-specific; the 100-TB path
# is the apply, which is what the oracle checks).
_X40_D = 32
_X40_W = [((i * 37) % 13 - 6) / 10.0 for i in range(_X40_D)]
_X40_BIAS = 0.1


def x40_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document linear-classifier probability over hashed
    bag-of-words features — one narrow scan-fused fold, no shuffle."""
    from jurimetria_etl_spark.operators.classify import classify_documents

    docs = _t(spark, sf_dir, "documents")
    return classify_documents(docs, _X40_W, _X40_BIAS).select(
        "doc_id", "quality_prob"
    )


_X40_WLIT = "[" + ", ".join(str(w) for w in _X40_W) + "]"
# {{L}}/{{N}} doubled: this is an f-string; the SQL regex must read
# \p{L}\p{N} — the same Unicode classes the Spark tokenizer uses.
# The CASE guard mirrors Spark's NULL-text behavior (aggregate over a
# NULL token array is NULL), where DuckDB's COALESCE+greatest would
# otherwise manufacture sigmoid(bias) for NULL text.
X40_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^\\p{{L}}\\p{{N}}]+'),
                     t -> length(t) > 0) AS ts
  FROM documents)
SELECT doc_id,
       CASE WHEN ts IS NULL THEN NULL ELSE
       ROUND(1.0 / (1.0 + exp(-({_X40_BIAS} +
         COALESCE(list_sum(list_transform(ts,
           t -> ({_X40_WLIT})[CAST({h60("'clf:' || t")} % {_X40_D} AS INT) + 1]
         )), 0.0) / greatest(len(ts), 1)))), 6) END AS quality_prob
FROM toks
"""


# A store is built once at ingest and probed many times: rebuilding (two
# appends + a replayed append into a fresh temp dir) per probe would
# charge every query the ingest cost.  The value is just the directory
# path; the store itself lives on disk, exactly as it would in production.
@session_memo(release=lambda v: shutil.rmtree(v[0], ignore_errors=True))
def _ann_store_dir(spark: SparkSession, sf_dir: str, n_cells: int = 16):
    import tempfile

    from jurimetria_etl_spark.operators.ann_store import (
        append_ann_store,
    )

    emb = _t(spark, sf_dir, "embeddings")
    # deterministic centroids (the lowest-id seed vectors), so the store
    # generation is a pure function of the fixture
    cents = S.seed_centroids(emb, n_cells)
    d = tempfile.mkdtemp(prefix="ann_store_x41_")
    b0 = emb.where(F.col("vec_id") % 2 == 0)
    b1 = emb.where(F.col("vec_id") % 2 == 1)
    append_ann_store(b0, d, cents)
    append_ann_store(b1, d, cents)
    append_ann_store(b1, d, cents)  # the at-least-once replay
    # Maintenance window between ingest and serving, exactly as a
    # production store would run it: per-task append files compact
    # to one file per cell partition under the atomic manifest swap
    # (48 → 16 files here).  Replayed rows are REWRITTEN, not
    # folded — the load-time (ivf_cell, id) dedup the x41 oracle
    # pins still does its work — and probes resolve the published
    # version through the same manifest read as before.
    from jurimetria_etl_spark.sinks.maintenance import compact_store

    compact_store(spark, d, partition_cols=["ivf_cell"])
    return d, cents


@session_memo
def _ann_probe_rows(
    spark: SparkSession, sf_dir: str, probe_ids: tuple
) -> list[tuple[int, list[float]]]:
    """Probe batches as session-memoized DRIVER-HELD row lists: a
    retrieval service's probe batch arrives as driver literals (the
    request), not as a parquet scan — re-reading the embeddings table
    per probe call charged every warm pass a scan + collect job that
    production would never run.  The list shape feeds
    ``ann_ivf_topk_store_batch``'s native request-batch input."""
    rows = (
        _t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id").isin(list(probe_ids)))
        .select("vec_id", "embedding")
        .collect()
    )
    return [(r["vec_id"], list(r["embedding"])) for r in rows]


@session_memo(release=lambda d: shutil.rmtree(d, ignore_errors=True))
def _text_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Session-memoized persisted BM25 index over the documents table
    (``append_text_index``), compacted once after ingest — the lexical
    twin of ``_ann_store_dir``: a retrieval service indexes at ingest
    and serves many queries from the store; rebuilding the inverted
    index per probe call charges every query the corpus tokenization."""
    import tempfile

    from jurimetria_etl_spark.operators.search import append_text_index
    from jurimetria_etl_spark.sinks.maintenance import compact_store

    d = tempfile.mkdtemp(prefix="text_index_x37b_")
    append_text_index(_t(spark, sf_dir, "documents"), d)
    # stats/term_df: the r16 per-batch statistics sidecars the
    # append writes — compacted with the data frames (the generic
    # rewrite preserves rows; the load-time batch_key fold is
    # compaction-invariant)
    for sub in ("postings", "doc_lens", "stats", "term_df"):
        compact_store(spark, f"{d}/{sub}")
    return d


_X41_PROBE_IDS = (1, 7)


def x41_ann_store_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch top-k over the PERSISTED incremental IVF ANN store
    (operators/ann_store.py): the embeddings fixture is appended in two
    batches plus one full replayed batch (the at-least-once fold must be
    output-invisible), then probed at FULL probe (n_probe == n_cells),
    where IVF is provably identical to brute force — that identity is
    the oracle.  The probe path is ``ann_ivf_topk_store_batch``: load →
    (ivf_cell, id) fold → driver-side cell ranking → STATIC cell
    ``isin`` (partition pruning by construction, pinned in
    tests/test_ann_store.py) → exact cosine → two-level top-k.  Partial-
    probe recall, the generation guard, and recluster maintenance are
    pinned in tests/test_ann_store.py; the streaming wiring in
    tests/test_streaming_ann.py."""
    from jurimetria_etl_spark.operators.ann_store import (
        ann_ivf_topk_store_batch,
    )

    d, cents = _ann_store_dir(spark, sf_dir, n_cells=16)
    probes = _ann_probe_rows(spark, sf_dir, _X41_PROBE_IDS)
    return ann_ivf_topk_store_batch(
        spark,
        d,
        probes,
        k=5,
        n_probe=16,
        centroids=cents,
        # float vectors: score with the same arithmetic as the store
        probe_schema="query_id bigint, probe array<float>",
    )


_X41_COS = (
    "list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(p.probe AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),"
    " CAST(e.embedding AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST(p.probe AS DOUBLE[]),"
    " CAST(p.probe AS DOUBLE[]))))"
)

X41_SQL = f"""
WITH probes AS (
  SELECT vec_id AS query_id, embedding AS probe FROM embeddings
  WHERE vec_id IN {_X41_PROBE_IDS}),
scored AS (
  SELECT p.query_id, e.vec_id, round({_X41_COS}, 6) AS cos_sim
  FROM embeddings e, probes p)
SELECT query_id, vec_id, cos_sim, rank FROM (
  SELECT query_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
  FROM scored)
WHERE rank <= 5
"""
