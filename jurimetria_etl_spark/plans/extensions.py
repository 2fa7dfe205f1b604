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
from jurimetria_etl_spark.plans.corpus import Q, Q23_SQL, Q32_SQL, _t

# ── SQL fragment builders (DuckDB dialect) ─────────────────────────────────
TOKS = "string_split(trim(text), ' ')"
TOKS_LC = "string_split(trim(lower(text)), ' ')"
# Linguistic tokenization (dedup.ws_words): whitespace-RUN split, empties
# dropped — used by every oracle replicating word-count/stopword/lang-ID
# metrics.  TOKS/TOKS_LC above remain the structural single-space split
# of the shingle/fingerprint family.
WS_TOKS = "list_filter(string_split_regex(trim(text), '\s+'), w -> w <> '')"
WS_TOKS_LC = (
    "list_filter(string_split_regex(trim(lower(text)), '\s+'), "
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


def x02_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 60-bit content fingerprint."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id", D.fingerprint("text").alias("fp")
    )


X02_SQL = f"""
SELECT doc_id, {h60(_NORM_TEXT)} AS fp
FROM documents
"""


def x03_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (k=8, 3-gram shingles) — narrow, no shuffle; one
    md5 pass + k affine permutations (see operators/dedup.py).  The
    signature array is serialized with ``to_json`` at the output boundary so
    the driver's pandas canonicalizer can sort/hash it."""
    sigs = D.add_minhash(
        _t(spark, sf_dir, "documents"), "text", k=8, n=3, sig_col="__mh"
    )
    return sigs.select("doc_id", F.to_json(F.col("__mh")).alias("minhash"))


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


def _x03_sql(k: int = 8) -> str:
    return f"""
WITH sh AS (SELECT doc_id, {shingles_sql(3)} AS shingles FROM documents),
hs AS (SELECT doc_id, {_BASE_HASHES} AS base FROM sh)
SELECT doc_id, CAST(to_json([{_minhash_sigs_sql(k)}]) AS VARCHAR) AS minhash FROM hs
"""


def x04_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH candidate pairs (bands=4×2) — the one shuffle of the
    near-dup pipeline."""
    return D.minhash_candidate_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", k=8, bands=4, n=3
    )


def _x04_sql(k: int = 8, bands: int = 4) -> str:
    rpb = k // bands
    return f"""
WITH sh AS (SELECT doc_id, {shingles_sql(3)} AS shingles FROM documents),
hs AS (SELECT doc_id, {_BASE_HASHES} AS base FROM sh),
sig AS (SELECT doc_id, [{_minhash_sigs_sql(k)}] AS sig FROM hs),
banded AS (
  SELECT doc_id, b,
         {h60(f"array_to_string(sig[b*{rpb}+1 : b*{rpb}+{rpb}], ',')")} AS bkey
  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, {bands - 1})) AS b) bs
)
SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
FROM banded l JOIN banded r
  ON l.b = r.b AND l.bkey = r.bkey AND l.doc_id < r.doc_id
"""


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


def x06_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard similarity join (threshold 0.2 → the 25
    planted near-dup pairs at sf0.01).  ``max_shingle_df=None`` is
    explicit: the DuckDB oracle below is the EXACT join, so the
    library's hot-shingle cap default (which lower-bounds jaccard on
    corpora with a >1000-df shingle) must not apply here — latent on the
    fixtures only because their shingle DF stays far below the cap."""
    return D.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", n=3, threshold=0.2,
        max_shingle_df=None,
    )


X06_SQL = f"""
WITH sh AS (SELECT doc_id, {shingles_sql(3)} AS s FROM documents),
ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
shared AS (
  SELECT l.doc_id AS left_id, r.doc_id AS right_id, count(*) AS c
  FROM ex l JOIN ex r ON l.g = r.g AND l.doc_id < r.doc_id
  GROUP BY 1, 2),
sz AS (SELECT doc_id, len(s) AS n FROM sh)
SELECT left_id, right_id, round(c * 1.0 / (la.n + lb.n - c), 6) AS jaccard
FROM shared JOIN sz la ON left_id = la.doc_id JOIN sz lb ON right_id = lb.doc_id
WHERE round(c * 1.0 / (la.n + lb.n - c), 6) >= 0.2
"""


def x07_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 48-bit SimHash signature (48 bits keeps random-pair
    hamming distances far from the near-dup threshold even on a small
    vocabulary corpus).  Reads the shared per-session signature cache."""
    return _simhash_sigs(spark, sf_dir, bits=48).select(
        "doc_id", F.col("__sig").alias("simhash")
    )


def _x07_sql(bits: int = 16) -> str:
    votes = " + ".join(
        f"(CASE WHEN list_aggregate(list_transform(hs, h -> "
        f"CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END), 'sum') >= 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(bits)
    )
    return f"""
WITH th AS (SELECT doc_id, list_transform({TOKS}, t -> {h60("t")}) AS hs FROM documents)
SELECT doc_id, CAST({votes} AS BIGINT) AS simhash FROM th
"""


# Simhash signatures are stored once at ingest in a production corpus
# (memo.py); x07 and x08 share the persisted frame.
@session_memo
def _simhash_sigs(spark: SparkSession, sf_dir: str, bits: int = 48) -> DataFrame:
    sigs = D.add_simhash(
        _t(spark, sf_dir, "documents"), "text", bits, "__sig"
    ).select("doc_id", "__sig")
    return sigs.persist()


def x08_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: banded candidates + hamming ≤ 3 verify.
    Signatures come from the per-session persisted cache (computed once,
    shared with x07 — the ingest-time persistence story at 100 TB)."""
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


def x09_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID over documents."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id", X.lang_id("text").alias("lang_pred")
    )


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


def x10_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score per document."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id", X.quality_score("text").alias("quality")
    )


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


def x11_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace, BPE-ish regex chunks, len/4 estimate."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        X.token_count("text").alias("ws_tokens"),
        X.bpe_ish_token_count("text").alias("bpe_tokens"),
        X.chars_per_token_estimate("text").alias("est_tokens"),
    )


X11_SQL = f"""
SELECT doc_id,
       CAST(len({WS_TOKS}) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '{X.WORDLIKE_PATTERN}')) AS BIGINT) AS bpe_tokens,
       CAST(ceil(length(text) / 4) AS BIGINT) AS est_tokens
FROM documents
"""


def x09_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged per-document text-analysis profile (E4): char/token counts
    (q24_text_stats), whitespace/BPE-ish/estimate token counting
    (x11_token_stats), heuristic language-ID (x09_lang_id), and composite
    quality scoring (x10_quality) in ONE narrow JVM-side projection — zero
    Python.  Merged so the registry stays inside the driver's check window;
    the standalone queries remain above for tests.  The input is widened to
    cluster parallelism first (regex CPU ≫ scan bytes; no-op at 100 TB
    where file count ≥ cores)."""
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


def x12_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup, exact baseline: all-pairs cosine ≥ 0.45 through
    ``cosine_pairs_exact`` — O(N²) by design, guarded to refuse inputs
    beyond 20k rows so the registered query can never launch a cartesian
    on at-scale data.  The scale path is x13_cosine_join (LSH-pruned),
    which this query verifies."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.cosine_pairs_exact(emb, threshold=0.45)


X12_SQL = """
SELECT a.vec_id AS left_id, b.vec_id AS right_id,
       round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
         / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
          * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
         / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
          * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) >= 0.45
"""


def x13_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via LSH buckets (kept test-only, not registered:
    approximation quality is asserted as recall-vs-brute-force in tests)."""
    return S.lsh_bucket_topk(
        _t(spark, sf_dir, "embeddings"), probe_id=1, k=5, dim=64, n_planes=4, n_tables=8
    )


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


# An ANN index is built once at ingest and probed many times: rebuilding
# the centroid assignment (a seeds collect + a narrow scoring pass) per
# probe would charge every query the ingest cost.  The persisted frame is
# the ~N-row indexed corpus; centroids are n_cells × dim floats.
@session_memo
def _ivf_indexed(spark: SparkSession, sf_dir: str, n_cells: int = 16):
    indexed, centroids = S.ivf_index(_t(spark, sf_dir, "embeddings"), n_cells)
    return indexed.persist(), centroids


def x14_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k registered at FULL probe (n_probe == n_cells), where IVF
    is provably identical to brute force (similarity.py documents the
    equality) — that identity is the oracle (the Q23 brute-force SQL).
    Partial-probe recall and the cell-pruning behavior are pinned in
    tests/test_ann_ivf.py.  The index is built once per session via
    ``_ivf_indexed`` and probed here."""
    indexed, centroids = _ivf_indexed(spark, sf_dir, n_cells=16)
    return S.ann_ivf_topk_indexed(
        indexed, centroids, probe_id=1, k=5, n_probe=16
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


def x16_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing (one blob → N frame rows): byte-slice frames
    via mapInPandas; the oracle slices the same UTF-8 blobs with substring
    arithmetic.  Frame payloads surface as hex strings so the driver's
    pandas canonicalizer can sort/hash them (bytearrays are unhashable)."""
    from jurimetria_etl_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents")
    blobs = M.attach_text_as_binary(docs)
    frames = M.sample_frames(blobs, every_n_bytes=256, max_frames=4)
    return frames.select(
        "src", "frame_idx", F.hex(F.col("frame")).alias("frame_hex")
    )


# DuckDB 1.0 has no BLOB substring; the fixture docs are pure ASCII
# (octet_length == length, asserted in tests), so char slicing before
# encode() is byte-exact.  Both engines' hex() emit uppercase.
X16_SQL = """
SELECT 'mem://doc/' || doc_id AS src,
       CAST(i AS INT) AS frame_idx,
       hex(encode(substring(text, CAST(i * 256 + 1 AS BIGINT), 256))) AS frame_hex
FROM documents,
     UNNEST(generate_series(
       0, least(4, greatest(1, octet_length(encode(text)) // 256)) - 1)) AS t(i)
"""


def x18_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clustering: MinHash near-dup pairs (x05) →
    connected components by min-label propagation → every document labeled
    with its cluster id (own id when it has no near-dup).  Registered since
    round 3 — the driver checks it against the recursive-CTE DuckDB oracle
    below (and tests/test_deregistered_queries.py retains sf0.001
    coverage via the registered-query sweep in test_correctness)."""
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


def x19_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language corpus rebalancing (keep 20% of 'en',
    60% of 'fr', everything else untouched at 100%), decided by hashing
    doc_id — engine-portable, re-run-stable, no rand().  Not registered
    (50-entry window) — oracle-checked in tests/test_deregistered_queries.py."""
    from jurimetria_etl_spark.operators import sampling as SM

    docs = _t(spark, sf_dir, "documents")
    return SM.stratified_sample(
        docs,
        "lang",
        {"en": 0.2, "fr": 0.6},
        key_col="doc_id",
        default_fraction=1.0,
    ).select("doc_id", "lang")


# Mirrors operators/sampling.py:sample_bucket — hash60 with a 'sample:'
# salt prefix, mod 1e6, thresholded per stratum.
_X19_BUCKET = h60("'sample:' || CAST(doc_id AS VARCHAR)") + " % 1000000"
X19_SQL = f"""
SELECT doc_id, lang FROM documents
WHERE {_X19_BUCKET} < (CASE lang WHEN 'en' THEN 200000
                                 WHEN 'fr' THEN 600000
                                 ELSE 1000000 END)
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
    recomputes the identical permutation from the same md5).  Not
    registered (50-entry window; x20 covers the packing prefix sum) —
    oracle-checked in tests/test_deregistered_queries.py."""
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
    (curation_gate_flags).  Not registered (50-entry window) —
    oracle-checked in tests/test_deregistered_queries.py."""
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


def x21_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: 240-char windows advancing by 200 (40-char
    overlap) — the prep step between curation and packing.  Not registered —
    oracle-checked in tests/test_deregistered_queries.py."""
    docs = _t(spark, sf_dir, "documents")
    return X.chunk_documents(
        docs, chunk_chars=240, overlap_chars=40
    ).select("doc_id", "chunk_idx", "chunk")


X21_SQL = """
SELECT doc_id, CAST(i AS INT) AS chunk_idx,
       substring(text, i * 200 + 1, 240) AS chunk
FROM documents,
     UNNEST(generate_series(
       0, CAST(ceil(greatest(length(text) - 40, 1) / 200.0) AS BIGINT) - 1)) AS t(i)
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
# fragments the standalone oracles use: X09/X10 gates, X01-style
# min-id-per-fingerprint dedup, the X05 minhash/banding/verify chain at
# 0.7 over the deduped set, X18-style recursive transitive closure with
# min-id survivors, X21 chunk arithmetic (240/40), X20 cumsum packing.
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


# Synthetic-corpus thresholds: the fixture documents are single-line
# lowercase prose (~40-260 words, mean word length ~4.4), so the Gopher
# paper bounds would pass everything; these split the corpus instead.
_X24_RULES = dict(
    min_words=40,
    max_words=100_000,
    min_mean_word_length=3.0,
    max_mean_word_length=4.8,
    max_symbol_word_ratio=0.05,
    min_alpha_word_fraction=0.9,
    min_stopwords=2,
    max_dup_line_fraction=0.3,
    max_bullet_line_fraction=0.5,
    max_ellipsis_line_fraction=0.3,
    max_top_2gram_char_fraction=0.08,
)


def x24_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style quality-rule metrics + pass flag
    (operators/quality.py) over the documents corpus."""
    from jurimetria_etl_spark.operators import quality as QL

    docs = _t(spark, sf_dir, "documents")
    return QL.add_quality_rules(docs).select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "alpha_word_frac",
        "symbol_word_ratio",
        "n_stopwords",
        "dup_line_frac",
        "top_2gram_char_frac",
        QL.passes_quality("text", **_X24_RULES).alias("passes"),
    )


_WS = WS_TOKS
_WS_LC = WS_TOKS_LC
_LINES = "string_split(text, chr(10))"
_GRAMS2 = (
    f"list_transform(generate_series(1, len({_WS}) - 1), "
    f"i -> {_WS}[i] || ' ' || {_WS}[i+1])"
)
_STOPS = "('the', 'a', 'of', 'and', 'is', 'to', 'in')"

X24_SQL = f"""
WITH m AS (
  SELECT doc_id,
    CAST(len({_WS}) AS BIGINT) AS n_words,
    round(list_sum(list_transform({_WS}, w -> len(w))) * 1.0
          / nullif(len({_WS}), 0), 6) AS mean_word_len,
    round(len(list_filter({_WS}, w -> regexp_matches(w, '\\p{{L}}'))) * 1.0
          / nullif(len({_WS}), 0), 6) AS alpha_word_frac,
    round((len(regexp_extract_all(text, '#'))
           + len(regexp_extract_all(text, '\\.\\.\\.'))
           + len(regexp_extract_all(text, '…'))) * 1.0
          / nullif(len({_WS}), 0), 6) AS symbol_word_ratio,
    CAST(len(list_filter({_WS_LC}, w -> w IN {_STOPS})) AS BIGINT)
      AS n_stopwords,
    round(1.0 - len(list_distinct({_LINES})) * 1.0 / len({_LINES}), 6)
      AS dup_line_frac,
    round(len(list_filter({_LINES},
                l -> regexp_matches(ltrim(l), '^[-*•]'))) * 1.0
          / len({_LINES}), 6) AS bullet_line_frac,
    round(len(list_filter({_LINES},
                l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$'))) * 1.0
          / len({_LINES}), 6) AS ellipsis_line_frac,
    round(coalesce(list_max(list_transform(list_distinct({_GRAMS2}),
            d -> len(list_filter({_GRAMS2}, g -> g = d)) * len(d))), 0) * 1.0
          / nullif(len(trim(text)), 0), 6) AS top_2gram_char_frac
  FROM documents)
SELECT doc_id, n_words, mean_word_len, alpha_word_frac, symbol_word_ratio,
       n_stopwords, dup_line_frac, top_2gram_char_frac,
       coalesce(
         n_words >= {_X24_RULES["min_words"]}
         AND n_words <= {_X24_RULES["max_words"]}
         AND mean_word_len >= {_X24_RULES["min_mean_word_length"]}
         AND mean_word_len <= {_X24_RULES["max_mean_word_length"]}
         AND symbol_word_ratio <= {_X24_RULES["max_symbol_word_ratio"]}
         AND alpha_word_frac >= {_X24_RULES["min_alpha_word_fraction"]}
         AND n_stopwords >= {_X24_RULES["min_stopwords"]}
         AND dup_line_frac <= {_X24_RULES["max_dup_line_fraction"]}
         AND bullet_line_frac <= {_X24_RULES["max_bullet_line_fraction"]}
         AND ellipsis_line_frac <= {_X24_RULES["max_ellipsis_line_fraction"]}
         AND top_2gram_char_frac
             <= {_X24_RULES["max_top_2gram_char_fraction"]},
         false) AS passes
FROM m
"""


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


# Target mixture for x26: src4 is deliberately unweighted (dropped).  The
# weight literals are normalized HERE so the SQL embeds the exact doubles
# the Spark plan uses (0.4+0.3+0.2+0.1 != 1.0 in IEEE arithmetic).
_X26_WEIGHTS = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}
_X26_NORM = {
    s: w / sum(_X26_WEIGHTS.values()) for s, w in _X26_WEIGHTS.items()
}


def x26_mix_corpora(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture re-weighting (operators/sampling.py:mix_corpora):
    downsample the five fixture sources to a 40/30/20/10 mix (src4
    dropped), deterministic per (doc_id, epoch)."""
    from jurimetria_etl_spark.operators import sampling as SM

    docs = _t(spark, sf_dir, "documents")
    return SM.mix_corpora(docs, _X26_WEIGHTS).select(
        "doc_id", "source", "epoch"
    )


def _x26_sql() -> str:
    w_case = "CASE source " + " ".join(
        f"WHEN '{s}' THEN {w!r}" for s, w in sorted(_X26_NORM.items())
    ) + " END"
    srcs = ", ".join(f"'{s}'" for s in sorted(_X26_NORM))
    bucket = h60(
        "'mix:' || CAST(doc_id AS VARCHAR) || ':' || CAST(e AS VARCHAR)"
    )
    return f"""
WITH c AS (
  SELECT source, count(*) AS n, {w_case} AS w
  FROM documents WHERE source IN ({srcs}) GROUP BY source),
t AS (SELECT min(n / w) AS total FROM c),
plan AS (
  SELECT source,
         CAST(floor(w * (SELECT total FROM t) / n) AS BIGINT) AS epochs,
         CAST(floor(w * (SELECT total FROM t) / n * 1000000) AS BIGINT)
           - CAST(floor(w * (SELECT total FROM t) / n) AS BIGINT) * 1000000
           AS thr
  FROM c)
SELECT d.doc_id, d.source, CAST(e AS INT) AS epoch
FROM documents d
JOIN plan p USING (source),
     UNNEST(generate_series(0, p.epochs)) AS g(e)
WHERE e < p.epochs OR ({bucket}) % 1000000 < p.thr
"""


X26_SQL = _x26_sql()


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


# Bench-only composites: timed in bench.py with their DuckDB denominator
# and oracle-checked in the pytest harness, but outside the driver's
# 50-entry registry window.  x27 is timing-only (approximate estimates
# differ per engine by design).
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


# x22 is the full-pipeline composite (curation → chunk → pack) — timed
# and oracle-checked in the pytest harness, but outside the driver's
# 50-entry registry window.  x27 is timing-only (approximate estimates
# differ per engine by design).  q32b is the registered q32's
# scale-path twin — same oracle, different physical strategy.
BENCH_ONLY: dict[str, Q] = {
    "x22_training_shards": Q(x22_training_shards, X22_SQL),
    "x27_hll_daily_uniques": Q(x27_hll_daily_uniques, X27_SQL),
    "q32b_percentile_hist": Q(q32b_percentile_hist, Q32_SQL),
}


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


def x30_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end boilerplate removal: build the strip-list
    (``boilerplate_spans``, 40-char spans in ≥2 docs) and subtract it
    from every document via the canonical lexicographic replace fold
    (``strip_boilerplate``).  The oracle re-derives the same list and
    fold with DuckDB ``list_reduce``/``replace`` — string-identical
    output, so the whole broadcast-attach + fold plumbing is
    value-checked.  pytest-oracle (registry window full)."""
    from jurimetria_etl_spark.operators import spans as SP

    docs = _t(spark, sf_dir, "documents")
    bp = SP.boilerplate_spans(docs, span_len=40, min_df=2)
    return SP.strip_boilerplate(docs, bp)


X30_SQL = """
WITH g AS (
  SELECT DISTINCT doc_id, substring(text, i, 40) AS span
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, length(text) - 39)) AS i)
),
bp AS (SELECT span FROM g GROUP BY span HAVING COUNT(*) >= 2),
strip AS (SELECT COALESCE(list_sort(list(span)), []) AS spans FROM bp)
SELECT d.doc_id,
       list_reduce(list_prepend(d.text, s.spans),
                   (acc, x) -> replace(acc, x, '')) AS clean_text
FROM documents d CROSS JOIN strip s
"""


def x31_cross_corpus_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus duplicate spans (``duplicate_spans_against``) with the
    documents table split even/odd as the two corpora — the span-level
    decontamination / incremental-ingest shape, value-checked against the
    brute-force cross L-gram join.  pytest-oracle (registry window
    full)."""
    from jurimetria_etl_spark.operators import spans as SP

    docs = _t(spark, sf_dir, "documents")
    even = docs.where(F.col("doc_id") % 2 == 0)
    odd = docs.where(F.col("doc_id") % 2 == 1)
    return SP.duplicate_spans_against(even, odd, span_len=40, k=8, max_fp_df=None)


X31_SQL = """
WITH gl AS (
  SELECT DISTINCT doc_id, substring(text, i, 40) AS span
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, length(text) - 39)) AS i)
  WHERE doc_id % 2 = 0),
gr AS (
  SELECT DISTINCT doc_id, substring(text, i, 40) AS span
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, length(text) - 39)) AS i)
  WHERE doc_id % 2 = 1)
SELECT gl.doc_id AS left_id, gr.doc_id AS right_id, gl.span AS span
FROM gl JOIN gr ON gl.span = gr.span
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
    (8-byte longs on the corpus-wide exchange, size-gated survivor
    broadcast) is the part under test; the deterministic line-ification
    (``_lined_docs``) plants section headers / a global footer so the
    duplicate set is non-trivial on the single-line fixture."""
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


def x33_strip_duplicate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The application half: remove every ≥min_df line from every
    document (``strip_duplicate_lines`` — broadcast line-set Arrow scan),
    value-checked against a DuckDB re-derivation that anti-joins the
    exploded lines and re-joins survivors in original order.
    pytest-oracle (registry window full)."""
    from jurimetria_etl_spark.operators import spans as SP

    docs = _lined_docs(spark, sf_dir)
    lines = SP.duplicate_lines(docs, min_df=2)
    return SP.strip_duplicate_lines(docs, lines)


X33_SQL = f"""
WITH {_LINED_SQL_CTE},
l AS (
  SELECT DISTINCT doc_id, line FROM (
    SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM lined)
  WHERE length(trim(line)) >= 10),
dup AS (SELECT line FROM l GROUP BY line HAVING COUNT(*) >= 2),
exploded AS (
  SELECT doc_id, ls[i] AS line, i AS ord
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM lined),
       LATERAL (SELECT unnest(generate_series(1, len(ls))) AS i)),
kept AS (
  SELECT e.doc_id, e.line, e.ord
  FROM exploded e ANTI JOIN dup d ON e.line = d.line)
SELECT li.doc_id,
       COALESCE(k.clean_text, '') AS clean_text
FROM lined li LEFT JOIN (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY ord) AS clean_text
  FROM kept GROUP BY doc_id) k USING (doc_id)
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
    queries = spark.createDataFrame(
        _X35_QUERIES, "query_id int, query_text string"
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
    tq = spark.createDataFrame(_X35_QUERIES, "query_id int, query_text string")
    pq = (
        embeds.join(
            spark.createDataFrame(
                [(i, i) for i in (1, 2, 3, 4)], "query_id int, pv bigint"
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

    tq = spark.createDataFrame(_X35_QUERIES, "query_id int, query_text string")
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


def x39b_top_frac_per_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fraction form of x39: best 20% of each source by length."""
    from jurimetria_etl_spark.operators import sampling as SM

    docs = _t(spark, sf_dir, "documents")
    return SM.top_k_per_domain(
        docs, "source", "n_chars", fraction=0.2, id_col="doc_id"
    ).select("doc_id", "source", "n_chars")


X39B_SQL = """
WITH ranked AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rk,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents)
SELECT d.doc_id, d.source, d.n_chars
FROM documents d JOIN ranked r USING (doc_id)
WHERE r.rk <= CAST(ceil(r.n * 0.2) AS INT)
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
    # deterministic centroids: the lowest-id seed vectors (ivf_index's
    # in-lieu-of-kmeans rule), so the store generation is a pure
    # function of the fixture
    seeds = (
        emb.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(n_cells)
        .collect()
    )
    cents = [
        (i, [float(x) for x in r["embedding"]])
        for i, r in enumerate(seeds)
    ]
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


# 20 entries, every one oracle-carrying.  Kept as functions + pytest
# coverage but not registered: x09_lang_id / x10_quality / x11_token_stats
# (merged into x09_text_profile), x13_ann_lsh (approximate by design;
# recall pinned in tests — the deterministic LSH *join* is registered as
# x13_cosine_join instead).
EXTENSIONS: dict[str, Q] = {
    "x01_dedup_docs": Q(x01_dedup_docs, X01_SQL),
    "x05_minhash_near_dups": Q(x05_minhash_near_dups, X05_SQL),
    "x08_simhash_near_dups": Q(x08_simhash_near_dups, _x08_sql(48, 12, 3)),
    # Mid-round-8 rotation: x36/x37 (SemDeDup, hybrid retrieval) admitted;
    # x06's n-gram Jaccard exact join rotates to the pytest-oracle file —
    # its shingle/candidate machinery stays registered via x05 (same
    # join shape, minhash-banded) and the x06 DuckDB comparison continues
    # in tests/test_deregistered_queries.py.
    "x36_semdedup": Q(x36_semdedup, X36_SQL),
    "x37_hybrid_search": Q(x37_hybrid_search, X37_SQL),
    # Round-12 rotation (q26 → pytest-oracle): the composed at-scale
    # retrieval path — persisted ANN store → probe → RRF fusion — gets
    # its driver-gate row (r11 verdict task 2).  Full probe makes x37's
    # exact oracle apply verbatim; the plan underneath is the store
    # form (replay fold + static cell pruning + broadcast probe-cell
    # join).  q26's session-window semantics keep the identical DuckDB
    # comparison in tests/test_deregistered_queries.py, the streaming
    # session-window axis stays driver-covered by q33 + test_streaming.
    "x37b_hybrid_search_ann": Q(x37b_hybrid_search_ann, X37_SQL),
    "x09_text_profile": Q(x09_text_profile, X09_PROFILE_SQL),
    "x13_cosine_join": Q(x13_cosine_join, _x13_join_sql()),
    # Round-6: the AUTO-SCALED similarity join (default n_planes=None
    # path) — the registered corpus now executes the scale-safe LSH plan
    # the round-5 verdict asked for; x12's exact all-pairs baseline
    # rotated to pytest-oracle (its cosine math is re-exercised by the
    # x13/x13b re-score stage and by q23, which oracles x14).
    "x13b_cosine_join_scaled": Q(
        x13b_cosine_join_scaled, _x13_join_sql(n_planes=2)
    ),
    # Round-11 rotation (x14 → pytest-oracle): the dense-retrieval
    # driver row moves from the session-built IVF probe to the PERSISTED
    # incremental store (r10 verdict task 2) — same full-probe ≡
    # brute-force identity as its oracle, now additionally exercising
    # append/replay-fold/load/static-prune.  x14's single-probe path is
    # the same scoring kernel; its Q23 comparison continues in
    # tests/test_deregistered_queries.py.
    "x41_ann_store_topk": Q(x41_ann_store_topk, X41_SQL),
    # Round-6: cross-document duplicate-span detection (the biggest
    # missing LLM-curation capability per the round-5 verdict).
    "x28_duplicate_spans": Q(x28_duplicate_spans, X28_SQL),
    # Round-8: line-level dedup gets its engine-vs-engine oracle (the r7
    # verdict's top missing check); admitted by rotating q15/q24 out.
    "x32_duplicate_lines": Q(x32_duplicate_lines, X32_SQL),
    # Round-13 rotation (x15 → pytest-oracle): the one-row per-gate
    # curation funnel audit — the composite the whole curation stack
    # funnels through (recomposes the x09/x10 profile fragments and
    # x25's overlap shape) and the pre-commit drop-rate check a 100-TB
    # run fires before every full pass — gets the driver-gate row (r12
    # verdict task 4).  x15's single-op Arrow boundary stays exercised
    # by x18's pipeline and the x16/x17 pytest-oracles, and keeps the
    # identical DuckDB comparison in tests/test_deregistered_queries.py.
    "x43_curation_funnel": Q(x43_curation_funnel, X43_SQL),
    "x18_near_dup_clusters": Q(x18_near_dup_clusters, X18_SQL),
    "x20_pack_shards": Q(x20_pack_shards, X20_SQL),
    # Round-4 rotation: driver-grade rows for the curation-stage operators
    # (q11/q16 rotated out — q16 rides q17_setops' tagged union, q11 keeps
    # its pytest-oracle row in test_deregistered_queries.py).
    "x23_pii_scrub": Q(x23_pii_scrub, X23_SQL),
    "x25_decontaminate": Q(x25_decontaminate, X25_SQL),
    # Round-9 rotation (t03/t09 → pytest-oracle): the two r8 axes that
    # lacked driver-gate rows — Bloom-prefiltered incremental dedup and
    # BM25 keyword search (r8 verdict task 4).
    "x34_bloom_incremental_dedup": Q(x34_bloom_incremental_dedup, X34_SQL),
    "x35_bm25_search": Q(x35_bm25_search, X35_SQL),
    # Round-10 rotation (t14/t16 → pytest-oracle, plans/tpch.py): the
    # dataset-assembly (leakage-guarded train/eval split) and
    # model-quality (hashed-linear classifier apply) axes — the last two
    # capabilities without driver-verified rows (r9 verdict task 2).
    "x38_split_guarded": Q(x38_split_guarded, X38_SQL),
    "x40_classifier_scores": Q(x40_classifier_scores, X40_SQL),
}

# Round-5 rotation: the minhash/simhash intermediate stages rotated out to
# admit the correlated-subquery composites t08–t10; their composites
# (x05/x08) stay registered, and the standalone forms keep the same DuckDB
# comparison in tests/test_deregistered_queries.py.
EXT_DEREGISTERED: dict[str, Q] = {
    # Never registered (window full, r12): the seeded training-order
    # shuffle (x20 keeps the packing prefix sum registered).
    "x42_shuffled_shards": Q(x42_shuffled_shards, X42_SQL),
    # Round-13 rotation out (to admit x43_curation_funnel): the media-
    # metadata single-op Arrow boundary — x18's registered pipeline
    # exercises the same mapInPandas plumbing; identical DuckDB
    # comparison continues in tests/test_deregistered_queries.py.
    "x15_media_metadata": Q(x15_media_metadata, X15_SQL),
    # Round-11 rotation out (to admit x41_ann_store_topk): the
    # session-built IVF full-probe row — x41 registers the identical
    # probe math over the persisted store; the standalone form keeps
    # the same Q23 brute-force comparison in
    # tests/test_deregistered_queries.py.
    "x14_ann_ivf": Q(x14_ann_ivf, Q23_SQL),
    "x03_minhash": Q(x03_minhash, _x03_sql(8)),
    "x04_minhash_candidates": Q(x04_minhash_candidates, _x04_sql(8, 4)),
    "x07_simhash": Q(x07_simhash, _x07_sql(48)),
    # Round-6 rotation: x12's guarded exact all-pairs baseline moves here
    # (to admit x13b_cosine_join_scaled) — same DuckDB comparison at
    # sf0.001 in test_deregistered_queries.py.
    "x12_cosine_pairs": Q(x12_cosine_pairs, X12_SQL),
    # Never registered (window full): the boilerplate strip-list
    # aggregate companion of x28 and its application to the corpus.
    "x29_boilerplate_spans": Q(x29_boilerplate_spans, X29_SQL),
    "x30_strip_boilerplate": Q(x30_strip_boilerplate, X30_SQL),
    "x31_cross_corpus_spans": Q(x31_cross_corpus_spans, X31_SQL),
    # Round-7 rotation (to admit t16/t17/t20): two floor-dominated
    # single-op forms — E5 keeps x15 (the Arrow mapInPandas boundary) in
    # the driver window, E4 keeps x09; the frame-sample explode and the
    # Karp-Rabin fold keep the identical DuckDB comparison here and stay
    # on the bench.
    "x16_frame_sample": Q(x16_frame_sample, X16_SQL),
    "x17_rolling_fingerprint": Q(x17_rolling_fingerprint, X17_SQL),
    # Never registered (window full): the strip application half of the
    # registered x32_duplicate_lines.
    "x33_strip_duplicate_lines": Q(x33_strip_duplicate_lines, X33_SQL),
    # Mid-round-8 rotation out (to admit x36/x37): the n-gram Jaccard
    # exact join — x05 keeps the shingle/candidate join shape registered.
    "x06_ngram_jaccard": Q(x06_ngram_jaccard, X06_SQL),
    # Round-8 dataset-assembly forms: domain-balanced top-k/fraction
    # selection (operators/sampling.py).  Their sibling x38 (and x40)
    # moved into the driver window in round 10; x39/x39b's rank +
    # semi-join-back plan family stays driver-covered through x38's
    # split machinery and the q13 window-rank row.
    "x39_top_per_domain": Q(x39_top_per_domain, X39_SQL),
    "x39b_top_frac_per_domain": Q(x39b_top_frac_per_domain, X39B_SQL),
}
