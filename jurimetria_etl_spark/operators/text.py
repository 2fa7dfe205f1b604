"""Text-analysis operators (SURVEY §2.12 E4): language-ID, quality scoring,
token counting, document fingerprinting.

Everything is a narrow JVM-side expression (split/filter/aggregate over the
token array) — at 100 TB these run at parquet-scan speed with zero Python
and zero shuffle.  Heuristics are deliberately engine-portable (the DuckDB
oracles recompute them exactly).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jurimetria_etl_spark.operators.dedup import tokens, ws_words

# Stopword marker sets per language — tiny by design (heuristic lang-ID, not
# a model); CJK detected by codepoint range.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is", "to", "in"),
    # Portuguese — the reference's own corpus language (Brazilian
    # judicial text, jurimetria_pipeline.py:163-179).  Markers chosen
    # pt-distinctive: none collide with the other lists ("os" ≠ es
    # "los", "uma" ≠ fr "une"), so adding the language cannot flip an
    # existing en/fr/es/de verdict.
    "pt": ("que", "não", "uma", "para", "com", "os", "do"),
    "fr": ("le", "la", "et", "les", "des", "une", "est"),
    "es": ("el", "los", "las", "una", "es", "y", "en"),
    "de": ("der", "die", "und", "das", "ein", "ist", "nicht"),
}
CJK_PATTERN = "[一-鿿]"


def _stopword_count(toks: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def lang_scores(col: Column | str) -> dict[str, Column]:
    # linguistic tokenization (\s+ runs): a newline between words must
    # not merge them and hide a stopword hit (dedup.ws_words docstring)
    toks = ws_words(F.lower(col))
    return {lang: _stopword_count(toks, words) for lang, words in LANG_STOPWORDS.items()}


def lang_id(col: Column | str) -> Column:
    """Heuristic language-ID: CJK presence → zh; otherwise the language
    with the highest stopword hit-count, fixed precedence
    en>pt>fr>es>de on ties, 'und' (undetermined) when no stopword hits
    at all."""
    scores = lang_scores(col)
    en, pt, fr, es, de = (
        scores["en"], scores["pt"], scores["fr"], scores["es"], scores["de"]
    )
    best = F.greatest(en, pt, fr, es, de)
    c = F.col(col) if isinstance(col, str) else col
    return (
        # NULL text (e.g. a PERMISSIVE-mode corrupt JSON row) is
        # undetermined — without this guard every WHEN evaluates NULL
        # and falls through to the 'de' branch.
        F.when(c.isNull(), F.lit("und"))
        .when(F.regexp_count(c, F.lit(CJK_PATTERN)) > 0, F.lit("zh"))
        .when(best == 0, F.lit("und"))
        .when(en == best, F.lit("en"))
        .when(pt == best, F.lit("pt"))
        .when(fr == best, F.lit("fr"))
        .when(es == best, F.lit("es"))
        .otherwise(F.lit("de"))
    )


def token_count(col: Column | str) -> Column:
    """Non-empty whitespace-run token count (linguistic tokenization —
    see dedup.ws_words)."""
    return F.size(ws_words(col)).cast("bigint")


# Unicode word/number/symbol chunks (r9): the ASCII form counted every
# accented letter as its own symbol chunk, so 'ação' cost 4 "tokens" —
# a wild over-estimate on the reference's Portuguese corpus.  \p
# classes are identical in Java regex and DuckDB RE2, so the x09 profile
# oracle (which interpolates this constant) recomputes the same counts.
WORDLIKE_PATTERN = r"\p{L}+|\p{N}+|[^\p{L}\p{N} ]"


def bpe_ish_token_count(col: Column | str) -> Column:
    """BPE-ish token estimate: count of lowercase word/number/symbol chunks
    via regexp extraction (a cheap proxy for subword tokenizers; the common
    ~4-chars-per-token heuristic is exposed separately)."""
    c = F.col(col) if isinstance(col, str) else col
    # regexp_count, not size(regexp_extract_all(...)): same non-overlapping
    # match count without materializing the match array per row
    return F.regexp_count(F.lower(c), F.lit(WORDLIKE_PATTERN)).cast("bigint")


def chars_per_token_estimate(col: Column | str) -> Column:
    """~len/4 token estimate used for quick corpus sizing."""
    return F.ceil(F.length(col) / 4).cast("bigint")


ROLL_BASE = 1_000_003  # prime base; acc·B + h stays < 2⁵² (overflow-safe)


def rolling_fingerprint(col: Column | str) -> Column:
    """Karp-Rabin-style rolling document fingerprint: left fold of
    ``acc·B + hash(token) (mod P)`` over the token stream (P = 2³¹−1).

    Order-sensitive (unlike a bag-of-words hash) and incrementally
    updatable — the property that lets a streaming ingest maintain it
    per-append.  Narrow fold, one md5 per token, no shuffle."""
    from jurimetria_etl_spark.operators.dedup import MINHASH_PRIME, hash60

    hs = F.transform(tokens(col), lambda t: hash60(t) % MINHASH_PRIME)
    return F.aggregate(
        hs,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * ROLL_BASE + h) % MINHASH_PRIME,
    )


def quality_score(col: Column | str, lang: str = "en") -> Column:
    """Composite document-quality score in [0,1]:
    0.4·min(n_tokens/100, 1)  — enough content
    0.4·(distinct/total)      — lexical diversity (spam/boilerplate ↓)
    0.2·min(5·stopword_ratio, 1) — natural-language-ness
    NULL for empty documents (NULL-propagating division).

    ``lang`` picks the stopword list for the natural-language term —
    pass ``"pt"`` for the reference's Portuguese corpus (an accented
    judicial text scores its stopword floor on pt markers, not en)."""
    if lang not in LANG_STOPWORDS:
        raise ValueError(
            f"quality_score: lang={lang!r} not in "
            f"{sorted(LANG_STOPWORDS)}"
        )
    toks = ws_words(F.lower(col))  # non-empty by construction
    n_tok = F.size(toks)
    n_tok_d = F.nullif(n_tok, F.lit(0)).cast("double")
    n_uniq = F.size(F.array_distinct(toks))
    stop = _stopword_count(toks, LANG_STOPWORDS[lang])
    score = (
        F.least(n_tok / F.lit(100.0), F.lit(1.0)) * 0.4
        + (n_uniq / n_tok_d) * 0.4
        + F.least(stop / n_tok_d * 5, F.lit(1.0)) * 0.2
    )
    return F.round(score, 6)


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    chunk_chars: int = 1000,
    overlap_chars: int = 100,
    chunk_col: str = "chunk",
    idx_col: str = "chunk_idx",
) -> DataFrame:
    """Split documents into fixed-size character windows with overlap (the
    context-window prep step downstream of curation): chunk ``i`` starts at
    offset ``i·(chunk_chars − overlap_chars)`` and spans ``chunk_chars``;
    the last chunk may be shorter; an empty document yields one empty
    chunk.  A chunk is emitted only if it contributes characters beyond
    the previous chunk's span — ``ceil(greatest(len − overlap, 1)/step)``
    chunks, not ``ceil(len/step)``, which would emit a final chunk fully
    contained in its predecessor whenever ``len mod step ∈ (0, overlap]``
    (duplicated content in training shards).

    Narrow expression — ``sequence`` over the start offsets + per-row
    explode; no shuffle, no Python, and the explode multiplies rows only
    by ``ceil(len/step)`` (bounded by the documents themselves, unlike a
    token-level explode).  Engine-portable arithmetic so an oracle can
    re-derive chunks with ``generate_series`` + ``substring``.
    """
    if overlap_chars >= chunk_chars:
        raise ValueError(
            f"chunk_documents: overlap_chars={overlap_chars} must be < "
            f"chunk_chars={chunk_chars} (the window must advance)"
        )
    step = chunk_chars - overlap_chars
    c = F.col(text_col)
    n_chunks = F.ceil(
        F.greatest(F.length(c) - F.lit(overlap_chars), F.lit(1)) / F.lit(step)
    )
    idx = F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int")))
    out = df.withColumn(idx_col, idx)
    return out.withColumn(
        chunk_col,
        F.substring(
            F.col(text_col), F.col(idx_col) * step + 1, chunk_chars
        ),
    )
