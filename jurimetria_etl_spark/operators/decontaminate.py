"""Benchmark decontamination — remove training documents that overlap an
evaluation set (the n-gram-overlap method used for LLM training corpora,
e.g. GPT-3 appendix C / PaLM §6.1: a document is contaminated when enough
of its n-gram shingles also appear in any benchmark document).

Scale design (100 TB corpus vs ~MB-scale benchmark):
- The benchmark side reduces to a DISTINCT set of 60-bit shingle hashes —
  tiny (eval sets are thousands of documents), explicitly ``broadcast`` so
  the corpus-side probe is a map-side hash join: the 100 TB side is
  scanned ONCE, never shuffled.
- The corpus side explodes distinct shingle hashes per document (bounded
  by document length), joins against the broadcast set, and aggregates
  matches back per doc_id — the only shuffle is the per-doc count agg,
  keyed on doc_id (well distributed by construction).
- Hashes are md5-derived (``hash60``) so the DuckDB oracle recomputes the
  identical join keys (collision probability at 60 bits is negligible and
  identical across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jurimetria_etl_spark import storefs
from jurimetria_etl_spark.operators.dedup import hash60, word_shingles


def _shingle_hashes(col: str, n: int):
    return F.transform(word_shingles(col, n), lambda s: hash60(s))


def benchmark_shingle_set(
    bench: DataFrame, text_col: str = "text", n: int = 5
) -> DataFrame:
    """DISTINCT shingle hashes over the whole benchmark — the broadcast
    probe set.  One narrow explode + distinct on the (small) eval side."""
    return (
        bench.select(
            F.explode(_shingle_hashes(text_col, n)).alias("__bench_sh")
        )
        .distinct()
    )


def flag_contamination(
    docs: DataFrame,
    bench: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_overlap: int = 1,
    min_overlap_ratio: float = 0.0,
    bench_set: DataFrame | None = None,
) -> DataFrame:
    """Per-document contamination metrics against the benchmark:

    - ``n_shingles``: distinct n-gram shingles in the document
    - ``overlap_cnt``: how many also occur anywhere in the benchmark
    - ``overlap_ratio``: overlap_cnt / n_shingles (NULL when no shingles)
    - ``contaminated``: overlap_cnt ≥ min_overlap AND ratio ≥
      min_overlap_ratio (documents too short to shingle are clean)

    Left join from docs so every document gets a row (overlap 0 when
    nothing matches).

    The benchmark shingle set is broadcast unconditionally: an EXTERNAL
    benchmark is small by construction (eval suites are thousands of
    documents, the set is MBs).  A probe side that scales with the
    corpus — a train/eval split of the corpus itself — goes through
    ``_flag_against`` un-hinted instead, and AQE sizes the join from
    runtime bytes (``sampling.split_leakage_guarded``).

    ``bench_set``: an already-reduced distinct-shingle-hash frame
    (``benchmark_shingle_set``'s output, or a persisted benchmark
    store's ``shingles`` — ``load_benchmark_store``).  When given,
    ``bench`` may be ``None`` and its shingles are NOT recomputed — the
    repeated-gate path (per micro-batch streaming, per-shard batch
    sweeps) reads the tiny persisted set instead of re-exploding the
    benchmark text every call.  The frame must have been built with the
    SAME ``n`` (the persisted store verifies this as its generation
    contract).
    """
    if bench_set is None:
        if bench is None:
            raise ValueError(
                "flag_contamination needs bench or bench_set — pass the "
                "benchmark frame, or a persisted shingle set built with "
                "the same n (build_benchmark_store)"
            )
        bench_set = benchmark_shingle_set(bench, text_col, n)
    return _flag_against(
        docs, F.broadcast(bench_set), id_col, text_col, n,
        min_overlap, min_overlap_ratio,
    )


def _flag_against(
    docs: DataFrame,
    bench_set: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    min_overlap: int,
    min_overlap_ratio: float,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """``flag_contamination``'s body against a ready distinct-shingle
    probe set (column ``__bench_sh``), hinted or not as the caller
    decides: the join strategy is the probe's, the output the same.
    ``carry`` columns of ``docs`` (per-document constants) ride through
    the explode as grouping keys and reach the output.
    """
    # ONE pass over docs: shingle once, carry the per-doc shingle count
    # through an explode_outer (zero-shingle and NULL-text docs keep one
    # NULL row, so every document still gets an output row), LEFT join
    # the bench set, and aggregate count + matched-count together.  The
    # r8 shape scanned the doc side twice (overlap agg + a separate
    # n_shingles scan) and SortMergeJoined them back — the second scan
    # and the SMJ are pure waste at corpus scale (measured exponent
    # 0.78 on the split-guard path; this is the r8 verdict's fix #2).
    doc_sh = (
        docs.select(
            F.col(id_col),
            *carry,
            _shingle_hashes(text_col, n).alias("__shs"),
        )
        .select(
            id_col,
            *carry,
            F.size("__shs").cast("bigint").alias("n_shingles"),
            F.explode_outer("__shs").alias("__sh"),
        )
    )
    cnt, ratio = F.col("overlap_cnt"), F.col("overlap_ratio")
    out = (
        doc_sh.join(bench_set, doc_sh["__sh"] == bench_set["__bench_sh"], "left")
        .groupBy(id_col, *carry, "n_shingles")
        .agg(F.count("__bench_sh").alias("overlap_cnt"))
        .withColumn(
            "overlap_ratio",
            F.round(
                cnt / F.nullif(F.col("n_shingles"), F.lit(0)).cast("double"),
                6,
            ),
        )
    )
    # shingle-less documents (NULL ratio) are clean
    return out.withColumn(
        "contaminated",
        F.coalesce(
            (cnt >= min_overlap) & (ratio >= min_overlap_ratio), F.lit(False)
        ),
    )


def remove_contaminated(
    docs: DataFrame,
    bench: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_overlap: int = 1,
    min_overlap_ratio: float = 0.0,
    bench_set: DataFrame | None = None,
) -> DataFrame:
    """Drop contaminated documents (all original columns kept): anti-join
    on the flagged id set — the flag side carries only ids, so AQE sizes
    the join from runtime stats (same policy as plans/curation.py).
    ``bench_set`` (optional) short-circuits the benchmark shingle
    reduction exactly as in ``flag_contamination``."""
    flagged = (
        flag_contamination(
            docs, bench, id_col, text_col, n, min_overlap,
            min_overlap_ratio, bench_set=bench_set,
        )
        .where("contaminated")
        .select(id_col)
    )
    return docs.join(flagged, id_col, "left_anti")


def flag_span_contamination(
    docs: DataFrame,
    bench: DataFrame,
    span_len: int = 40,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_fps: DataFrame | None = None,
    max_fp_df: int | None = None,
) -> DataFrame:
    """Per-document span-contamination REPORT — the metrics companion of
    ``remove_span_contaminated`` (the same relationship
    ``flag_contamination`` has to ``remove_contaminated``): instead of
    silently dropping, surface per document

    - ``n_shared_spans``: distinct ``span_len``-char spans also present
      in some benchmark document
    - ``n_bench_docs``: distinct benchmark documents implicated
    - ``contaminated``: n_shared_spans ≥ 1

    Left join from docs, so every document gets a row (zeros when
    clean) — the frame an auditor inspects before gating, and the
    provenance a leakage report needs (WHICH eval items leaked, how
    much).  Same exactness default as the gate: ``max_fp_df=None``."""
    from jurimetria_etl_spark.operators.spans import duplicate_spans_against

    hits = duplicate_spans_against(
        docs,
        bench,
        span_len=span_len,
        k=k,
        max_fp_df=max_fp_df,
        id_col=id_col,
        text_col=text_col,
        right_fps=bench_fps,
    )
    per_doc = hits.groupBy(F.col("left_id").alias(id_col)).agg(
        F.countDistinct("span").alias("n_shared_spans"),
        F.countDistinct("right_id").alias("n_bench_docs"),
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_shared_spans", F.lit(0)).alias("n_shared_spans"),
            F.coalesce("n_bench_docs", F.lit(0)).alias("n_bench_docs"),
            (F.coalesce("n_shared_spans", F.lit(0)) >= 1).alias(
                "contaminated"
            ),
        )
    )


def remove_span_contaminated(
    docs: DataFrame,
    bench: DataFrame,
    span_len: int = 40,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_fps: DataFrame | None = None,
    max_fp_df: int | None = None,
) -> DataFrame:
    """Span-level decontamination gate: drop every document sharing an
    EXACT ``span_len``-char span with the benchmark
    (operators/spans.py:duplicate_spans_against) — the complement of the
    token-shingle overlap above: shingle overlap catches paraphrase-ish
    reuse, exact-span catches verbatim leakage that tokenization can
    split differently.  Anti-join on the flagged id set, AQE-sized;
    ``bench_fps`` accepts the benchmark's persisted winnowed-fingerprint
    frame so repeated gates never re-winnow the benchmark.

    ``max_fp_df=None`` (the default) deliberately OVERRIDES
    ``duplicate_spans_against``'s production stop-fingerprint cap: a
    benchmark span that leaked into MORE documents than the cap is
    exactly the hottest contamination, and a cap would silently KEEP
    every one of those documents.  Exactness matters more than the
    shuffle bound here — the benchmark side is small, so the shared-
    fingerprint set stays benchmark-bounded even uncapped.  Set a cap
    only if you accept that recall trade, and the docs it drops are the
    most-leaked ones."""
    from jurimetria_etl_spark.operators.spans import duplicate_spans_against

    flagged = (
        duplicate_spans_against(
            docs,
            bench,
            span_len=span_len,
            k=k,
            max_fp_df=max_fp_df,
            id_col=id_col,
            text_col=text_col,
            right_fps=bench_fps,
        )
        .select(F.col("left_id").alias(id_col))
        .distinct()
    )
    return docs.join(flagged, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Persisted benchmark store — build the probe assets ONCE, gate many times
# ---------------------------------------------------------------------------

_BENCH_META = "_BENCHMARK.json"


class BenchmarkStore:
    """Loaded benchmark probe assets: ``shingles`` (distinct 60-bit
    shingle hashes, column ``__bench_sh``), ``span_fps`` (winnowed span
    fingerprints, or ``None`` when the store was built without the span
    axis), and the ``meta`` dict recording the generation contract."""

    __slots__ = ("shingles", "span_fps", "meta")

    def __init__(self, shingles: DataFrame, span_fps: DataFrame | None,
                 meta: dict):
        self.shingles = shingles
        self.span_fps = span_fps
        self.meta = meta


def build_benchmark_store(
    bench: DataFrame,
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    spans: bool = False,
    span_len: int = 40,
    span_k: int = 8,
) -> dict:
    """Persist the benchmark's decontamination probe assets ONCE so
    repeated gates — per micro-batch in ``curate_document_stream``, per
    shard in batch sweeps — read tiny parquet instead of re-shingling
    (and re-winnowing) the benchmark text every call:

    - ``shingles/``: the DISTINCT ``n``-gram shingle-hash set
      (``benchmark_shingle_set`` — the broadcast probe side of
      ``flag_contamination``), one ``__bench_sh bigint`` column;
    - ``span_fps/`` (``spans=True``): the benchmark's winnowed span
      fingerprints (``spans.winnowed_fingerprints`` — the ``bench_fps``
      input of ``remove_span_contaminated``, so the benchmark is never
      re-winnowed either).

    Generation contract (the ANN store's ``_CENTROIDS.json`` posture):
    ``n``/``span_len``/``span_k`` are recorded in ``_BENCHMARK.json``
    and ``load_benchmark_store`` verifies the caller's parameters
    against them — a set built at a different shingle width is a
    DIFFERENT probe set, and silently mixing widths would gate against
    the wrong keys.  A new benchmark version is a rebuild (overwrite) —
    run it in a maintenance window like every bare-parquet store swap;
    the meta write is atomic (``storefs.write_json``), the parquet
    overwrite is not.

    Returns the meta dict ({n, spans, span_len, span_k, n_shingles})."""
    shingles = benchmark_shingle_set(bench, text_col, n)
    shingles.write.mode("overwrite").parquet(f"{store_dir}/shingles")
    if spans:
        from jurimetria_etl_spark.operators.spans import (
            winnowed_fingerprints,
        )

        winnowed_fingerprints(
            bench, span_len, span_k, id_col, text_col
        ).write.mode("overwrite").parquet(f"{store_dir}/span_fps")
    spark = bench.sparkSession
    meta = {
        "n": int(n),
        "spans": bool(spans),
        "span_len": int(span_len) if spans else None,
        "span_k": int(span_k) if spans else None,
        "n_shingles": spark.read.parquet(f"{store_dir}/shingles").count(),
    }
    storefs.write_json(f"{store_dir}/{_BENCH_META}", meta)
    return meta


def load_benchmark_store(
    spark,
    store_dir: str,
    n: int | None = None,
    span_len: int | None = None,
    span_k: int | None = None,
) -> BenchmarkStore:
    """Rehydrate a persisted benchmark store.  Any parameter passed
    non-``None`` is VERIFIED against the recorded generation contract
    (mismatch raises — the wrong-width set must never gate silently);
    ``None`` accepts whatever the store was built with.  Requesting the
    span axis (``span_len``/``span_k``) from a shingle-only store
    raises too."""
    meta = storefs.read_json(f"{store_dir}/{_BENCH_META}")
    if meta is None:
        raise ValueError(
            f"benchmark store at {store_dir!r} has no {_BENCH_META} — "
            "build it with build_benchmark_store"
        )
    if n is not None and int(n) != meta["n"]:
        raise ValueError(
            f"benchmark store was built with n={meta['n']}, "
            f"requested n={n} — a different shingle width is a "
            "different probe set; rebuild the store"
        )
    wants_spans = span_len is not None or span_k is not None
    if wants_spans and not meta.get("spans"):
        raise ValueError(
            "benchmark store was built without the span axis — rebuild "
            "with build_benchmark_store(spans=True)"
        )
    if span_len is not None and int(span_len) != meta["span_len"]:
        raise ValueError(
            f"benchmark store spans were winnowed at span_len="
            f"{meta['span_len']}, requested {span_len} — rebuild the store"
        )
    if span_k is not None and int(span_k) != meta["span_k"]:
        raise ValueError(
            f"benchmark store spans were winnowed at k={meta['span_k']}, "
            f"requested {span_k} — rebuild the store"
        )
    shingles = spark.read.parquet(f"{store_dir}/shingles")
    span_fps = (
        spark.read.parquet(f"{store_dir}/span_fps")
        if meta.get("spans")
        else None
    )
    return BenchmarkStore(shingles, span_fps, meta)
