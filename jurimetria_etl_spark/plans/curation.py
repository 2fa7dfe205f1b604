"""End-to-end training-corpus curation — the composite the extension
operators exist for (SURVEY §2.12 / BASELINE north_star), chained the way a
real LLM-data pipeline runs them:

    language gate → quality gate → exact dedup → near-dup removal
    → per-document token accounting

Every stage is one of the oracle-checked operators from
``operators/{text,dedup}.py``; this module only composes them, so the
whole pipeline is a single lazy Catalyst plan (one scan of the corpus for
the gates, the two bounded dedup shuffles described in SCALE.md, and no
Python anywhere).

Scale shape at 100 TB:
- gates are narrow JVM expressions fused into the scan;
- exact dedup shuffles (fingerprint, id) — 16 bytes/row;
- near-dup removal shuffles (band, band-key, id) triples, then anti-joins
  the loser ids (broadcast when the near-dup set is small, as it is on a
  mostly-clean corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jurimetria_etl_spark.memo import pinned
from jurimetria_etl_spark.operators import dedup as D
from jurimetria_etl_spark.operators import text as X


def _gate_profile_columns(
    text_col: str,
    quality_lang: str,
    classifier: tuple[list[float], float] | None,
):
    """The profiling projection the gates read — shared by
    ``curate_corpus`` and ``curation_funnel`` so the two derive
    lang/quality/classifier inputs from the IDENTICAL expressions."""
    cols = [
        X.lang_id(text_col).alias("lang_pred"),
        # score the stopword floor on the corpus's own language —
        # curating a Portuguese corpus (languages=("pt",)) with the en
        # list would under-score every accepted document
        X.quality_score(text_col, lang=quality_lang).alias("quality"),
    ]
    if classifier is not None:
        from jurimetria_etl_spark.operators.classify import (
            linear_quality_score,
        )

        cols.append(
            linear_quality_score(text_col, *classifier).alias("quality_prob")
        )
    return cols


def curation_gate_flags(
    text_col: str = "text",
    languages: tuple[str, ...] = ("en",),
    min_quality: float = 0.3,
    classifier: tuple[list[float], float] | None = None,
    classifier_threshold: float = 0.5,
    quality_rules: dict | None = None,
) -> dict:
    """The named gate predicates of ``curate_corpus``, as boolean flag
    Columns over the profiled frame (``lang_pred``/``quality``
    [/``quality_prob``] present) — the single source of truth shared by
    the gate conjunction and ``curation_funnel``, so the audit can never
    drift from what the pipeline actually applies."""
    flags = {
        "lang_pass": F.col("lang_pred").isin(list(languages)),
        "quality_pass": F.col("quality") >= min_quality,
    }
    if classifier is not None:
        flags["classifier_pass"] = (
            F.col("quality_prob") >= classifier_threshold
        )
    if quality_rules is not None:
        from jurimetria_etl_spark.operators.quality import passes_quality

        flags["rules_pass"] = passes_quality(text_col, **quality_rules)
    return flags


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    languages: tuple[str, ...] = ("en",),
    min_quality: float = 0.3,
    near_dup_threshold: float = 0.7,
    # Everything below is the EXTENSION tail — keyword-only, so adding a
    # stage can never silently re-bind a positional caller (the r9/r10
    # ADVICE class of finding: quality_lang shifted when scrub_pii was
    # inserted).  The core reference-parity parameters above stay
    # positional-friendly.
    *,
    transitive: bool = True,
    minhash_k: int = 8,
    minhash_bands: int = 4,
    scrub_pii: bool = False,
    quality_rules: dict | None = None,
    benchmark: DataFrame | None = None,
    benchmark_store_dir: str | None = None,
    decontam_ngram: int = 5,
    decontam_min_overlap: int = 1,
    decontam_min_ratio: float = 0.0,
    decontam_spans: bool = False,
    strip_boilerplate_min_df: int | None = None,
    strip_lines_min_df: int | None = None,
    span_len: int = 40,
    span_k: int = 8,
    intermediate_dir: str | None = None,
    semdedup_eps: float | None = None,
    semdedup_centroids: list[tuple[int, list[float]]] | None = None,
    semdedup_n_clusters: int = 16,
    vec_col: str = "embedding",
    classifier: tuple[list[float], float] | None = None,
    classifier_threshold: float = 0.5,
    quality_lang: str = "en",
) -> DataFrame:
    """Curated corpus: documents that pass the language and quality gates,
    with exact duplicates collapsed (lowest id wins) and MinHash near-dups
    removed.

    Optional stages (all off by default, each an oracle-checked operator):

    - ``scrub_pii=True`` redacts PII in ``text_col`` FIRST
      (operators/scrub.py) so redacted forms — not raw PII — get
      fingerprinted, shingled, and stored.
    - ``quality_rules={...}`` adds the Gopher/C4 rule gate
      (operators/quality.py:passes_quality) with the given threshold
      overrides, alongside the composite quality score.
    - ``benchmark=<DataFrame>`` removes documents whose
      ``decontam_ngram``-gram shingles overlap the benchmark
      (operators/decontaminate.py) — run before dedup so contaminated
      documents can't become cluster survivors.
    - ``decontam_spans=True`` (with ``benchmark``) additionally drops
      documents sharing an EXACT ``span_len``-char span with the
      benchmark (operators/decontaminate.py:remove_span_contaminated) —
      verbatim leakage that token shingles can split differently;
      uncapped by default per that gate's contract.
    - ``benchmark_store_dir=<dir>`` reads the benchmark's persisted
      probe assets (``build_benchmark_store``: distinct shingle hashes,
      plus span fingerprints for the span axis) instead of re-shingling
      the benchmark text — the repeated-sweep path; the store verifies
      ``decontam_ngram``/``span_len``/``span_k`` against its recorded
      generation contract.  The shingle gate then needs no ``benchmark``
      frame at all; ``decontam_spans`` still requires it (span
      verification resolves benchmark text).
    - ``strip_boilerplate_min_df=<n>`` strips corpus boilerplate BEFORE
      profiling: spans of ``span_len`` chars occurring in ≥ n documents
      (operators/spans.py:boilerplate_spans) are removed via the
      broadcast-set scan (``strip_boilerplate_bulk``), so quality
      scores, shingles, and fingerprints see content, not template —
      boilerplate-heavy near-dup FALSE positives disappear with the
      boilerplate.  Runs after PII scrub (redacted forms feed the span
      counts).
    - ``semdedup_eps=<eps>`` (requires a ``vec_col`` embedding column)
      removes SEMANTIC near-dups LAST — after exact and minhash text
      dedup — via SemDeDup (operators/semdedup.py): k-means cells
      (``semdedup_centroids`` or ``semdedup_n_clusters`` seed cells)
      and a per-cluster prior-similarity scan.  Same stage order as the
      streaming composite (exact → minhash → semantic).
    - ``classifier=(weights, bias)`` adds the hashed-linear quality
      classifier (operators/classify.py — the fastText-style filter):
      a ``quality_prob`` audit column in the same profiling projection
      and a ``≥ classifier_threshold`` term in the gate.  Train on a
      labeled sample with ``train_hashed_linear``; the apply is one
      scan-fused fold, so the stage costs no extra pass.
    - ``strip_lines_min_df=<n>`` likewise strips duplicated LINES
      (``duplicate_lines`` / ``strip_duplicate_lines`` — the
      CCNet/RefinedWeb paragraph axis: variable-length natural units
      like nav menus and banners) before profiling; composable with the
      fixed-span strip (lines run first — whole-line removals shrink
      the span table).

    Near-dup removal semantics: by default (``transitive=True``) the pair
    graph is clustered into connected components and exactly ONE document
    (the minimum id) survives per cluster — the semantics every
    deduplication paper means by "remove near-duplicates".  The greedy
    alternative (``transitive=False``) drops the greater id of every pair;
    it keeps the whole pipeline one lazy plan (no driver-side convergence
    loop) but over-keeps on star graphs: pairs (1,3),(2,3) without (1,2)
    keep {1,2} where cluster semantics keep {1}.

    ``minhash_k`` / ``minhash_bands`` tune LSH recall: more bands with
    fewer rows each (e.g. ``k=8, bands=8``) catches lower-Jaccard pairs at
    the cost of more candidate verification — raise bands when
    ``near_dup_threshold`` is far below the default 0.7.

    Returns the surviving rows plus the audit columns the gates computed
    (lang_pred, quality, token counts) — downstream sampling/packing needs
    them anyway, and they are free (computed in the same projection).
    """
    # The gates are regex/token CPU per row, far denser than the scan; a
    # byte-sized split plan under-parallelizes them (a single-file corpus
    # plans as one task).  widen_partitions is a no-op whenever file count
    # already covers cluster width — the 100 TB case.
    if decontam_spans and benchmark is None:
        raise ValueError(
            "decontam_spans requires the benchmark frame — span "
            "verification resolves the benchmark text (a persisted "
            "store holds only fingerprints)"
        )
    docs = D.widen_partitions(docs)
    if scrub_pii:
        from jurimetria_etl_spark.operators.scrub import scrub_documents

        docs = scrub_documents(docs, text_col)
    if strip_lines_min_df is not None:
        from jurimetria_etl_spark.operators.spans import (
            duplicate_lines,
            strip_duplicate_lines,
        )

        dl = duplicate_lines(docs, strip_lines_min_df, id_col=id_col, text_col=text_col)
        docs = strip_duplicate_lines(
            docs, dl, id_col=id_col, text_col=text_col, replace=True
        )
    if strip_boilerplate_min_df is not None:
        from jurimetria_etl_spark.operators.spans import (
            boilerplate_spans,
            strip_boilerplate_bulk,
        )

        bp = boilerplate_spans(
            docs, span_len, strip_boilerplate_min_df, id_col, text_col
        )
        docs = strip_boilerplate_bulk(
            docs, bp, span_len, id_col, text_col, replace=True
        )
    profile_cols = _gate_profile_columns(text_col, quality_lang, classifier)
    profile_cols = profile_cols[:2] + [
        X.token_count(text_col).alias("ws_tokens"),
        X.bpe_ish_token_count(text_col).alias("bpe_tokens"),
    ] + profile_cols[2:]
    profiled = docs.select("*", *profile_cols)
    gate = F.lit(True)
    for flag in curation_gate_flags(
        text_col, languages, min_quality,
        classifier, classifier_threshold, quality_rules,
    ).values():
        gate = gate & flag
    gated = profiled.where(gate)
    if benchmark is not None or benchmark_store_dir is not None:
        from jurimetria_etl_spark.operators.decontaminate import (
            remove_contaminated,
        )

        bench_set = None
        bench_fps = None
        if benchmark_store_dir is not None:
            from jurimetria_etl_spark.operators.decontaminate import (
                load_benchmark_store,
            )

            bs = load_benchmark_store(
                docs.sparkSession,
                benchmark_store_dir,
                n=decontam_ngram,
                span_len=span_len if decontam_spans else None,
                span_k=span_k if decontam_spans else None,
            )
            bench_set = bs.shingles
            bench_fps = bs.span_fps
        gated = remove_contaminated(
            gated,
            benchmark,
            id_col,
            text_col,
            n=decontam_ngram,
            min_overlap=decontam_min_overlap,
            min_overlap_ratio=decontam_min_ratio,
            bench_set=bench_set,
        )
        if decontam_spans:
            from jurimetria_etl_spark.operators.decontaminate import (
                remove_span_contaminated,
            )

            gated = remove_span_contaminated(
                gated,
                benchmark,
                span_len=span_len,
                k=span_k,
                id_col=id_col,
                text_col=text_col,
                bench_fps=bench_fps,
            )

    exact = D.dedup_by_fingerprint(gated, text_col, id_col)

    def _sem(stage_out: DataFrame) -> DataFrame:
        # semantic (embedding) dedup LAST: text-identical and
        # text-near-dup rows are already gone, so the per-cluster scan
        # sees only the semantically distinct candidates.  Mirrors the
        # streaming composite's stage order (exact → minhash → semantic).
        if semdedup_eps is None:
            return stage_out
        if vec_col not in stage_out.columns:
            raise ValueError(
                f"semdedup_eps requires a {vec_col!r} embedding column "
                "on the corpus"
            )
        from jurimetria_etl_spark.operators.semdedup import semdedup

        return semdedup(
            stage_out,
            eps=semdedup_eps,
            id_col=id_col,
            vec_col=vec_col,
            centroids=semdedup_centroids,
            n_clusters=semdedup_n_clusters,
        )

    def _near_dedup(exact: DataFrame) -> DataFrame:
        near_pairs = D.minhash_near_duplicates(
            exact,
            id_col,
            text_col,
            threshold=near_dup_threshold,
            k=minhash_k,
            bands=minhash_bands,
        )
        if transitive:
            return _sem(D.dedup_keep_one_per_cluster(exact, near_pairs, id_col))
        losers = near_pairs.select(F.col("right_id").alias(id_col)).distinct()
        # No broadcast hint: on a heavily duplicated corpus the loser-id set is
        # corpus-sized — let AQE decide from the runtime size (the same policy
        # assign_near_dup_clusters documents in operators/dedup.py).
        return _sem(exact.join(losers, id_col, "left_anti"))

    if intermediate_dir is not None:
        # The at-scale form of the multi-action problem below: WRITE the
        # deduped corpus once and re-read it — every later action (pair
        # count, label-prop rounds, final join-back) scans the compact
        # parquet instead of re-running the gates or holding a
        # corpus-sized cache.  This is the production pattern SCALE.md
        # documents; the pinned path below remains for callers without a
        # scratch location.  Honored on BOTH dedup paths: the
        # non-transitive plan is single-action, but a caller passing a
        # scratch dir asked for the gates to run once regardless (they
        # would otherwise re-run in the near-dup signature subplan AND
        # the final anti-join probe side of the same action).
        exact.write.mode("overwrite").parquet(intermediate_dir)
        exact = docs.sparkSession.read.parquet(intermediate_dir)
    elif transitive:
        # The clustering path is multi-action (pair count + union-find
        # collect / label-prop rounds, then the final join-back), so the
        # gates+fingerprint plan above would re-execute once per action.
        # Pin the deduped corpus across those eager actions only: they
        # have consumed it by the time dedup_keep_one_per_cluster
        # returns, and the caller's final action recomputes the
        # gates+fingerprint lineage once — at 100 TB that rescan is
        # cheap, a corpus-sized resident cache is not (pass
        # intermediate_dir to avoid both).
        with pinned(exact):
            return _near_dedup(exact)
    return _near_dedup(exact)


def curation_report(
    docs: DataFrame,
    curated: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """One-row funnel report: input/output document and token counts —
    the acceptance accounting every data pipeline publishes."""
    total = docs.select(F.count("*").alias("docs_in"))
    kept = curated.agg(
        F.count("*").alias("docs_kept"),
        F.sum("ws_tokens").alias("tokens_kept"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
    )
    return total.crossJoin(kept)


def prepare_training_shards(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    languages: tuple[str, ...] = ("en",),
    min_quality: float = 0.3,
    near_dup_threshold: float = 0.7,
    chunk_chars: int = 1000,
    overlap_chars: int = 100,
    max_chars_per_shard: int = 100_000,
    intermediate_dir: str | None = None,
    shuffle_seed: str | None = None,
    token_count_fn=None,
) -> DataFrame:
    """The full corpus→training-shards pipeline: curation gates + dedup
    (``curate_corpus``), overlapping context-window chunking
    (``chunk_documents``), then deterministic sequential-fill packing into
    bounded shards (``pack_into_shards``) keyed on (doc_id, chunk_idx)
    order via a composite sort key.

    ``shuffle_seed`` packs in SEEDED PSEUDO-RANDOM document order
    instead (``sampling.shuffle_order`` — the training-order shuffle):
    documents are permuted by the seed, while a document's chunks stay
    CONTIGUOUS in chunk_idx order inside its shuffled position (the
    composite key is the doc's 32-char md5 shuffle key ‖ zero-padded
    chunk_idx), so shard contents decorrelate from ingest/id order
    without tearing long documents apart — and the whole assignment
    stays bit-reproducible from the seed alone (a new epoch is a new
    seed, not a stored order).

    ``token_count_fn`` (optional, Column → Column): the packing budget's
    counting function.  Default ``None`` packs on ``length(chunk)`` —
    the char proxy, fully JVM-native (zero Python in the plan).  A real
    pretraining run packs on TOKENIZER counts: pass an Arrow
    ``pandas_udf("long")`` wrapping the actual tokenizer (batched,
    executor-side — never a row-at-a-time UDF) and
    ``max_chars_per_shard`` becomes a max-TOKENS budget.  The hook
    touches only the packing-weight column; gates, chunking, ordering,
    and the two-phase prefix sum are unchanged either way, so the
    default plan stays byte-identical (pinned in tests).

    Output: one row per chunk with ``shard_id`` — ready to
    ``write.partitionBy("shard_id")``.  Everything upstream of the packing
    prefix-sum is narrow or already-bounded shuffles (SCALE.md); packing
    adds one range partition + one #partitions-row window.
    """
    from jurimetria_etl_spark.operators.sampling import (
        pack_into_shards,
        shuffle_order,
    )
    from jurimetria_etl_spark.operators.text import chunk_documents

    curated = curate_corpus(
        docs, id_col, text_col, languages, min_quality,
        near_dup_threshold=near_dup_threshold,
        intermediate_dir=intermediate_dir,
    )
    if shuffle_seed is not None:
        # doc-level shuffle, chunk-level continuity: md5 hex (32 chars,
        # constant width) ‖ lpad(chunk_idx) is a unique string total
        # order — chunk counts per doc are ≪ 10⁸
        order_key = F.concat(
            shuffle_order(id_col, shuffle_seed),
            F.lpad(F.col("chunk_idx").cast("string"), 8, "0"),
        )
    else:
        # unique, non-null total-order key for the packing prefix sum:
        # (doc_id, chunk_idx) packed into one long (chunk count per doc
        # is bounded by len/step ≪ 2²⁰)
        order_key = F.col(id_col) * F.lit(1 << 20) + F.col("chunk_idx")
    chunks = chunk_documents(
        curated, text_col, chunk_chars=chunk_chars, overlap_chars=overlap_chars
    ).withColumn("__order", order_key)
    weight = (
        token_count_fn(F.col("chunk"))
        if token_count_fn is not None
        else F.length("chunk")
    )
    packed = pack_into_shards(
        chunks.withColumn("__chunk_wt", weight.cast("bigint")),
        tokens_col="__chunk_wt",
        order_col="__order",
        max_tokens_per_shard=max_chars_per_shard,
    )
    return packed.drop("__order", "__chunk_wt")


def curation_funnel(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    languages: tuple[str, ...] = ("en",),
    min_quality: float = 0.3,
    *,
    quality_lang: str = "en",
    classifier: tuple[list[float], float] | None = None,
    classifier_threshold: float = 0.5,
    quality_rules: dict | None = None,
    benchmark: DataFrame | None = None,
    benchmark_store_dir: str | None = None,
    decontam_ngram: int = 5,
    decontam_min_overlap: int = 1,
    decontam_min_ratio: float = 0.0,
    decontam_spans: bool = False,
    span_len: int = 40,
    span_k: int = 8,
) -> DataFrame:
    """ONE-ROW curation audit: how many documents pass each gate
    ``curate_corpus`` would apply, counted INDEPENDENTLY per gate (which
    gate is the bottleneck?) plus the conjunction (what survives all
    gates, pre-dedup).  The operational question a 100-TB pipeline asks
    BEFORE committing to a full curation run — and the drift monitor it
    re-asks on every ingest batch.

    Columns: ``n_docs``, ``n_lang_pass``, ``n_quality_pass``
    [, ``n_classifier_pass``][, ``n_rules_pass``][, ``n_clean`` with a
    benchmark][, ``n_span_clean`` with ``decontam_spans``],
    ``n_eligible``.

    The flags come from ``curation_gate_flags`` — the SAME Column
    expressions ``curate_corpus``'s gate conjoins — and the
    contamination flag is ``flag_contamination``'s own one-pass body
    (operators/decontaminate.py ``_flag_against``), so the audit cannot
    drift from the pipeline.  ``decontam_spans=True`` (requires
    ``benchmark``, exactly as in ``curate_corpus``) adds the exact-span
    gate's flag via ``flag_span_contamination`` — with it the audit
    covers every pre-dedup gate the pipeline applies; without it the
    span gate is outside the audit and ``n_eligible`` counts only the
    shingle-side conjunction.

    Scale: gates are scan-fused flag expressions; with a ``benchmark``
    the contamination flag carries the flags through the shingle
    explode→broadcast-join→per-doc aggregate
    (``flag_contamination``'s one-pass shape) so the WHOLE audit —
    flags, overlap, and the final counts — is ONE corpus scan feeding
    two map-side-combinable aggregates; without one it is one scan and
    one global aggregate.  The span axis, when enabled, adds the same
    second fingerprint scan the pipeline's span gate costs, reduced to
    the DISTINCT contaminated-id set before it meets the funnel — the
    per-document side joins that (contamination-sized) probe as AQE
    sizes it, map-side while it fits, rather than exchanging a corpus-
    sized report frame (r13 task 4).  The benchmark probe set is
    broadcast exactly as in ``flag_contamination`` (an external
    benchmark is small by construction).  No per-document output
    leaves the executors on the shingle path; on the span path only
    the contaminated-id set does (plus, when AQE finds that set too
    large to broadcast, the one re-key the join then needs)."""
    if decontam_spans and benchmark is None:
        raise ValueError(
            "decontam_spans requires the benchmark frame — span "
            "verification resolves benchmark text (same contract as "
            "curate_corpus)"
        )
    flags = curation_gate_flags(
        text_col, languages, min_quality,
        classifier, classifier_threshold, quality_rules,
    )
    profiled = docs.select(
        F.col(id_col),
        F.col(text_col),
        *_gate_profile_columns(text_col, quality_lang, classifier),
    )
    flagged = profiled.select(
        id_col,
        text_col,
        *[flag.alias(name) for name, flag in flags.items()],
    )
    flag_names = list(flags)
    bench_span_fps = None
    if benchmark is not None or benchmark_store_dir is not None:
        from jurimetria_etl_spark.operators.decontaminate import (
            _flag_against,
            benchmark_shingle_set,
            load_benchmark_store,
        )

        if benchmark_store_dir is not None:
            bs = load_benchmark_store(
                docs.sparkSession,
                benchmark_store_dir,
                n=decontam_ngram,
                span_len=span_len if decontam_spans else None,
                span_k=span_k if decontam_spans else None,
            )
            bench_set = bs.shingles
            bench_span_fps = bs.span_fps
        else:
            bench_set = benchmark_shingle_set(
                benchmark, text_col, decontam_ngram
            )
        # flag_contamination's one pass with the gate flags carried
        # through the explode as grouping keys (per-doc constants): one
        # corpus scan computes flags AND overlap together.
        flagged = _flag_against(
            flagged, F.broadcast(bench_set), id_col, text_col,
            decontam_ngram, decontam_min_overlap, decontam_min_ratio,
            carry=tuple(flag_names),
        ).withColumn("clean", ~F.col("contaminated"))
        flag_names = flag_names + ["clean"]
    if decontam_spans:
        from jurimetria_etl_spark.operators.spans import (
            duplicate_spans_against,
        )

        # The audit needs only the CONTAMINATED id set (span_clean = id
        # not in it), not flag_span_contamination's every-document
        # report — the report's docs.select(id) left join re-keyed a
        # full corpus-sized frame after the funnel's aggregate (r13
        # verdict task 4).  The distinct hit-id set is contamination-
        # sized (usually tiny; un-hinted, since it scales with how
        # contaminated the corpus is), so AQE joins it map-side instead
        # of exchanging per-document rows.  Same hit semantics as
        # flag_span_contamination: contaminated ⇔ ≥1 verified shared
        # span ⇔ id appears in hits.
        span_hits = (
            duplicate_spans_against(
                docs,
                benchmark,
                span_len=span_len,
                k=span_k,
                max_fp_df=None,
                id_col=id_col,
                text_col=text_col,
                right_fps=bench_span_fps,
            )
            .select(F.col("left_id").alias(id_col))
            .distinct()
            .withColumn("__span_hit", F.lit(True))
        )
        flagged = (
            flagged.join(span_hits, id_col, "left")
            .withColumn("span_clean", F.col("__span_hit").isNull())
            .drop("__span_hit")
        )
        flag_names = flag_names + ["span_clean"]
    eligible = F.lit(True)
    for name in flag_names:
        eligible = eligible & F.col(name)
    return flagged.agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.sum(F.col(name).cast("bigint")).alias(f"n_{name}")
            for name in flag_names
        ],
        F.sum(eligible.cast("bigint")).alias("n_eligible"),
    )
