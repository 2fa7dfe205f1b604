"""Similarity search over embedding columns (SURVEY §2.12 E3).

- ``cosine_topk`` / ``cosine_topk_batch`` — exact brute force: broadcast
  the probe vector(s), compute the dot product as a JVM-side sequential
  fold (``aggregate`` over ``zip_with``), keep the top k.  O(N·d) with
  zero Python; the correctness baseline and fine up to ~10⁸ rows per
  probe on a cluster.  ``cosine_topk_pandas`` and
  ``cosine_topk_quantized`` are its wide-vector and int8 forms.
- ``lsh_bucket_topk`` / ``knn_join`` — scale path: random-hyperplane LSH
  signatures bucket the corpus; probes only score their own bucket(s),
  turning the scan into a bucket-pruned join.  Hyperplanes are derived
  deterministically from a seed so signatures are reproducible across
  runs/executors.
- ``cosine_similarity_join`` — all-pairs similarity join via bucketed
  (LSH-banded) join (for batch similarity-join workloads); verified by the
  exact ``cosine_pairs_exact`` baseline.
- ``seed_centroids`` / ``train_ivf_centroids`` — IVF coarse-quantizer
  geometry.  The index they feed, with cell pruning as partition
  pruning, is the ANN store (``operators/ann_store.py``).
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from jurimetria_etl_spark.memo import session_memo
from jurimetria_etl_spark.operators.dedup import widen_partitions


def _dot(a: Column, b: Column) -> Column:
    """Sequential fold dot-product — deterministic order, whole-stage
    codegen, no UDF."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    """Euclidean norm CLAMPED at 1e-150.  Every use in this module is a
    cosine denominator, and one all-zero embedding (an empty document)
    must score 0.0 against everything — not throw DIVIDE_BY_ZERO under
    ANSI mode (Spark 4 default) or emit NULL under non-ANSI — matching
    the numpy kernels' norm clamps.  1e-150, not 1e-300: denominators
    are PRODUCTS of two clamped norms, and 1e-300² underflows to 0.0
    (two zero-norm sides would divide by zero again); 1e-150² = 1e-300
    stays a positive double.  Value-invisible for any real vector."""
    return F.greatest(F.sqrt(_dot(a, a)), F.lit(1e-150))


def cosine_sim(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    embeddings: DataFrame,
    probe_id: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """Top-k cosine neighbors of one corpus vector (excluded from results).

    The probe row is broadcast (one vector), so the corpus side is a single
    narrow scan; top-k is a per-partition heap + driver merge.
    """
    # The probe norm is staged in the 1-row broadcast frame — without it
    # the |probe| fold would re-run for every corpus row (the norm is a
    # per-VECTOR quantity; compute it per vector, never per comparison).
    probe = F.broadcast(
        embeddings.where(F.col(id_col) == probe_id).select(
            F.col(vec_col).alias("__p"), _norm(F.col(vec_col)).alias("__pn")
        )
    )
    sim = _dot(F.col(vec_col), F.col("__p")) / (
        _norm(F.col(vec_col)) * F.col("__pn")
    )
    if round_to is not None:
        sim = F.round(sim, round_to)
    return (
        embeddings.where(F.col(id_col) != probe_id)
        .crossJoin(probe)
        .select(F.col(id_col), sim.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def cosine_topk_pandas(
    embeddings: DataFrame,
    probe_id: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """Arrow-vectorized alternative to ``cosine_topk`` for WIDE vectors.

    The JVM fold (``cosine_topk``) is interpreted per element — at dim ≥
    ~1k the per-element lambda overhead exceeds the Arrow transfer cost,
    and a batched numpy matmul wins.  This is the sanctioned slow-path
    escape hatch: ONE scalar ``pandas_udf`` (Arrow batches, ``m @ p`` per
    batch), never a row-at-a-time Python UDF.  Results match the JVM path
    up to float summation order (numpy sums pairwise, the fold sums
    sequentially) — equality after rounding is pinned in tests.

    The probe vector is collected to the driver (one row) and closed over
    by the UDF; the corpus side stays distributed.
    """
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    probe_row = (
        embeddings.where(F.col(id_col) == probe_id).select(vec_col).first()
    )
    if probe_row is None:
        raise ValueError(f"probe id {probe_id} not found in {id_col}")
    import numpy as np

    pv = np.asarray(list(probe_row[vec_col]), dtype="float64")
    # clamped like _norm: a zero-norm probe/row scores 0.0, keeping the
    # documented output equality with the JVM path on degenerate rows
    pv = pv / max(np.linalg.norm(pv), 1e-300)

    def cos_sim_batch(vecs):
        m = np.stack(vecs.to_numpy()).astype("float64")
        norms = np.maximum(np.linalg.norm(m, axis=1), 1e-300)
        return pd.Series((m @ pv) / norms)

    # real (non-string) annotations: `from __future__ import annotations`
    # would stringify inline hints and pandas_udf could not resolve them
    cos_sim_batch.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    sim = pandas_udf(cos_sim_batch, "double")(F.col(vec_col))
    if round_to is not None:
        sim = F.round(sim, round_to)
    return (
        widen_partitions(embeddings)
        .where(F.col(id_col) != probe_id)
        .select(F.col(id_col), sim.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def _probe_side(
    probes: DataFrame, probe_id_col: str, probe_vec_col: str, *extra: Column
) -> DataFrame:
    """The broadcast probe frame of a batch top-k: ``(__qid, __p, __pn,
    *extra)``, the probe norm staged per probe (never per comparison)."""
    return F.broadcast(
        probes.select(
            F.col(probe_id_col).alias("__qid"),
            F.col(probe_vec_col).alias("__p"),
            _norm(F.col(probe_vec_col)).alias("__pn"),
            *extra,
        )
    )


def _two_level_topk(
    pairs: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    probe_id_col: str,
    round_to: int | None,
) -> DataFrame:
    """Score (corpus row, probe) pairs — ``pairs`` carries ``id_col``,
    ``vec_col`` and ``_probe_side``'s columns — and keep the top k per
    probe: ``(probe_id_col, id_col, cos_sim, rank)``, score rounded and
    id tie-broken.

    A window partitioned only by query would sort the ENTIRE scored
    corpus in |probes| single tasks (the global-window trap,
    sampling.py:14).  Level 1 keeps k per (query, scan partition) — the
    exchange spreads over |probes|·|partitions| buckets and ships a
    narrow 4-column row; level 2 ranks the ≤ |partitions|·k survivors
    per query.  Exact: every global top-k row is its scan partition's
    top-≤k row."""
    sim = _dot(F.col(vec_col), F.col("__p")) / (
        _norm(F.col(vec_col)) * F.col("__pn")
    )
    if round_to is not None:
        sim = F.round(sim, round_to)
    lw = Window.partitionBy("__qid", "__pid").orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    w = Window.partitionBy("__qid").orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    return (
        pairs.select(
            F.col("__qid"),
            F.col(id_col),
            sim.alias("cos_sim"),
            F.spark_partition_id().alias("__pid"),
        )
        .withColumn("__lrk", F.row_number().over(lw))
        .where(F.col("__lrk") <= k)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(probe_id_col), id_col, "cos_sim", "rank"
        )
    )


def cosine_topk_batch(
    embeddings: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "query_id",
    probe_vec_col: str = "probe",
    round_to: int | None = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors for a BATCH of probe vectors:
    (query_id, vec_id, cos_sim, rank), rank 1..k per probe, score
    rounded + id tie-broken (the family's determinization).

    The probe frame is broadcast with pre-staged norms, so the corpus
    makes ONE narrow pass scoring all probes (a broadcast nested-loop
    by construction — candidate volume is |probes| x |corpus|, which is
    the definition of exact batch scoring); ranking is the two-level
    top-k (``_two_level_topk``).  This is the exact BASELINE: it is
    linear in the corpus per probe and correct for any k.  For large
    probe batches against 100 TB use ``knn_join`` or the ANN store's
    ``ann_store.ann_ivf_topk_store_batch`` — same output contract,
    sublinear probes, recall < 1."""
    pairs = widen_partitions(embeddings).crossJoin(
        _probe_side(probes, probe_id_col, probe_vec_col)
    )
    return _two_level_topk(pairs, k, id_col, vec_col, probe_id_col, round_to)


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


# Building the n_tables × n_planes × dim literal dominates driver-side
# query-build time otherwise (~1 s per call for 8×4×64), and every query
# that computes signatures needs the identical cube.
@session_memo
def _plane_cube_lit(dim: int, n_planes: int, n_tables: int, seed: int) -> Column:
    """One array<array<array<double>>> literal holding all L plane matrices.

    Each plane rides in as a 1-D numpy literal (one py4j conversion per
    plane — Spark rejects ≥2-D ndarray literals — ~3× faster than the
    per-element conversion a nested python-list literal costs).
    """
    import numpy as np

    return F.array(
        *[
            F.array(
                *[
                    F.lit(np.asarray(plane))
                    for plane in _hyperplanes(dim, n_planes, seed + 1000 * t)
                ]
            )
            for t in range(n_tables)
        ]
    )


def _bucket_from_matrix(vec: Column, planes_mat: Column) -> Column:
    """Sign-bit bucket id from an array<array<double>> of hyperplanes: bit i
    set iff vec·planes[i] ≥ 0.  One transform + one aggregate lambda for
    the WHOLE plane matrix — driver-side expression construction is O(1)
    in n_planes instead of O(n_planes·dim) py4j calls (which measurably
    dominated wall-clock for 64-dim × 32-plane signatures)."""
    bits = F.transform(
        planes_mat,
        lambda p, i: F.when(
            _dot(vec, p) >= 0,
            F.call_function("shiftleft", F.lit(1).cast("long"), i),
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda a, x: a + x)


def add_lsh_signature(
    df: DataFrame,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    sig_col: str = "lsh_buckets",
) -> DataFrame:
    """Random-hyperplane LSH with OR-amplification: ``n_tables`` independent
    hash tables of ``n_planes`` sign bits each; a pair is a candidate if it
    collides in ANY table (recall ≈ 1-(1-p^b)^L for match prob p per plane).

    The signature is an array<struct<table, bucket>> computed with pure
    Catalyst expressions (literal plane arrays folded against the vector) —
    at 100 TB compute it once at ingest and store/bucket by it.

    The input is widened to cluster parallelism first: signature folds are
    CPU-dense relative to the scan, and a single-file corpus would
    otherwise evaluate them all in ONE task (same rationale as the minhash
    stage in operators/dedup.py).  All L plane matrices ride ONE 3-level
    array literal, so the whole signature is a single transform lambda —
    constant driver-side build cost regardless of n_tables × n_planes.
    """
    df = widen_partitions(df)
    cube = _plane_cube_lit(dim, n_planes, n_tables, seed)
    sig = F.transform(
        cube,
        lambda planes_t, t: F.struct(
            t.cast("int").alias("table"),
            _bucket_from_matrix(F.col(vec_col), planes_t).alias("bucket"),
        ),
    )
    return df.withColumn(sig_col, sig)


def suggest_lsh_planes(
    n_rows: int, target_bucket_size: int = 200, max_planes: int = 24
) -> int:
    """How many hyperplanes per LSH table for a corpus of ``n_rows``.

    A FIXED plane count is a silent quadratic at scale: buckets-per-table
    is 2^planes, so expected bucket occupancy grows linearly with N and
    candidate pairs grow as N²/2^planes — measured on the scale bench as
    a 23× wall-clock for 10× data at n_planes=4 (SCALE.md §Scaling
    exponents).  Scaling planes with log2(N / target_bucket_size) holds
    occupancy — and therefore candidates-per-row — constant, restoring
    ~linear scaling at the cost of a recall dial: each extra plane halves
    the per-table collision probability for a given similarity, which is
    what ``n_tables`` (OR over tables) buys back.  Raise
    ``target_bucket_size`` or ``n_tables`` if recall matters more than
    candidate volume; the floor of 1 plane keeps tiny corpora exact-ish.
    """

    if n_rows <= target_bucket_size:
        return 1
    return min(max_planes, max(1, math.ceil(math.log2(n_rows / target_bucket_size))))


def lsh_banded_signatures(
    df: DataFrame,
    dim: int,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Banded LSH signature frame ``(id, t, bk)`` — one row per (vector,
    hash table).  This is the frame every LSH consumer joins on; at 100 TB
    it is computed ONCE at ingest and persisted/bucketed by ``(t, bk)``,
    then shared across every similarity join and dedup pass.  Locally the
    plan-level caches (plans/extensions.py) persist it per session for the
    same reason: the signature fold is the expensive part, the candidate
    join over (id, t, bk) rows is near-free.
    """
    sig = add_lsh_signature(df, dim, n_planes, n_tables, seed, vec_col)
    return sig.select(
        F.col(id_col), F.explode("lsh_buckets").alias("b")
    ).select(
        id_col, F.col("b.table").alias("t"), F.col("b.bucket").alias("bk")
    )


def lsh_bucket_topk(
    embeddings: DataFrame,
    probe_id: int,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: exactly re-score only the vectors colliding with
    the probe in at least one hash table.

    Plan: signatures (narrow) → explode (table,bucket) → join against the
    probe's L broadcast buckets → distinct candidate ids → exact cosine →
    TakeOrderedAndProject.  Candidate set size (and thus cost) is tuned by
    n_planes (bucket granularity) × n_tables (recall amplification).

    Only ``(id, table, bucket)`` rows flow through the candidate join — the
    exploded frame never carries the vectors (L copies each otherwise); the
    survivors are semi-joined back to the corpus for the exact re-score,
    with both norms staged per vector.
    """
    with_sig = add_lsh_signature(
        embeddings, dim, n_planes, n_tables, seed, vec_col
    )
    exploded = with_sig.select(
        F.col(id_col), F.explode("lsh_buckets").alias("b")
    ).select(id_col, F.col("b.table").alias("t"), F.col("b.bucket").alias("bk"))
    probe_buckets = F.broadcast(
        exploded.where(F.col(id_col) == probe_id).select(
            F.col("t").alias("__pt"), F.col("bk").alias("__pbk")
        )
    )
    candidate_ids = (
        exploded.where(F.col(id_col) != probe_id)
        .join(
            probe_buckets,
            (F.col("t") == F.col("__pt")) & (F.col("bk") == F.col("__pbk")),
        )
        .select(id_col)
        .distinct()
    )
    probe = F.broadcast(
        embeddings.where(F.col(id_col) == probe_id).select(
            F.col(vec_col).alias("__p"), _norm(F.col(vec_col)).alias("__pn")
        )
    )
    sim = _dot(F.col(vec_col), F.col("__p")) / (
        _norm(F.col(vec_col)) * F.col("__pn")
    )
    return (
        embeddings.join(candidate_ids, id_col, "left_semi")
        .crossJoin(probe)
        .select(F.col(id_col), F.round(sim, 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int | None = None,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    left_banded: DataFrame | None = None,
    right_banded: DataFrame | None = None,
    max_candidates: int | str | None = "auto",
) -> DataFrame:
    """Approximate k-NN JOIN: the top-``k`` cosine neighbors in ``right``
    for EVERY row of ``left`` — the batched form of ``lsh_bucket_topk``
    and the primitive behind SemDeDup-style semantic dedup, kNN-graph
    construction, and cross-dataset contamination checks.

    Output: (left_id, right_id, cos_sim, rank), rank 1..k per left id.

    Plan: banded LSH signatures both sides (narrow; pass precomputed
    frames via ``left_banded``/``right_banded`` to amortize at ingest) →
    equi-join on (table, bucket) → collision-count aggregate per id pair
    → top-``max_candidates`` pairs per left id by collision count (the
    multi-probe-LSH relevance proxy: a pair colliding in more of the
    ``n_tables`` independent tables has a higher similarity estimate, so
    truncation keeps the likely neighbors and sheds bucket noise BEFORE
    any vector leaves its scan) → exact re-score with per-vector norms
    staged once → per-left-id top-k via a ``row_number`` window over the
    CANDIDATE frame only (≈ occupancy rows per left id, never the
    corpus).  Self-join (``left is right``) excludes the identity pair
    but keeps both (a,b) and (b,a) — each row wants its own neighbor
    list.

    ``max_candidates`` bounds the exact re-score at ``max_candidates ×
    |left|`` rows regardless of bucket occupancy — without it the
    re-score volume rides the plane-sizing sawtooth (up to ~n_tables ×
    target_bucket_size pairs/row, measured as the 0.69 wall-clock
    exponent in SCALE_RESULTS.json r7).  ``"auto"`` resolves to
    ``max(20 * k, 100)``; ``None`` disables truncation (exact LSH-recall
    semantics, the pre-r8 behavior).  The truncation window partitions by
    ``left_id`` — the 16-byte pair rows shuffle once more, but the vector
    joins downstream see a bounded frame.  Recall floor re-pinned under
    the auto cap in tests/test_knn_join.py.

    ``n_planes=None`` sizes the banding from the right-side row count via
    ``suggest_lsh_planes`` (costs one count job): fixed plane counts go
    quadratic at scale (SCALE.md §Scaling exponents).  Recall is tuned by
    ``n_tables`` — a neighbor is found iff it collides in ≥1 table; a
    left row with fewer than k collisions yields fewer than k rows
    (approximate contract, recall floor pinned in tests).

    At 100 TB: both shuffles are keyed — (t, bk) for candidates, left_id
    for the window — and both move id/scalar rows only.  The vectors ride
    exactly two id-keyed joins.  Cited vs reference: no counterpart (the
    reference has no vector ops at all); extends E3 of SURVEY §2.12.
    """
    if n_planes is None:
        if left_banded is not None or right_banded is not None:
            # Precomputed signature frames bake in the plane count used at
            # ingest; a freshly-suggested count would band the OTHER side
            # in a different hash space — buckets would compare across
            # spaces and recall would silently collapse.  The caller must
            # state the ingest-time value.
            raise ValueError(
                "knn_join: pass the n_planes the banded frames were built "
                "with — it cannot be inferred from a signature frame"
            )
        n_planes = suggest_lsh_planes(right.count())
    self_join = left is right

    def banded(df: DataFrame, pre: DataFrame | None, side: str) -> DataFrame:
        src = (
            pre
            if pre is not None
            else lsh_banded_signatures(
                df, dim, n_planes, n_tables, seed, id_col, vec_col
            )
        )
        return src.select(
            F.col(id_col).alias(f"{side}_id"),
            F.col("t").alias(f"__{side}_t"),
            F.col("bk").alias(f"__{side}_bk"),
        )

    lsig = banded(left, left_banded, "left")
    rsig = banded(
        right if not self_join else left,
        right_banded if not self_join else left_banded,
        "right",
    )
    cond = (F.col("__left_t") == F.col("__right_t")) & (
        F.col("__left_bk") == F.col("__right_bk")
    )
    if self_join:
        cond = cond & (F.col("left_id") != F.col("right_id"))
    if max_candidates == "auto":
        max_candidates = max(20 * k, 100)
    pairs = (
        lsig.join(rsig, cond)
        .groupBy("left_id", "right_id")
        .agg(F.count(F.lit(1)).alias("__n_coll"))
    )
    if max_candidates is not None:
        # Collision count over independent tables is a monotone estimator
        # of angular similarity; keeping only the strongest max_candidates
        # pairs per left row bounds the vector-joined re-score below at
        # max_candidates × |left| rows, whatever the bucket occupancy.
        wc = Window.partitionBy("left_id").orderBy(
            F.col("__n_coll").desc(), F.col("right_id")
        )
        pairs = pairs.withColumn("__cr", F.row_number().over(wc)).where(
            F.col("__cr") <= int(max_candidates)
        )
    pairs = pairs.select("left_id", "right_id")
    lvec = left.select(
        F.col(id_col).alias("left_id"),
        F.col(vec_col).alias("__lv"),
        _norm(F.col(vec_col)).alias("__ln"),
    )
    rvec = right.select(
        F.col(id_col).alias("right_id"),
        F.col(vec_col).alias("__rv"),
        _norm(F.col(vec_col)).alias("__rn"),
    )
    sim = _dot(F.col("__lv"), F.col("__rv")) / (F.col("__ln") * F.col("__rn"))
    scored = (
        pairs.join(lvec, "left_id")
        .join(rvec, "right_id")
        .select("left_id", "right_id", F.round(sim, 6).alias("cos_sim"))
    )
    w = Window.partitionBy("left_id").orderBy(
        F.col("cos_sim").desc(), F.col("right_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def mine_hard_negatives(
    embeddings: DataFrame,
    label_col: str,
    k: int = 50,
    m: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    **knn_kwargs,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every anchor,
    the ``m`` MOST-SIMILAR vectors carrying a DIFFERENT ``label_col``
    value — the pairs a contrastive/embedding objective learns most
    from (near the decision boundary, not random negatives).

    Output: (anchor_id, anchor_label, negative_id, negative_label,
    cos_sim, neg_rank), neg_rank 1..≤m per anchor, ties broken by
    negative_id.  Approximate with ``knn_join``'s contract: only
    negatives among the anchor's ``k`` nearest retrieved neighbors are
    candidates, so ``k`` is the search depth — raise it when a label
    dominates local neighborhoods (k same-label neighbors would crowd
    out every negative).  An anchor whose retrieved neighborhood is
    entirely same-label yields fewer than m rows (possibly none) —
    ``hard_negative_yield`` surfaces those zero-yield anchors per
    label, so a dominant label under-mining is a visible diagnostic,
    not a silent gap.

    Plan: one ``knn_join`` (banded LSH + capped exact re-score — the
    scale path), then the label frame — (id, label), corpus-sized but
    narrow — joins in twice by id with NO broadcast hint (AQE sizes it;
    the survivor-set rule), a different-label filter, and one
    per-anchor window over ≤k rows.  Nothing beyond the knn_join
    moves vectors.

    Cited vs reference: no counterpart (566-LoC pandas, no vector ops);
    the SimCSE/DPR hard-negative axis of the training-data brief.
    """
    neighbors = knn_join(
        embeddings, embeddings, k=k, dim=dim,
        id_col=id_col, vec_col=vec_col, **knn_kwargs,
    )
    labels = embeddings.select(
        F.col(id_col).alias("__lid"), F.col(label_col).alias("__lbl")
    )
    paired = (
        neighbors.join(
            labels.select(
                F.col("__lid").alias("left_id"),
                F.col("__lbl").alias("anchor_label"),
            ),
            "left_id",
        )
        .join(
            labels.select(
                F.col("__lid").alias("right_id"),
                F.col("__lbl").alias("negative_label"),
            ),
            "right_id",
        )
        # eqNullSafe-negated: a NULL label is "unknown", never a
        # negative of anything (NULL != x would silently DROP the pair
        # either way here, but being explicit keeps the contract
        # readable and NULL-label anchors produce no output rows)
        .where(
            ~F.col("anchor_label").eqNullSafe(F.col("negative_label"))
            & F.col("anchor_label").isNotNull()
            & F.col("negative_label").isNotNull()
        )
    )
    w = Window.partitionBy("left_id").orderBy(
        F.col("cos_sim").desc(), F.col("right_id")
    )
    return (
        paired.withColumn("neg_rank", F.row_number().over(w))
        .where(F.col("neg_rank") <= m)
        .select(
            F.col("left_id").alias("anchor_id"),
            "anchor_label",
            F.col("right_id").alias("negative_id"),
            "negative_label",
            "cos_sim",
            "neg_rank",
        )
    )


def hard_negative_yield(
    embeddings: DataFrame,
    mined: DataFrame,
    label_col: str,
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-anchor yield diagnostic for ``mine_hard_negatives`` (r9
    verdict task 5): (anchor_id, anchor_label, n_negatives) for EVERY
    labeled anchor — including ``n_negatives = 0``.  An anchor whose
    retrieved k-neighborhood is entirely same-label yields no mined
    rows and would otherwise vanish silently; a label that dominates
    its local neighborhoods (one giant near-duplicate cluster, a
    corpus section with one source) shows up here as a block of
    zero-yield anchors — the signal to raise ``k`` or pre-thin the
    dominant label, BEFORE training discovers the missing negatives.

    Plan: one per-anchor count over the (≤ anchors × m) mined frame,
    left-joined back to the labeled id list — narrow columns, AQE
    sizes the join; nothing moves vectors.  NULL-label rows are
    excluded to mirror ``mine_hard_negatives``'s contract (they can
    never be anchors)."""
    anchors = embeddings.where(F.col(label_col).isNotNull()).select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("anchor_label"),
    )
    counts = mined.groupBy("anchor_id").agg(
        F.count(F.lit(1)).alias("__n")
    )
    return anchors.join(counts, "anchor_id", "left").select(
        "anchor_id",
        "anchor_label",
        F.coalesce(F.col("__n"), F.lit(0)).cast("int").alias("n_negatives"),
    )


def mine_hard_negatives_with_yield(
    embeddings: DataFrame,
    label_col: str,
    k: int = 50,
    m: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    **knn_kwargs,
) -> tuple[DataFrame, DataFrame]:
    """The mining composite with its audit attached (r11 verdict task
    7): returns ``(mined, yield_by_label)`` so a contrastive-pairs
    pipeline cannot silently drop zero-yield anchors — the caller gets
    the per-label funnel in the same call instead of having to know
    ``hard_negative_yield`` exists.

    ``yield_by_label``: one row per label — (anchor_label, n_anchors,
    n_zero_yield, avg_negatives) — a block of zero-yield anchors under
    one label is the dominant-label signal (raise ``k`` or pre-thin).

    The mined frame is checkpointed here (``localCheckpoint``): it is
    consumed by both returned frames (and is ≤ anchors × m NARROW rows
    — ids, label strings, one double — never corpus-sized), so the
    knn_join lineage runs once, not once per output, and the checkpoint
    is freed with the returned frames.  At 100 TB, write ``mined`` to a
    scratch dir instead and derive the audit from the re-read
    (curate_corpus's ``intermediate_dir`` pattern)."""
    mined = mine_hard_negatives(
        embeddings, label_col, k=k, m=m,
        id_col=id_col, vec_col=vec_col, dim=dim, **knn_kwargs,
    ).localCheckpoint()
    per_anchor = hard_negative_yield(
        embeddings, mined, label_col, id_col=id_col
    )
    summary = per_anchor.groupBy("anchor_label").agg(
        F.count(F.lit(1)).alias("n_anchors"),
        F.sum((F.col("n_negatives") == 0).cast("bigint")).alias(
            "n_zero_yield"
        ),
        F.round(F.avg("n_negatives"), 6).alias("avg_negatives"),
    )
    return mined, summary


def cosine_pairs_exact(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
    max_rows: int | None = 20_000,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold via self-join on ``id <  id`` —
    O(N²) by construction.  This is the VERIFICATION BASELINE for
    ``cosine_similarity_join`` (the LSH-pruned scale path), not a
    production operator: it refuses to launch above ``max_rows`` input rows
    (a cheap metadata count for parquet sources) so the cartesian cannot
    hit at-scale data by accident.  The 20k default bounds the pair count
    at ~2×10⁸ evaluations — minutes, not days.  Pass ``max_rows=None`` to
    override knowingly.
    """
    if max_rows is not None:
        n = embeddings.count()
        if n > max_rows:
            raise ValueError(
                f"cosine_pairs_exact: input has {n} rows > max_rows="
                f"{max_rows} — that is ~{n * (n - 1) // 2:.2e} pair "
                "evaluations; this operator is O(N²) — use "
                "cosine_similarity_join (LSH-pruned) at scale, or pass "
                "max_rows=None to force."
            )
    # Norms are per-vector: stage them on each side once (N folds) instead
    # of recomputing inside the pair predicate (N²/2 × 2 folds).
    a = embeddings.select(
        F.col(id_col).alias("left_id"),
        F.col(vec_col).alias("__a"),
        _norm(F.col(vec_col)).alias("__na"),
    ).repartition(embeddings.sparkSession.sparkContext.defaultParallelism)
    b = embeddings.select(
        F.col(id_col).alias("right_id"),
        F.col(vec_col).alias("__b"),
        _norm(F.col(vec_col)).alias("__nb"),
    ).repartition(embeddings.sparkSession.sparkContext.defaultParallelism)
    sim = _dot(F.col("__a"), F.col("__b")) / (F.col("__na") * F.col("__nb"))
    if round_to is not None:
        sim = F.round(sim, round_to)
    return (
        a.join(b, F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id", sim.alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


def cosine_similarity_join(
    left: DataFrame,
    right: DataFrame,
    threshold: float,
    dim: int,
    n_planes: int | None = None,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    left_banded: DataFrame | None = None,
    right_banded: DataFrame | None = None,
) -> DataFrame:
    """All-pairs similarity join above a cosine threshold: candidates =
    pairs colliding in ≥1 LSH table (shuffle keyed on (table, bucket)),
    then exact re-score.  At scale this is the difference between O(N²)
    and O(N²/2^planes · L) — which is why ``n_planes`` must GROW with the
    corpus: at a fixed plane count the N²/2^planes term is still
    quadratic (measured: 17× wall-clock for 10× data at n_planes=4,
    SCALE.md §Scaling exponents).  ``n_planes=None`` (the default)
    auto-sizes from the right-side row count via ``suggest_lsh_planes``
    (one count job) so bucket occupancy — and candidates-per-row — stays
    constant as the corpus grows; pass an explicit int to pin a hash
    space (e.g. to match signatures persisted at ingest).

    ``left_banded``/``right_banded`` accept a precomputed
    ``lsh_banded_signatures`` frame (persisted at ingest / cached per
    session) so repeated joins skip the signature fold — the dominant
    cost of this operator.  When omitted, signatures are derived inline
    with the same (dim, n_planes, n_tables, seed) parameters.

    Pair dedup depends on whether this is a self-join: when ``left is
    right`` each unordered pair is kept once via ``left_id < right_id``;
    for distinct inputs that filter would silently drop every pair with
    ``left_id >= right_id``, so instead all (left, right) combinations are
    kept and deduped on the id pair.

    Shuffle discipline: the candidate join moves only ``(id, table,
    bucket)`` rows — never the vectors, which would otherwise ride the
    shuffle L times each.  Surviving id pairs join back to the inputs for
    the exact re-score (AQE broadcasts those lookups when a side is small),
    with norms staged once per vector.  For a self-join the two banded
    subplans are identical, so Spark's ReuseExchange computes the
    signatures once."""
    self_join = left is right
    if n_planes is None:
        if left_banded is not None or right_banded is not None:
            # Same contract as knn_join: precomputed signature frames bake
            # in the ingest-time plane count; auto-sizing here would band
            # the other side in a different hash space.
            raise ValueError(
                "cosine_similarity_join: pass the n_planes the banded "
                "frames were built with — it cannot be inferred from a "
                "signature frame"
            )
        n_planes = suggest_lsh_planes(right.count())

    def banded(
        df: DataFrame, pre: DataFrame | None, side: str
    ) -> DataFrame:
        src = (
            pre
            if pre is not None
            else lsh_banded_signatures(
                df, dim, n_planes, n_tables, seed, id_col, vec_col
            )
        )
        # Per-side column names: both sides of a self-join may now be the
        # SAME (cached) signature frame, where `lsig["t"] == rsig["t"]`
        # would be an ambiguous self-join reference — renaming removes the
        # shared attribute ids outright.
        return src.select(
            F.col(id_col).alias(f"{side}_id"),
            F.col("t").alias(f"__{side}_t"),
            F.col("bk").alias(f"__{side}_bk"),
        )

    lsig = banded(left, left_banded, "left")
    rsig = banded(
        right if not self_join else left,
        right_banded if not self_join else left_banded,
        "right",
    )
    cond = (F.col("__left_t") == F.col("__right_t")) & (
        F.col("__left_bk") == F.col("__right_bk")
    )
    if self_join:
        cond = cond & (F.col("left_id") < F.col("right_id"))
    pairs = (
        lsig.join(rsig, cond)
        .select("left_id", "right_id")
        .dropDuplicates(["left_id", "right_id"])
    )
    lvec = left.select(
        F.col(id_col).alias("left_id"),
        F.col(vec_col).alias("__lv"),
        _norm(F.col(vec_col)).alias("__ln"),
    )
    rvec = right.select(
        F.col(id_col).alias("right_id"),
        F.col(vec_col).alias("__rv"),
        _norm(F.col(vec_col)).alias("__rn"),
    )
    sim = _dot(F.col("__lv"), F.col("__rv")) / (F.col("__ln") * F.col("__rn"))
    return (
        pairs.join(lvec, "left_id")
        .join(rvec, "right_id")
        .select("left_id", "right_id", F.round(sim, 6).alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


def dedup_embeddings_keep_one(
    embeddings: DataFrame,
    threshold: float,
    dim: int,
    n_planes: int | None = None,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup removal: LSH-pruned similarity self-join
    (``cosine_similarity_join``) finds pairs above ``threshold``, the pair
    graph is clustered transitively (connected components), and exactly
    one row (the minimum id) survives per cluster.

    The embedding-space counterpart of the text pipeline's
    MinHash → ``dedup_keep_one_per_cluster`` path, with the same scale
    discipline: candidates shuffle ids only, clustering touches only
    paired ids, and the removal is an id join against the corpus.

    ``n_planes=None`` (default) auto-sizes via ``suggest_lsh_planes`` —
    the fixed-plane configuration is quadratic at scale (SCALE.md);
    pass an explicit int to pin the hash space.
    """
    from jurimetria_etl_spark.operators.dedup import (
        dedup_keep_one_per_cluster,
    )

    pairs = cosine_similarity_join(
        embeddings,
        embeddings,
        threshold,
        dim,
        n_planes,
        n_tables,
        seed,
        id_col,
        vec_col,
    )
    return dedup_keep_one_per_cluster(embeddings, pairs, id_col)


# Building the n_cells × dim literal matrix costs one py4j round-trip PER
# CENTROID, which at production cell counts (n_cells ∝ corpus, e.g. 160
# at the 20k-row scale fixture) dominates DRIVER-SIDE query-build time —
# measured 2.3-2.9 s per probe at 160 cells vs a 0.7 s executed scan
# (r11).  The key is the FULL value tuple, not a hash of it — a hash
# collision would silently score against the wrong geometry.
@session_memo(
    key=lambda centroids: tuple(
        (int(cid), tuple(map(float, v))) for cid, v in centroids
    ),
    cap=8,  # bound driver memory
)
def _centroid_literals(
    centroids: list[tuple[int, list[float]]],
) -> tuple[Column, Column]:
    import numpy as np

    # 1-D numpy literals: one py4j conversion per centroid instead
    # of one per element (Spark rejects ≥2-D ndarray literals).
    mat = F.array(
        *[F.lit(np.asarray(vec, dtype="float64")) for _, vec in centroids]
    )
    cids = F.lit([int(cid) for cid, _ in centroids])
    return mat, cids


def _nearest_cells(
    vec_col: Column,
    centroids: list[tuple[int, list[float]]],
    n: int,
) -> Column:
    """Array of the ``n`` centroid ids nearest (by cosine) to ``vec_col`` —
    a pure Catalyst expression: score every centroid against the vector,
    sort the (sim, id) structs, slice.  The centroid matrix is ONE
    array<array<double>> literal scored by a single transform lambda,
    memoized per session (``_centroid_literals``) so repeated probes
    against the same geometry pay the py4j literal build once."""
    mat, cids = _centroid_literals(centroids)
    scored = F.transform(
        mat,
        lambda c, i: F.struct(
            # clamped: a zero-norm vector must score 0.0 (not NULL) so
            # this fold and _assign_arrow's numpy matmul pick the SAME
            # cell — the ANN store/probe mode-equivalence contract
            F.round(cosine_sim(vec_col, c), 9).alias("s"),
            F.element_at(cids, i + 1).alias("cid"),
        ),
    )
    ranked = F.reverse(F.array_sort(scored))
    return F.slice(ranked, 1, n).cast("array<struct<s:double,cid:int>>")


def seed_centroids(
    embeddings: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """The deterministic IVF seed geometry: the ``n_cells`` lowest-id
    vectors as centroids ``0..n_cells-1`` (a fixed sample in lieu of
    k-means; ``train_ivf_centroids`` refines it).  One ``limit``
    collect; the frame is used as given — widen it first only if it
    is scored afterwards (``widen_partitions`` keys off the SOURCE
    file count, so a second widen cannot see the first)."""
    seeds = (
        embeddings.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(n_cells)
        .collect()
    )
    return [(i, list(r[vec_col])) for i, r in enumerate(seeds)]


def train_ivf_centroids(
    embeddings: DataFrame,
    n_cells: int = 16,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Lloyd's k-means for IVF centroids, DataFrame-native: start from the
    deterministic lowest-id seeds (``seed_centroids``), then iterate
    (assign → per-cell mean).

    Per iteration: assignment is the same narrow literal-matrix scoring the
    query path uses (no shuffle), and the recentering shuffles
    (cell, position, component) triples — 3 small columns, never whole
    vectors — then collects the n_cells × dim means to the driver (tiny).
    Balanced against ``n_iters`` collects; at 100 TB train on a SAMPLE
    (k-means on a 1% sample converges to near-identical cells) and assign
    the full corpus once with the result.

    Empty cells keep their previous centroid (the standard Lloyd
    fallback).  Float means depend on partial-sum order, so two runs can
    differ in the last ulp — treat trained centroids as an artifact to
    persist alongside the layout, not as a reproducible pure function.
    """
    embeddings = widen_partitions(embeddings)
    centroids = seed_centroids(embeddings, n_cells, id_col, vec_col)
    for _ in range(n_iters):
        assigned = embeddings.withColumn(
            "__cell", _nearest_cells(F.col(vec_col), centroids, 1)[0]["cid"]
        )
        means = (
            assigned.select(
                "__cell", F.posexplode(F.col(vec_col)).alias("__pos", "__v")
            )
            .groupBy("__cell", "__pos")
            .agg(F.avg("__v").alias("__m"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(r["__cell"], {})[r["__pos"]] = r["__m"]
        centroids = [
            (
                cid,
                [
                    by_cell[cid][p]
                    for p in range(len(prev))
                ]
                if cid in by_cell
                else prev,
            )
            for cid, prev in centroids
        ]
    return centroids


def _round_half_up(x: float, digits: int = 9) -> float:
    """Spark's ``F.round`` semantics on the driver: Java rounds
    ``BigDecimal.valueOf(x)`` (= the shortest round-trip decimal string,
    which is also Python's ``repr``) with HALF_UP, while Python's builtin
    ``round`` is half-EVEN — on dyadic ties (e.g. m/2^k landing exactly
    on a 5 at the target digit) the two differ, so a driver-side ranking
    that must agree with a Catalyst ``F.round`` ranking (a probe's cells
    vs the cells the store's writer assigned) must round THIS way.
    Parity is property-pinned in tests/test_ann_store.py."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def _nearest_cells_py(
    vec: list[float], centroids: list[tuple[int, list[float]]], n: int
) -> list[int]:
    """Driver-side nearest-cell ranking for a single probe vector (mirrors
    ``_nearest_cells`` — including its HALF_UP rounding, so a probe and
    the store's writer can never disagree on a tie; n_cells × dim
    flops — trivial)."""

    def cos(a: list[float], b: list[float]) -> float:
        # clamped like _norm / the numpy kernels: zero-norm scores 0.0
        dot = sum(x * y for x, y in zip(a, b))
        na = max(math.sqrt(sum(x * x for x in a)), 1e-300)
        nb = max(math.sqrt(sum(x * x for x in b)), 1e-300)
        return dot / (na * nb)

    ranked = sorted(
        (
            (_round_half_up(cos(vec, c), 9), cid)
            for cid, c in centroids
        ),
        reverse=True,
    )
    return [cid for _, cid in ranked[:n]]


# ─────────────────────── int8 embedding quantization ───────────────────────
def quantize_embeddings_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    q_col: str = "q",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: q_i = round(v_i / s),
    s = max|v| / 127.  4× smaller storage and shuffle width than float32
    (16× vs the float64 arrays Spark surfaces) — at 100 TB the ANN index
    and every similarity shuffle move a quarter of the bytes, which is
    routinely the difference between in-memory and spilled.

    Pure JVM expressions (aggregate for max|v|, transform for the scaled
    round); the all-zero vector quantizes to scale 0 with zero codes and
    dequantizes back to zeros.
    """
    v = F.col(vec_col)
    absmax = F.aggregate(
        v,
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x)),
    )
    s = (absmax / F.lit(127.0)).alias(scale_col)
    return df.withColumn(scale_col, s).withColumn(
        q_col,
        F.transform(
            v,
            lambda x: F.when(
                F.col(scale_col) == 0.0, F.lit(0)
            )
            .otherwise(F.round(x / F.col(scale_col)))
            .cast("tinyint"),
        ),
    )


def dequantize_embeddings_int8(
    df: DataFrame,
    q_col: str = "q",
    scale_col: str = "q_scale",
    vec_col: str = "embedding_deq",
) -> DataFrame:
    """Inverse of ``quantize_embeddings_int8``: v̂_i = q_i · s.  Per-element
    reconstruction error is bounded by s/2 = max|v|/254."""
    return df.withColumn(
        vec_col,
        F.transform(
            F.col(q_col), lambda x: x.cast("double") * F.col(scale_col)
        ),
    )


def cosine_topk_quantized(
    embeddings: DataFrame,
    probe_id: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """``cosine_topk`` over int8-quantized vectors — the memory-bound scale
    path: quantize once (at ingest in production; here inline), run the
    same broadcast-probe top-k on the dequantized values.  Cosine is
    scale-invariant per vector, so the quantization error only perturbs
    scores by O(1/127) per element pair; recall@k vs the exact path is
    pinned in tests, not assumed.
    """
    q = quantize_embeddings_int8(embeddings, vec_col).select(
        id_col, "q", "q_scale"
    )
    deq = dequantize_embeddings_int8(q, vec_col="__v")
    probe = F.broadcast(
        deq.where(F.col(id_col) == probe_id).select(
            F.col("__v").alias("__p"), _norm(F.col("__v")).alias("__pn")
        )
    )
    sim = _dot(F.col("__v"), F.col("__p")) / (
        _norm(F.col("__v")) * F.col("__pn")
    )
    if round_to is not None:
        sim = F.round(sim, round_to)
    return (
        deq.where(F.col(id_col) != probe_id)
        .crossJoin(probe)
        .select(F.col(id_col), sim.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )
