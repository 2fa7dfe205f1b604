"""Corpus sampling and shard packing — the selection/layout stage of a
training-data pipeline (downstream of the `operators/{text,dedup}` gates).

Everything here is deterministic by construction: sampling decisions hash a
stable key (never `rand()`, which is seed- and partitioning-dependent), and
shard assignment derives from a total order on a unique key — so re-runs,
retries, and engine ports (the DuckDB oracles) reproduce byte-identical
selections.

Scale notes:
- `deterministic_sample` / `stratified_sample` are narrow filters: no
  shuffle, fused into the scan, and the sampling predicate is pushdown-
  friendly when the hash column is materialized at ingest.
- `pack_into_shards` needs a GLOBAL running sum, which a naive
  `Window.orderBy` computes in ONE task (the classic global-window scale
  trap).  It is implemented as the standard two-phase prefix sum instead:
  range-partition by the order key, per-partition local cumsum (parallel
  windows), plus a tiny per-partition offset table — the only global step
  is a window over `#partitions` rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from jurimetria_etl_spark.operators.dedup import hash60

# Sampling hashes map onto [0, 1) with 6-decimal resolution: row kept iff
# hash60(key ‖ salt) mod 10⁶ < fraction · 10⁶.
_BUCKETS = 1_000_000


def sample_bucket(key: Column | str, salt: str = "sample") -> Column:
    """Stable per-row sampling bucket in [0, 1e6): derived from md5 so any
    engine can recompute it (same construction as the dedup fingerprints —
    reference: operators/dedup.py:hash60)."""
    c = F.col(key) if isinstance(key, str) else key
    return F.pmod(hash60(c.cast("string"), salt), F.lit(_BUCKETS))


def deterministic_sample(
    df: DataFrame,
    fraction: float,
    key_col: str,
    salt: str = "sample",
) -> DataFrame:
    """Keep a stable ``fraction`` of rows, decided per row by hashing
    ``key_col`` — re-runs and engine ports select the SAME rows (unlike
    ``df.sample``, whose output depends on seed AND partitioning).  A
    narrow filter; no shuffle."""
    return df.where(sample_bucket(key_col, salt) < int(fraction * _BUCKETS))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    salt: str = "sample",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. language rebalancing: keep
    10% of English, 100% of the tail languages).  One narrow filter — the
    per-stratum threshold is a CASE expression, no shuffle, no join."""
    threshold: Column = F.lit(int(default_fraction * _BUCKETS))
    for value, frac in sorted(fractions.items()):
        threshold = (
            F.when(F.col(strata_col) == value, F.lit(int(frac * _BUCKETS)))
            .otherwise(threshold)
        )
    return df.where(sample_bucket(key_col, salt) < threshold)


def mixture_plan(
    counts: dict[str, int],
    weights: dict[str, float],
    total_rows: int | None = None,
) -> dict[str, tuple[int, int]]:
    """Per-source replication plan for a target corpus mixture.

    Given per-source row counts and target mixture weights (normalized
    here), returns ``{source: (n_full_epochs, partial_threshold)}`` where a
    source contributes ``n_full_epochs`` complete copies plus the rows
    whose sampling bucket < ``partial_threshold`` (out of 1e6) in one more
    epoch.

    ``total_rows=None`` picks the LARGEST total achievable without
    upsampling: T = min_s(n_s / w_s) — the binding source is kept whole and
    every other source downsamples to the target ratio.  An explicit
    ``total_rows`` may upsample (full epochs > 0): standard corpus-mixture
    practice where high-quality sources repeat for multiple epochs.

    Arithmetic is plain double math in a fixed evaluation order so the
    DuckDB oracle reproduces the identical thresholds.
    """
    missing = [s for s in weights if counts.get(s, 0) <= 0]
    if missing:
        raise ValueError(
            f"mixture_plan: weighted sources with no rows: {missing}"
        )
    wsum = float(sum(weights.values()))
    if wsum <= 0:
        raise ValueError("mixture_plan: weights must sum > 0")
    norm = {s: w / wsum for s, w in weights.items()}
    if total_rows is None:
        total = min(counts[s] / norm[s] for s in norm)
    else:
        total = float(total_rows)
    plan: dict[str, tuple[int, int]] = {}
    for s in sorted(norm):
        ratio = norm[s] * total / counts[s]
        epochs = int(ratio)  # full copies
        threshold = int(ratio * _BUCKETS) - epochs * _BUCKETS
        plan[s] = (epochs, threshold)
    return plan


def mix_corpora(
    df: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    key_col: str = "doc_id",
    total_rows: int | None = None,
    salt: str = "mix",
    epoch_col: str = "epoch",
) -> DataFrame:
    """Re-weight a multi-source corpus to a target mixture, deterministic
    per (key, epoch) — the dataset-mixing stage of training-data prep
    (e.g. 50% curated web / 30% books / 20% code).

    Scale design: the per-source counts aggregate collects ``#sources``
    rows to the driver (bounded like the IVF centroid seeds) to derive the
    plan; the data path is then ONE narrow generator — each row explodes
    into its epochs and a hash filter keeps the partial-epoch remainder —
    no shuffle beyond the tiny counts agg, no join.  Upsampled rows carry
    ``epoch_col`` so downstream shuffling (pack_into_shards ordering by a
    key including epoch) interleaves copies instead of clustering them.

    Sources absent from ``weights`` are dropped (weight 0); weighted
    sources with zero rows raise (the mixture is unsatisfiable).
    """
    counts = {
        r[source_col]: r["n"]
        for r in df.groupBy(source_col).agg(F.count("*").alias("n")).collect()
    }
    plan = mixture_plan(counts, weights, total_rows)
    src = F.col(source_col)
    epochs_expr: Column = F.lit(None).cast("int")
    thresh_expr: Column = F.lit(None).cast("long")
    for s, (epochs, threshold) in plan.items():
        epochs_expr = F.when(src == s, F.lit(epochs)).otherwise(epochs_expr)
        thresh_expr = F.when(src == s, F.lit(threshold)).otherwise(thresh_expr)
    out = (
        df.where(src.isin(*plan.keys()))
        .withColumn("__epochs", epochs_expr)
        .withColumn("__thr", thresh_expr)
        .withColumn(
            epoch_col, F.explode(F.sequence(F.lit(0), F.col("__epochs")))
        )
    )
    keep = (F.col(epoch_col) < F.col("__epochs")) | (
        F.pmod(
            hash60(
                F.concat_ws(
                    ":", F.col(key_col).cast("string"), F.col(epoch_col)
                ),
                salt,
            ),
            F.lit(_BUCKETS),
        )
        < F.col("__thr")
    )
    return out.where(keep).drop("__epochs", "__thr")


def pack_into_shards(
    df: DataFrame,
    tokens_col: str,
    order_col: str,
    max_tokens_per_shard: int,
    shard_col: str = "shard_id",
) -> DataFrame:
    """Sequential-fill shard packing: walk the corpus in ``order_col``
    order accumulating token counts; a document starts at running total T
    (exclusive prefix) and lands in shard ``floor(T / max_tokens)``.
    Deterministic given a UNIQUE, NON-NULL order key (Spark and SQL
    engines disagree on default NULL ordering, and ties across a partition
    boundary would make the order — and thus shards — ambiguous).

    Two-phase prefix sum (no global single-task window):
    1. ``repartitionByRange(order_col)`` — globally ordered,
       non-overlapping partitions (ordering invariant holds regardless of
       where the sampled boundaries land);
    2. per-partition local cumsum via a window PARTITIONED on the range
       partition id (runs in parallel);
    3. per-partition totals → exclusive offsets: the only global window,
       over ``#partitions`` rows, broadcast back.

    The ranged frame is materialized (``localCheckpoint``) before the
    offsets and output branches read it: both reference
    ``spark_partition_id``, and without the barrier each branch would
    re-execute the range exchange — whose sampled boundaries are not
    guaranteed identical across executions — letting a boundary row take
    one __pid in the offsets table and another in the output.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    ranged = (
        df.repartitionByRange(n, F.col(order_col))
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    totals = ranged.groupBy("__pid").agg(F.sum(tokens_col).alias("__t"))
    off_w = (
        Window.orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "__pid",
        F.coalesce(F.sum("__t").over(off_w), F.lit(0)).alias("__off"),
    )
    local_w = (
        Window.partitionBy("__pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum_inclusive = F.sum(tokens_col).over(local_w) + F.col("__off")
    start = cum_inclusive - F.col(tokens_col)  # exclusive prefix
    return (
        ranged.join(F.broadcast(offsets), "__pid")
        .withColumn(
            shard_col,
            F.floor(start / F.lit(max_tokens_per_shard)).cast("bigint"),
        )
        .drop("__pid", "__off")
    )


def shuffle_order(key: Column | str, seed: str = "0") -> Column:
    """Deterministic pseudo-random total-order key — the training-order
    shuffle.  ``md5('shuffle:<seed>:' ‖ key)`` as the 32-char lowercase
    hex string: 128 bits, so distinct keys collide never in practice
    (the UNIQUE total order ``pack_into_shards`` requires), identical
    hex + lexicographic ordering in every engine (the ``hash60``
    portability argument, without the 60-bit truncation a sort key
    can't afford), and a narrow scan-fused expression — the shuffle is
    an ORDER, not a shuffle-the-data operator: nothing moves until a
    consumer (packing's range exchange) orders by it.

    The seed is the COMPLETE shuffle state: re-runs, engine ports, and
    resumed jobs reproduce the identical permutation from the seed
    alone — store the seed, not the order.  A new training epoch is a
    new seed."""
    c = F.col(key) if isinstance(key, str) else key
    return F.md5(F.concat(F.lit(f"shuffle:{seed}:"), c.cast("string")))


def pack_shuffled_shards(
    df: DataFrame,
    tokens_col: str,
    key_col: str,
    max_tokens_per_shard: int,
    seed: str = "0",
    shard_col: str = "shard_id",
) -> DataFrame:
    """Token-budget shard packing in SEEDED PSEUDO-RANDOM order — the
    training-shard assembly step: documents land in shards as a uniform
    permutation (decorrelating shard contents from ingest/id order, the
    reason training pipelines shuffle) while staying fully
    deterministic — same seed, same shards, on any engine.  One
    ``shuffle_order`` column + ``pack_into_shards``'s two-phase prefix
    sum; ``key_col`` must be unique per row (document ids)."""
    return pack_into_shards(
        df.withColumn("__shuffle", shuffle_order(key_col, seed)),
        tokens_col,
        "__shuffle",
        max_tokens_per_shard,
        shard_col,
    ).drop("__shuffle")


# ─────────────────────────── train / eval split ────────────────────────────
def split_corpus(
    df: DataFrame,
    eval_fraction: float,
    key_col: str,
    salt: str = "split",
    split_col: str = "split",
) -> DataFrame:
    """Label every row ``'eval'`` or ``'train'`` by deterministic hash of
    ``key_col`` — the held-out fraction is stable across re-runs, engines
    (DuckDB oracle recomputes the same md5 buckets), and corpus growth
    (a document's assignment never flips when OTHER documents arrive,
    unlike any count- or position-based split).  One narrow expression:
    no shuffle, no join, fused into the scan."""
    return df.withColumn(
        split_col,
        F.when(
            sample_bucket(key_col, salt) < int(eval_fraction * _BUCKETS),
            F.lit("eval"),
        ).otherwise(F.lit("train")),
    )


def split_leakage_guarded(
    docs: DataFrame,
    eval_fraction: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "split",
    n: int = 5,
    min_overlap: int = 1,
    min_overlap_ratio: float = 0.0,
    split_col: str = "split",
) -> DataFrame:
    """Train/eval split with an n-gram leakage guard: train documents
    sharing ≥ ``min_overlap`` word-``n``-gram shingles (and ≥
    ``min_overlap_ratio`` of their own shingles) with ANY eval document
    are labeled ``'quarantine'`` — excluded from train rather than
    promoted to eval, which would bias the held-out set toward
    duplicated content.  Output: all ``docs`` columns + ``split_col`` ∈
    {train, eval, quarantine}.

    Scale: the split label is a narrow expression; the guard runs
    ``decontaminate.flag_contamination``'s one-pass probe with an
    UN-HINTED eval shingle set — unlike an external benchmark, the eval
    side here is a fixed FRACTION of the corpus, so its shingle set
    grows with the data and must not be forced into a broadcast (at
    100 TB an 0.1% split is still ~100 GB of text).  AQE sizes the join
    from the set's runtime bytes: a map-side broadcast join while it
    fits, a shuffle join on the 8-byte hash keys beyond.  Building the
    plan runs no Spark job.
    """
    from jurimetria_etl_spark.operators import decontaminate as DC

    labeled = split_corpus(docs, eval_fraction, id_col, salt, split_col)
    train = labeled.where(F.col(split_col) == "train")
    ev = labeled.where(F.col(split_col) == "eval")
    leaked = (
        DC._flag_against(
            train,
            DC.benchmark_shingle_set(ev, text_col, n),
            id_col,
            text_col,
            n,
            min_overlap,
            min_overlap_ratio,
        )
        .where("contaminated")
        .select(F.col(id_col).alias("__leaked_id"))
    )
    return (
        labeled.join(
            leaked, F.col(id_col) == F.col("__leaked_id"), "left"
        )
        .withColumn(
            split_col,
            F.when(
                F.col("__leaked_id").isNotNull()
                & (F.col(split_col) == "train"),
                F.lit("quarantine"),
            ).otherwise(F.col(split_col)),
        )
        .drop("__leaked_id")
    )


# ──────────────────────── per-domain selection ─────────────────────────────
def top_k_per_domain(
    df: DataFrame,
    domain_col: str,
    order_col: str,
    k: int | None = None,
    fraction: float | None = None,
    id_col: str = "doc_id",
    descending: bool = True,
) -> DataFrame:
    """Keep the best ``k`` rows (or the best ``fraction``) PER DOMAIN by
    ``order_col`` — domain-balanced quality selection (a web corpus
    ranked purely by global quality score over-samples a few hub
    domains; per-domain top-k caps any one domain's contribution).
    Ties break by ``id_col`` ascending so the selection is deterministic
    and engine-reproducible.  Exactly one of ``k`` / ``fraction``.

    Scale: the rank window shuffles only a NARROW projection
    (domain, order, id — tens of bytes/row, not documents); survivors
    semi-join back on ``id_col`` where AQE sizes the join from runtime
    stats.  Domain skew on the window shuffle is the AQE skew-join /
    salting territory, but the window input is already ~1000× smaller
    than the corpus bytes.  ``fraction`` adds a per-domain COUNT window
    over the SAME partitioning — one exchange serves both window
    functions; the domain count frame is unbounded in |domains|, so it
    must not ride a join hint (the survivor-set broadcast rule).
    """
    if (k is None) == (fraction is None):
        raise ValueError("exactly one of k / fraction is required")
    oc = F.col(order_col).desc() if descending else F.col(order_col).asc()
    narrow = df.select(domain_col, order_col, id_col)
    w = Window.partitionBy(domain_col).orderBy(oc, F.col(id_col))
    ranked = narrow.withColumn("__rk", F.row_number().over(w))
    if k is not None:
        keep = ranked.where(F.col("__rk") <= k)
    else:
        wn = Window.partitionBy(domain_col)
        keep = ranked.withColumn(
            "__n", F.count(F.lit(1)).over(wn)
        ).where(
            F.col("__rk") <= F.ceil(F.col("__n") * F.lit(fraction)).cast("int")
        )
    return df.join(keep.select(id_col), id_col, "left_semi")
