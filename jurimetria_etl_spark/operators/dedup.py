"""Deduplication operators (SURVEY §2.12 E1/E2) — exact, MinHash+LSH,
SimHash, and n-gram Jaccard.

Design for 100 TB:
- Signatures (minhash, simhash, fingerprints) are computed with **narrow
  array expressions** (transform/aggregate folds over the token array) — no
  explode, no Python, no shuffle; they whole-stage-codegen and can be
  computed at ingest and stored.
- Candidate generation is the only shuffle: a self-join keyed on (band,
  band-hash) for MinHash or on signature bands for SimHash — the classic
  LSH trick that turns O(N²) all-pairs into O(N²/buckets).
- Verification (exact Jaccard / hamming) runs only on candidate pairs.

All hashes derive from md5 (``hash60``) so results are deterministic across
engines — the DuckDB oracles in plans/extensions.py compute the identical
signatures.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jurimetria_etl_spark.memo import pinned
from jurimetria_etl_spark.session import local_frame


def widen_partitions(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition up to cluster width before a CPU-dense narrow stage.

    Signature computation (minhash/simhash/LSH) costs far more CPU per byte
    than the scan, so partitioning by input *bytes* under-parallelizes it
    badly: a 5 MB single-file corpus plans as ONE task and serializes 2M
    md5 calls on one core.  One cheap shuffle of the raw text buys
    cluster-wide fan-out.  No-op when the input is already wide (the 100 TB
    case, where file count ≥ cores).

    Width is estimated from ``inputFiles()`` (pure metadata) rather than
    ``df.rdd.getNumPartitions()``, which would force a plan→RDD conversion
    per query.  Non-file sources report zero files and get repartitioned —
    the safe default for the small in-memory frames they are here.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files >= target:
        return df
    return df.repartition(target)


# ───────────────────────── tokenize / shingle ──────────────────────────────
def tokens(col: Column | str) -> Column:
    """SINGLE-SPACE tokens of trimmed text — the pinned STRUCTURAL
    tokenization for shingles/fingerprints/minhash.  Only consistency
    matters for those (both sides of every comparison use it, and every
    persisted fingerprint/signature store was built with it — changing
    it would invalidate them all).  For metrics that are semantically
    WORD counts (Gopher rules, stopword hits, lang-ID) use ``ws_words``:
    this split merges newline/tab-separated words into one token."""
    return F.split(F.trim(col), " ")


def ws_words(col: Column | str) -> Column:
    """Non-empty WHITESPACE-run tokens (``\\s+`` split) — the linguistic
    tokenization for counting metrics.  'the cat\\nthe dog' is four
    words; the structural single-space split above sees three."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles: ['a b c', 'b c d', ...].

    Narrow expression: sequence over positions + slice + concat_ws.  A
    document shorter than n words yields an empty array.
    """
    toks = tokens(col)
    count = F.size(toks) - (n - 1)
    # Guard: Spark's sequence(1, 0) yields a DESCENDING [1, 0], not empty —
    # short documents must produce an empty shingle array.
    positions = F.when(count >= 1, F.sequence(F.lit(1), count)).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(
        F.transform(positions, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    )


def hash60(col: Column, salt: str | None = None) -> Column:
    """Deterministic 60-bit hash: first 15 hex digits of md5, as bigint.

    Engine-portable (DuckDB: ``('0x' || substr(md5(x),1,15))::BIGINT``) —
    used instead of Spark's murmur3 ``hash()`` precisely so oracles can
    recompute it.
    """
    base = F.concat(F.lit(f"{salt}:"), col) if salt is not None else col
    return F.conv(F.substring(F.md5(base), 1, 15), 16, 10).cast("bigint")


# ───────────────────────────── exact dedup ─────────────────────────────────
def dedup_exact(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """E1 — exact dedup = hash-groupBy on the key columns (one shuffle).
    For long text keys prefer ``dedup_by_fingerprint`` (shuffles 8-byte
    hashes, not documents)."""
    return df.dropDuplicates(cols) if cols else df.dropDuplicates()


def fingerprint(col: Column | str, normalize: bool = True) -> Column:
    """Content fingerprint: 60-bit hash of (optionally normalized) text.
    Normalization: lowercase + collapse whitespace runs."""
    c = F.col(col) if isinstance(col, str) else col
    if normalize:
        c = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return hash60(c)


def dedup_by_fingerprint(
    df: DataFrame, text_col: str, keep_col: str
) -> DataFrame:
    """Exact near-zero-cost text dedup at scale: shuffle only (fingerprint,
    min-id), keep the first row per fingerprint via a semi-join back.

    The semi-join keys on BOTH (fingerprint, keep-id), so duplicate
    ``keep_col`` values across different fingerprint groups cannot leak
    extra rows through; rows tied on the full (fingerprint, min-id) pair
    all survive (supply a unique id for strict one-per-group output).
    """
    with_fp = df.withColumn("__fp", fingerprint(text_col))
    winners = with_fp.groupBy(F.col("__fp").alias("__wfp")).agg(
        F.min(keep_col).alias("__wkeep")
    )
    return with_fp.join(
        winners,
        (F.col("__fp") == F.col("__wfp"))
        & (F.col(keep_col) == F.col("__wkeep")),
        "left_semi",
    ).drop("__fp")


def dedup_incremental(
    new_df: DataFrame,
    seen_fps: DataFrame,
    text_col: str = "text",
    fp_col: str = "fp",
) -> DataFrame:
    """Incremental (cross-batch) dedup: drop rows of a NEW batch whose
    content fingerprint already exists in a persisted fingerprint store,
    then dedup the batch internally — the pattern for appending to a
    corpus without re-reading it.

    At 100 TB the store is a parquet table of 8-byte hashes (bucketed by
    ``fp_col`` at write time makes this a shuffle-free join); the new
    batch is typically small, so the anti-join is AQE-broadcast from
    runtime stats — no hint forced, same policy as curation.  Returns the
    surviving NEW rows; union with the store's ids is the caller's append.
    """
    batch = new_df.withColumn("__fp", fingerprint(text_col))
    fresh = batch.join(
        seen_fps.select(F.col(fp_col).alias("__seen_fp")),
        F.col("__fp") == F.col("__seen_fp"),
        "left_anti",
    )
    return fresh.dropDuplicates(["__fp"]).drop("__fp")


# ───────────────────────────── MinHash + LSH ───────────────────────────────
# Universal-hash permutation family h_i(x) = (a_i·x + b_i) mod P over the
# Mersenne prime P = 2³¹−1: ONE md5 per shingle, then k multiply-adds —
# ~k× cheaper than k salted md5 passes, identical collision statistics.
# Operands stay < 2⁶² so the arithmetic is overflow-safe in any engine that
# errors on bigint overflow (DuckDB) as well as ones that wrap (JVM).
# Coefficients come from a fixed LCG so both engines embed the same
# literals.
MINHASH_PRIME = 2_147_483_647


def minhash_coeffs(k: int) -> list[tuple[int, int]]:
    return [
        (
            (1103515245 * (i + 1) + 12345) % MINHASH_PRIME or 1,
            (1103515245 * (i + 101) + 54321) % MINHASH_PRIME,
        )
        for i in range(k)
    ]


def _minhash_from_base(base: Column, k: int) -> Column:
    return F.array(
        *[
            F.array_min(
                F.transform(
                    base, lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_PRIME
                )
            )
            for a, b in minhash_coeffs(k)
        ]
    )


def add_minhash(
    df: DataFrame, text_col: str, k: int = 8, n: int = 3, sig_col: str = "minhash"
) -> DataFrame:
    """Narrow minhash stage: one md5 pass over shingles (staged column —
    CollapseProject keeps multi-referenced non-cheap aliases staged), k
    multiply-add folds, input widened to cluster parallelism first."""
    staged = widen_partitions(df).withColumn(
        "__mh_base",
        F.transform(
            word_shingles(text_col, n), lambda s: hash60(s) % MINHASH_PRIME
        ),
    )
    return staged.withColumn(
        sig_col, _minhash_from_base(F.col("__mh_base"), k)
    ).drop("__mh_base")


def band_structs(sig: str | Column, k: int, bands: int) -> Column:
    """LSH band keys from a k-length minhash signature (column name or
    expression): array of ``struct(band, bkey)`` where bkey hashes the
    band's signature slice.  The SINGLE source of band-key derivation —
    batch candidate join and incremental store both call it, so a store
    built with the same (k, bands) stays join-compatible forever."""
    sig_c = F.col(sig) if isinstance(sig, str) else sig
    rows_per_band = k // bands
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            hash60(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(sig_c, b * rows_per_band + 1, rows_per_band),
                        lambda v: v.cast("string"),
                    ),
                )
            ).alias("bkey"),
        ),
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """LSH banding: split the k-length signature into ``bands`` bands of
    k/bands rows; docs sharing any band hash become a candidate pair.

    Plan: signature (narrow) → explode bands (k/bands longs per row) →
    self-join shuffled on (band_idx, band_key).  At 100 TB the band table is
    the only shuffled data: two longs + an id per band.
    """
    sig = add_minhash(df, text_col, k, n, "__sig").select(id_col, "__sig")
    # Same materialization barrier as simhash_near_duplicates: signatures
    # are multi-referenced (one slice per band) and the self-join would
    # otherwise recompute the shingle+minhash folds on both sides.
    sig = sig.repartition(sig.sparkSession.sparkContext.defaultParallelism)
    return _band_candidates(sig, id_col, k, bands)


def _band_candidates(sig: DataFrame, id_col: str, k: int, bands: int) -> DataFrame:
    """The banded self-join: explode each ``__sig`` into its band keys and
    pair the ids sharing any (band, bkey) as distinct (left_id < right_id)."""
    banded = sig.select(
        F.col(id_col), F.explode(band_structs("__sig", k, bands)).alias("b")
    ).select(id_col, F.col("b.band").alias("band"), F.col("b.bkey").alias("bkey"))
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bkey") == F.col("r.bkey"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("left_id"),
            F.col(f"r.{id_col}").alias("right_id"),
        )
        .distinct()
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two (distinct-element) arrays, as double."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return inter.cast("double") / union.cast("double")


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """E2 — MinHash LSH candidates, then exact-Jaccard verification on the
    candidate pairs only (the standard two-phase near-dup pipeline).

    One shingle pass (r15): the shingle table is built ONCE behind a
    single repartition exchange that every consumer — the signature
    derivation feeding both band-join sides AND both verify attach
    sides — reads via ReusedExchange.  The previous shape computed
    ``word_shingles`` in three independent subplans (the signature
    barrier plus each verify side), so the tokenize+slide+concat pass
    ran 3× per query and the verify sides each re-shuffled raw shingle
    arrays; now the arrays cross exactly one exchange and the verify
    joins read it back.  Verification arithmetic is unchanged — exact
    Jaccard over the raw string shingle sets."""
    df = widen_partitions(df)
    sh = df.select(F.col(id_col), word_shingles(text_col, n).alias("__sh"))
    # The ONE materialization barrier: signatures, both band-join sides,
    # and both verify sides all hang off this exchange (identical
    # subtree ⇒ one shuffle write, N reads).
    sh = sh.repartition(sh.sparkSession.sparkContext.defaultParallelism)
    sig = sh.select(
        F.col(id_col),
        _minhash_from_base(
            F.transform(F.col("__sh"), lambda s: hash60(s) % MINHASH_PRIME), k
        ).alias("__sig"),
    )
    cands = _band_candidates(sig, id_col, k, bands)
    lsh_ = sh.select(F.col(id_col).alias("left_id"), F.col("__sh").alias("__lsh"))
    rsh = sh.select(F.col(id_col).alias("right_id"), F.col("__sh").alias("__rsh"))
    return (
        cands.join(lsh_, "left_id")
        .join(rsh, "right_id")
        .select(
            "left_id",
            "right_id",
            F.round(jaccard(F.col("__lsh"), F.col("__rsh")), 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# ─────────────────────────── n-gram Jaccard ────────────────────────────────
def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """E2 variant — exact all-candidate n-gram Jaccard join: explode
    shingles, self-join on shingle (candidates share ≥1 shingle), count
    shared, compute |A∩B| / (|A|+|B|-|A∩B|).

    Unlike MinHash this is exact, but the shingle join explodes
    quadratically on hot shingles: a stopword-like shingle appearing in M
    documents contributes M² join rows on one key.  ``max_shingle_df`` caps
    that: shingles whose document frequency exceeds the cap are dropped
    (broadcast anti-join against the hot-shingle list) before the
    self-join.  With a cap the reported jaccard is a LOWER bound (hot
    shingles leave the intersection count but not the set sizes), so pairs
    are never over-reported but near-threshold pairs whose overlap leans on
    hot shingles may be missed — the standard prefix-filter trade-off.

    The cap DEFAULTS ON (1000): an unguarded call on natural text must not
    detonate on one stopword-like key at scale.  Pass ``max_shingle_df=None``
    explicitly to go exact — the reported pair set with any cap is always a
    subset of the exact pair set (property-tested).
    """
    sh = widen_partitions(df).select(
        F.col(id_col), word_shingles(text_col, n).alias("__sh")
    )
    sizes = sh.select(F.col(id_col), F.size("__sh").alias("__n"))
    ex = sh.select(F.col(id_col), F.explode("__sh").alias("__s"))
    if max_shingle_df is not None:
        hot = (
            ex.groupBy("__s")
            .agg(F.count("*").alias("__df"))
            .where(F.col("__df") > max_shingle_df)
            .select("__s")
        )
        ex = ex.join(F.broadcast(hot), "__s", "left_anti")
    l, r = ex.alias("l"), ex.alias("r")
    shared = (
        l.join(
            r,
            (F.col("l.__s") == F.col("r.__s"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .groupBy(
            F.col(f"l.{id_col}").alias("left_id"),
            F.col(f"r.{id_col}").alias("right_id"),
        )
        .agg(F.count("*").alias("__shared"))
    )
    ls = sizes.select(F.col(id_col).alias("left_id"), F.col("__n").alias("__ln"))
    rs = sizes.select(F.col(id_col).alias("right_id"), F.col("__n").alias("__rn"))
    jac = F.col("__shared").cast("double") / (
        F.col("__ln") + F.col("__rn") - F.col("__shared")
    ).cast("double")
    return (
        shared.join(ls, "left_id")
        .join(rs, "right_id")
        .select("left_id", "right_id", F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


# ─────────────────────────────── SimHash ───────────────────────────────────
def _simhash_from_hashes(h: Column, bits: int) -> Column:
    """Per-bit majority vote packed into a long, as ONE single-pass fold:
    the token-hash array is traversed exactly once, carrying an
    ``array<long>`` of ``bits`` per-bit counters (each token zip_with-
    updates all counters at once), then one constant-size pass packs the
    counter signs into the signature long.

    The earlier formulation (transform over bit positions, an aggregate
    over the token hashes inside each) re-traversed the token-hash array
    ``bits`` times per row — 48 full aggregate passes at bits=48, which
    the round-2 bench measured at 3.1× the DuckDB oracle (x08).  The fold
    does the same tokens×bits arithmetic but reads the array once.

    The shift amounts are lambda variables, so ``shiftleft``/``shiftright``
    go through ``call_function`` (the typed Python wrappers only accept
    literal shift amounts); the bit-index array is foldable and constant-
    folds to a literal.  ``h`` is referenced exactly once in the fold, so
    the evaluation-count hazard of the old form (an inlined ``h``
    silently recomputing md5 per bit after CollapseProject) cannot arise.
    """
    bit_idx = F.sequence(F.lit(0), F.lit(bits - 1))  # constant-folded
    counts = F.aggregate(
        h,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, x: F.zip_with(
            acc,
            bit_idx,
            lambda a, b: a
            + F.when(
                F.call_function("shiftright", x, b).bitwiseAND(F.lit(1)) == 1,
                F.lit(1),
            ).otherwise(F.lit(-1)),
        ),
    )
    packed_bits = F.zip_with(
        counts,
        bit_idx,
        lambda c, b: F.when(
            c >= 0, F.call_function("shiftleft", F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(packed_bits, F.lit(0).cast("long"), lambda a, x: a + x)


def simhash(col: Column | str, bits: int = 16) -> Column:
    """SimHash signature over whitespace tokens: per-bit majority vote of
    60-bit token hashes, packed into a long.  Prefer ``add_simhash`` in
    pipelines — it stages the token-hash array so md5 runs once, not once
    per bit."""
    return _simhash_from_hashes(
        F.transform(tokens(col), lambda t: hash60(t)), bits
    )


def add_simhash(
    df: DataFrame, text_col: str, bits: int = 16, sig_col: str = "simhash"
) -> DataFrame:
    """Narrow simhash stage: one md5 pass per token (staged column), then
    ``bits`` fold votes over the hash array; input widened to cluster
    parallelism first."""
    staged = widen_partitions(df).withColumn(
        "__sh_h", F.transform(tokens(text_col), lambda t: hash60(t))
    )
    return staged.withColumn(
        sig_col, _simhash_from_hashes(F.col("__sh_h"), bits)
    ).drop("__sh_h")


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 16,
    max_hamming: int = 3,
    band_bits: int = 4,
    sig_frame: DataFrame | None = None,
) -> DataFrame:
    """E2 variant — SimHash near-dup: band the signature into
    bits/band_bits chunks; by pigeonhole, pairs within ``max_hamming``
    (< number of bands) share at least one exact band → candidate join on
    (band_idx, band_value), verified with bit_count(xor) ≤ max_hamming.

    ``sig_frame`` (columns ``id_col``, ``__sig``) supplies precomputed
    signatures — the ingest-time-persistence path (SCALE.md): a corpus
    stores simhashes once and every near-dup query skips the fold.
    """
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    if sig_frame is not None:
        sig = sig_frame.select(id_col, "__sig")
    else:
        sig = add_simhash(df, text_col, bits, "__sig").select(id_col, "__sig")
        # Materialization barrier: the banding references __sig several
        # times and the self-join reads the subplan twice — without an
        # exchange above the signature projection, Catalyst re-inlines the
        # (expensive) per-bit fold into every reference.  A shuffle of
        # (id, 8-byte sig) is near-free and ReusedExchange makes the
        # join's second side read it back instead of recomputing (observed
        # 13.3s → ~2s at sf0.1).  At 100 TB the same role is played by
        # persisting signatures at ingest (SCALE.md).
        sig = sig.repartition(sig.sparkSession.sparkContext.defaultParallelism)
    # static unroll — shiftright takes a literal shift amount
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("__sig"), b * band_bits)
                .bitwiseAND(F.lit(mask))
                .alias("bval"),
            )
            for b in range(n_bands)
        ]
    )
    banded = sig.select(
        F.col(id_col), F.col("__sig"), F.explode(band_arr).alias("b")
    ).select(id_col, "__sig", F.col("b.band").alias("band"), F.col("b.bval").alias("bval"))
    l, r = banded.alias("l"), banded.alias("r")
    ham = F.bit_count(F.col("l.__sig").bitwiseXOR(F.col("r.__sig")))
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bval") == F.col("r.bval"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("left_id"),
            F.col(f"r.{id_col}").alias("right_id"),
            ham.alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ───────────────────── near-dup clustering (components) ────────────────────
def near_dup_clusters(
    pairs: DataFrame,
    left_col: str = "left_id",
    right_col: str = "right_id",
    cluster_col: str = "cluster_id",
    max_iters: int = 20,
    max_driver_pairs: int = 500_000,
) -> DataFrame:
    """Connected components of the near-dup pair graph: every id that
    appears in a pair, labeled with the MINIMUM id reachable from it
    (deterministic canonical cluster id).

    Pairwise keep-one (drop the higher id of each pair) under-deletes on
    chains — A~B, B~C leaves {A, C} even though all three are one cluster.
    Clustering first, then keeping one doc per cluster, is the transitive
    fix real curation pipelines need.

    Two exact paths, picked by ONE bounded fetch up front (a
    ``limit(max_driver_pairs+1).toPandas()`` — when it comes back within
    the bound it already IS the full edge set, so the common case pays a
    single action over the pair lineage and no persist):

    - **Bounded union-find** when the pair graph fits
      ``max_driver_pairs`` (default 5×10⁵ pairs — fetched Arrow-batched
      via ``toPandas``, ≈ 8 MB for integer ids and tens of MB for string
      ids; there is no per-Row Python-object overhead on the driver, the
      transient cost is two flat arrays plus the union-find dict): collect,
      path-compressing union-find, one ``local_frame`` back.  The pair
      graph of a near-dup pass is verified-duplicate EDGES — orders of
      magnitude smaller than the corpus even at 100 TB — so this is the
      common case, and it replaces ~3×(join+agg+checkpoint+action) rounds
      of fixed job latency with one collect.  Same bounded-driver-work
      policy as the IVF centroid seeds.
    - **Iterative min-label propagation** above the bound: labels start
      as the id; each round every node takes the min of its neighbours'
      labels; converged when the (monotonically decreasing) label sum
      stops changing.  O(cluster diameter) rounds.  Only paired ids
      iterate; each round shuffles 16-byte (id, label) rows;
      ``localCheckpoint`` truncates lineage per round (swap for
      ``checkpoint(dir)`` when fault-tolerance matters).

    Both paths produce the identical (id, min-reachable-id) labeling —
    pinned against each other in tests.
    """
    spark = pairs.sparkSession
    # ONE action decides the path AND fetches the edges (r15): fetch up
    # to max_driver_pairs+1 rows Arrow-batched.  When the fetch comes
    # back complete (≤ max_driver_pairs rows), it IS the full pair set —
    # the union-find path needs no second action and no persist at all,
    # so the costliest job in a dedup pipeline (the LSH join + jaccard
    # verify lineage) runs exactly once.  Only the rare over-bound case
    # pays a second pass (persist + the label-prop rounds); the previous
    # shape persisted + counted + collected on every call.
    pdf = (
        pairs.select(left_col, right_col)
        .limit(max_driver_pairs + 1)
        .toPandas()
    )
    if len(pdf) <= max_driver_pairs:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        # The fetch above is Arrow-batched: two flat columns, not 500k
        # Row objects (a Row costs ~100+ bytes; the ~8 MB bound in the
        # docstring is only honest with a columnar transfer).  .tolist()
        # yields plain Python values, so id-type behavior matches the
        # collect path.
        for a, b in zip(pdf[left_col].tolist(), pdf[right_col].tolist()):
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN root so the canonical label is deterministic
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        rows = [(x, find(x)) for x in parent]
        # keep the operator generic over id types (string/decimal ids
        # must not behave differently below vs above the threshold)
        id_type = pairs.schema[left_col].dataType.simpleString()
        return local_frame(
            spark, rows, f"id {id_type}, {cluster_col} {id_type}"
        )
    # Over-bound path: the pair plan is referenced twice below (both
    # union branches), so pin it for the edge materialization only.
    with pinned(pairs):
        edges = (
            pairs.select(
                F.col(left_col).alias("__src"), F.col(right_col).alias("__dst")
            )
            .unionByName(
                pairs.select(
                    F.col(right_col).alias("__src"),
                    F.col(left_col).alias("__dst"),
                )
            )
            .distinct()
            .localCheckpoint()
        )
    labels = (
        edges.select(F.col("__src").alias("__id"))
        .distinct()
        .withColumn("__label", F.col("__id"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iters):
        neigh = (
            edges.join(labels, edges["__dst"] == labels["__id"])
            .groupBy("__src")
            .agg(F.min("__label").alias("__nlabel"))
        )
        stepped = (
            labels.join(neigh, labels["__id"] == neigh["__src"], "left")
            .select(
                F.col("__id"),
                F.col("__label").alias("__prev"),
                F.least(
                    F.col("__label"),
                    F.coalesce(F.col("__nlabel"), F.col("__label")),
                ).alias("__label"),
            )
            .localCheckpoint()
        )
        # Fixed point iff no label moved this round.  Counting CHANGES is
        # type-agnostic — a sum-of-labels probe silently breaks on string
        # ids (sum casts to NULL, and None == None on round 1 would
        # declare convergence before propagation finished).
        changed = stepped.where(F.col("__label") != F.col("__prev")).count()
        labels = stepped.select("__id", "__label")
        if changed == 0:
            converged = True
            break
    if not converged:
        # Labels advance one hop per round, so a component whose diameter
        # exceeds max_iters would silently keep >1 survivor — refuse to
        # return a non-converged (inconsistent) labeling.
        raise RuntimeError(
            f"near_dup_clusters: not converged after max_iters={max_iters} "
            "rounds (a component's diameter exceeds the budget); raise "
            "max_iters."
        )
    return labels.select(
        F.col("__id").alias("id"), F.col("__label").alias(cluster_col)
    )


def assign_near_dup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Every document labeled with its near-dup cluster id (its own id when
    it has no near-dup) — the pair graph is clustered first
    (``near_dup_clusters``), then left-joined back, so only paired ids pay
    the iteration.  The join back is deliberately unhinted: the cluster
    table is usually tiny (AQE broadcasts it from its runtime size) but is
    corpus-sized on a pathologically duplicated input, where a forced
    broadcast would OOM."""
    comp = near_dup_clusters(pairs, cluster_col=cluster_col)
    return docs.join(
        comp, docs[id_col] == comp["id"], "left"
    ).select(
        docs["*"],
        F.coalesce(F.col(cluster_col), docs[id_col]).alias(cluster_col),
    )


def dedup_keep_one_per_cluster(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Transitive near-dup dedup: one survivor (the minimum id) per
    connected component of the pair graph; documents without near-dups all
    survive."""
    assigned = assign_near_dup_clusters(docs, pairs, id_col, "__cluster")
    return assigned.where(F.col(id_col) == F.col("__cluster")).drop(
        "__cluster"
    )


# ───────────────────── incremental near-dup (append path) ──────────────────
def build_near_dup_store(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """Near-dup signature store for append-only corpora: one row per
    document — ``(id, bands array<struct<band,bkey>>, sh array<long>)``
    where ``bands`` are the LSH band keys and ``sh`` the hashed shingle
    set.

    The append-path complement of ``dedup_incremental`` (exact): persist
    this beside the corpus (bucketed by ``id_col``) and new batches
    near-dup-check against it WITHOUT re-reading or re-hashing old text.
    At 100 TB the store is ~8 bytes per distinct shingle — smaller than
    the text it summarizes — and band keys come from the shared
    ``band_structs``, so a store built with the same (k, bands, n) stays
    join-compatible with every future batch.
    """
    staged = widen_partitions(df).select(
        F.col(id_col),
        F.transform(
            word_shingles(text_col, n), lambda s: hash60(s) % MINHASH_PRIME
        ).alias("sh"),
    )
    return staged.select(
        F.col(id_col),
        band_structs_from_base("sh", k, bands).alias("bands"),
        "sh",
    )


def band_structs_from_base(base_col: str, k: int, bands: int) -> Column:
    """``band_structs`` taking the shingle-hash array directly (store
    path) instead of a precomputed signature column — delegates to the
    shared derivation so the two can never drift."""
    return band_structs(_minhash_from_base(F.col(base_col), k), k, bands)


def hashed_jaccard(a: Column, b: Column) -> Column:
    """Jaccard over hashed shingle sets (same up to md5 collisions as the
    string-shingle jaccard the batch operators verify with)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return inter.cast("double") / union.cast("double")


def minhash_dedup_incremental(
    new_df: DataFrame,
    store: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """Append-path near-dup dedup: drop rows of a NEW batch that are
    near-duplicates of the persisted ``build_near_dup_store`` corpus OR of
    a lower-id row in the same batch.  Returns the surviving new rows
    (callers append ``build_near_dup_store(survivors)`` to the store).

    Plan shape — everything keyed, nothing corpus-sized recomputed:

    1. batch signatures once (widened, materialization barrier);
    2. cross candidates: explode band keys on both sides, equi-join on
       (band, bkey) — the shuffle carries (id, band, bkey) triples only;
    3. batch-internal candidates: the standard LSH self-join;
    4. verify candidates with jaccard over hashed shingles (store rows
       carry their shingle hashes, so old TEXT is never touched);
    5. drop = store-matched ∪ greater-id of verified batch pairs.  The
       batch pair graph is evaluated in full (a doc dropped for matching
       the store still eliminates its batch partners — the transitive
       intent; for strict cluster semantics run the batch remainder
       through ``dedup_keep_one_per_cluster``).
    """
    batch = build_near_dup_store(new_df, id_col, text_col, k, bands, n)
    batch = batch.repartition(
        batch.sparkSession.sparkContext.defaultParallelism
    )
    b_bands = batch.select(
        F.col(id_col).alias("__bid"), F.explode("bands").alias("b")
    ).select("__bid", "b.band", "b.bkey")
    s_bands = store.select(
        F.col(id_col).alias("__sid"), F.explode("bands").alias("b")
    ).select("__sid", "b.band", "b.bkey")
    # __bid != __sid: a store row with the SAME id is the same document
    # (ids are globally unique across batches — they are the dedup
    # survivor key), not a near-duplicate.  This also makes sink retries
    # safe: a batch replayed after its signatures were stored must not
    # drop its own docs via jaccard-1.0 self-matches.
    cross_cand = (
        b_bands.join(s_bands, ["band", "bkey"])
        .where(F.col("__bid") != F.col("__sid"))
        .select("__bid", "__sid")
        .distinct()
    )
    b_sh = batch.select(F.col(id_col).alias("__bid"), F.col("sh").alias("__bsh"))
    s_sh = store.select(F.col(id_col).alias("__sid"), F.col("sh").alias("__ssh"))
    cross_hits = (
        cross_cand.join(b_sh, "__bid")
        .join(s_sh, "__sid")
        .where(
            F.round(hashed_jaccard(F.col("__bsh"), F.col("__ssh")), 6)
            >= threshold
        )
        .select(F.col("__bid").alias(id_col))
        .distinct()
    )
    within_cand = (
        b_bands.alias("l")
        .join(
            b_bands.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bkey") == F.col("r.bkey"))
            & (F.col("l.__bid") < F.col("r.__bid")),
        )
        .select(
            F.col("l.__bid").alias("__lid"), F.col("r.__bid").alias("__rid")
        )
        .distinct()
    )
    within_hits = (
        within_cand.join(
            b_sh.select(
                F.col("__bid").alias("__lid"), F.col("__bsh").alias("__lsh")
            ),
            "__lid",
        )
        .join(
            b_sh.select(
                F.col("__bid").alias("__rid"), F.col("__bsh").alias("__rsh")
            ),
            "__rid",
        )
        .where(
            F.round(hashed_jaccard(F.col("__lsh"), F.col("__rsh")), 6)
            >= threshold
        )
        .select(F.col("__rid").alias(id_col))
        .distinct()
    )
    losers = cross_hits.unionByName(within_hits).distinct()
    # Loser set sizing mirrors curation: usually tiny → AQE broadcasts it
    # from runtime stats; pathologically duplicated batches stay correct.
    return new_df.join(losers, id_col, "left_anti")
