"""SemDeDup: semantic deduplication by embedding clustering.

Cluster the corpus over its embedding column, then within each cluster
remove every example whose cosine similarity to ANY earlier-ranked
example of the same cluster is ``>= eps``.  Ranking is
similarity-to-centroid ASCENDING (keep the examples FARTHEST from the
centroid — the keep rule Abbas et al. 2023, arXiv:2303.09540, found
best), tie-broken by id.  The "exists any earlier" rule matches the
published implementation (an upper-triangular max over the sorted
within-cluster similarity matrix) and — unlike greedy sequential
filtering — is order-independent, so it parallelizes without a chain
of data dependencies.

Scale design: clustering is what bounds the quadratic.  The
within-cluster scan is O(Σ c_i² · d) flops, so ``n_clusters`` is the
knob that caps cluster size c_i (the paper runs ~50k clusters at
corpus scale; cluster count should grow linearly with the corpus so
c_i stays roughly constant).  Each cluster is scanned by ONE Arrow
``applyInPandas`` task — a blocked numpy matmul with memory
O(c·d + block·c), never a materialized pair list and never a
candidate-pair shuffle — and clusters are the unit of parallelism.
``max_cluster_rows`` raises with a re-clustering hint instead of
letting a degenerate clustering OOM an executor.

Reference: n/a — the 566-LoC reference has no embedding operators;
this is the brief's training-data axis (SemDeDup / SemDeDup-style
embedding pruning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from jurimetria_etl_spark.operators.dedup import widen_partitions
from jurimetria_etl_spark.operators.similarity import (
    _nearest_cells,
    cosine_sim,
    seed_centroids,
    train_ivf_centroids,
)


def cluster_means(
    embeddings: DataFrame,
    cluster_col: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster elementwise mean vector: ``(cluster_col, centroid)``.

    Plan: posexplode to (cluster, position, component) triples — three
    narrow columns, map-side partial averages — one shuffle keyed by
    (cluster, position), then the per-cluster reassembly sorts a
    position-tagged struct list (collect_list order is undefined;
    array_sort makes it deterministic).  Output is n_clusters rows.
    """
    return (
        embeddings.select(
            cluster_col, F.posexplode(F.col(vec_col)).alias("__pos", "__v")
        )
        .groupBy(cluster_col, "__pos")
        .agg(F.avg("__v").alias("__m"))
        .groupBy(cluster_col)
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("__pos", "__m"))
                ),
                lambda s: s["__m"],
            ).alias("centroid")
        )
    )


def _assign_arrow(
    vec_col: str,
    centroids: list[tuple[int, list[float]]],
):
    """Arrow-batched nearest-centroid assignment: one scalar
    ``pandas_udf`` returning struct(cid, s) — a blocked numpy matmul
    per Arrow batch.  Mirrors ``_nearest_cells`` exactly (round 1e-9,
    ties to the HIGHER cid) so the two assignment modes are
    output-identical; the JVM fold is interpreted per element, so at
    n_clusters × dim beyond a few thousand the matmul wins the same way
    ``cosine_topk_pandas`` beats ``cosine_topk`` on wide vectors."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    C = np.array([c for _, c in centroids], dtype=np.float64)
    cids = np.array([cid for cid, _ in centroids], dtype=np.int64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1), 1e-300)[:, None]

    def assign(vecs):
        X = np.array(vecs.tolist(), dtype=np.float64)
        Xn = X / np.maximum(np.linalg.norm(X, axis=1), 1e-300)[:, None]
        S = np.round(Xn @ Cn.T, 9)
        # max sim, ties to higher cid: scan columns in cid order and
        # keep >= (centroids arrive cid-ascending from the trainer)
        order = np.argsort(cids, kind="stable")
        best_s = np.full(len(X), -np.inf)
        best_c = np.zeros(len(X), dtype=np.int64)
        for j in order:
            sj = S[:, j]
            upd = sj >= best_s
            best_s[upd] = sj[upd]
            best_c[upd] = cids[j]
        return pd.DataFrame({"cid": best_c.astype("int32"), "s": best_s})

    assign.__annotations__ = {"vecs": pd.Series, "return": pd.DataFrame}
    return pandas_udf(assign, "cid int, s double")(F.col(vec_col))


def _scan_kernel(
    id_col: str,
    cluster_col: str,
    vec_col: str,
    max_cluster_rows: int,
    block: int,
):
    """Per-cluster blocked upper-triangular max-similarity scan.

    Rows arrive pre-ranked; for row i the output is
    max_{j: rank_j < rank_i} cos(x_i, x_j), NaN (→ NULL) for the
    cluster's first row.  Blocked matmul keeps memory at
    O(c·d + block·c) regardless of cluster size.
    """
    import numpy as np
    import pandas as pd

    def scan(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n = len(pdf)
        if n > max_cluster_rows:
            raise ValueError(
                f"semdedup: cluster {pdf[cluster_col].iloc[0]!r} has {n} "
                f"rows > max_cluster_rows={max_cluster_rows} — raise "
                "n_clusters (cluster count should scale with the corpus "
                "so per-cluster size stays bounded) or max_cluster_rows"
            )
        pdf = pdf.sort_values("sem_rank").reset_index(drop=True)
        X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        nrm = np.linalg.norm(X, axis=1)
        nrm[nrm == 0.0] = 1.0
        Xn = X / nrm[:, None]
        mx = np.full(n, np.nan)
        for s in range(1, n, block):
            e = min(s + block, n)
            sims = Xn[s:e] @ Xn[:e].T
            for i in range(s, e):
                mx[i] = sims[i - s, :i].max()
        return pdf[[id_col, cluster_col, "sem_rank"]].assign(
            max_prior_sim=mx
        )

    return scan


def semdedup_flags(
    embeddings: DataFrame,
    eps: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str | None = None,
    n_clusters: int = 16,
    train_iters: int = 0,
    centroids: list[tuple[int, list[float]]] | None = None,
    max_cluster_rows: int = 200_000,
    block: int = 1024,
) -> DataFrame:
    """Cluster + rank + within-cluster prior-similarity scan.

    Returns ``(id_col, sem_cluster, sem_rank, max_prior_sim, sem_kept)``
    — one row per input row.  ``sem_kept`` is the SemDeDup verdict:
    NULL ``max_prior_sim`` (the cluster's farthest-from-centroid row)
    or ``max_prior_sim < eps``.

    Two clustering modes:

    * ``cluster_col=None`` (production): k-means cells.  Pass trained
      ``centroids`` (persist them as a layout artifact — float means
      are partial-sum-order dependent, see ``train_ivf_centroids``),
      or set ``train_iters>0`` to train here; default 0 uses the
      deterministic lowest-id seed assignment.  The centroid matrix is
      a literal, so assignment AND the centroid-similarity rank key
      are one narrow map — no join, no shuffle beyond the rank window.
      The scoring kernel is the pure-JVM Catalyst fold (zero python
      nodes) below 64 centroids and the output-identical batched numpy
      matmul from 64 on, where the per-element interpreted fold loses
      (``_assign_cells``).
    * ``cluster_col='label'`` (given clustering): centroids are the
      per-cluster mean vectors, broadcast-joined back (n_clusters
      rows).

    The rank window shuffles once on the cluster key; the scan reuses
    that partitioning (groupBy on the same key).
    """
    embeddings = widen_partitions(embeddings)
    if cluster_col is None:
        if centroids is None and train_iters > 0:
            centroids = train_ivf_centroids(
                embeddings, n_clusters, train_iters, id_col, vec_col
            )
        if centroids is None:
            centroids = seed_centroids(embeddings, n_clusters, id_col, vec_col)
        ranked_in = _assign_cells(embeddings, centroids, vec_col)
    else:
        cents = cluster_means(embeddings, cluster_col, vec_col)
        ranked_in = (
            embeddings.join(F.broadcast(cents), cluster_col)
            .withColumn(
                "__csim", cosine_sim(F.col(vec_col), F.col("centroid"))
            )
            .withColumnRenamed(cluster_col, "sem_cluster")
            .drop("centroid")
        )
    w = Window.partitionBy("sem_cluster").orderBy(
        F.col("__csim").asc(), F.col(id_col).asc()
    )
    ranked = ranked_in.select(
        id_col, "sem_cluster", vec_col, F.row_number().over(w).alias("sem_rank")
    )
    id_type = embeddings.schema[id_col].dataType.simpleString()
    cl_type = (
        "int"
        if cluster_col is None
        else embeddings.schema[cluster_col].dataType.simpleString()
    )
    out_schema = (
        f"{id_col} {id_type}, sem_cluster {cl_type}, "
        "sem_rank int, max_prior_sim double"
    )
    flags = ranked.groupBy("sem_cluster").applyInPandas(
        _scan_kernel(id_col, "sem_cluster", vec_col, max_cluster_rows, block),
        schema=out_schema,
    )
    return flags.withColumn(
        "sem_kept",
        F.col("max_prior_sim").isNull() | (F.col("max_prior_sim") < F.lit(eps)),
    )


def semdedup(
    embeddings: DataFrame,
    eps: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **kwargs,
) -> DataFrame:
    """SemDeDup survivors: the input rows whose ``sem_kept`` verdict is
    true.  Flags carry only (id, cluster, rank, sim) — 28-byte rows —
    so the survivor join streams the corpus against a frame that is
    strictly smaller than it; AQE picks broadcast when the survivor
    side fits."""
    flags = semdedup_flags(
        embeddings, eps, id_col=id_col, vec_col=vec_col, **kwargs
    )
    keep = flags.filter(F.col("sem_kept")).select(id_col)
    return embeddings.join(keep, id_col, "left_semi")


# ── incremental (cross-batch) form ─────────────────────────────────────────


def _assign_cells(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str,
) -> DataFrame:
    """Attach ``sem_cluster`` + ``__csim`` (shared by the batch and
    incremental paths and the ANN store's writers).  The kernel follows
    the centroid count: the JVM fold below 64 centroids, the Arrow
    matmul from 64 on — output-identical, ties included."""
    scored = (
        _assign_arrow(vec_col, centroids)
        if len(centroids) >= 64
        else _nearest_cells(F.col(vec_col), centroids, 1)[0]
    )
    return (
        embeddings.withColumn("__sc", scored)
        .select(
            "*",
            F.col("__sc")["cid"].alias("sem_cluster"),
            F.col("__sc")["s"].alias("__csim"),
        )
        .drop("__sc")
    )


def _inc_scan_kernel(
    id_col: str,
    vec_col: str,
    max_cluster_rows: int,
    block: int,
):
    """Per-cell incremental scan: batch rows (pre-ranked) against ALL
    stored rows of the cell plus earlier-ranked batch rows."""
    import numpy as np
    import pandas as pd

    def scan(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if len(pdf) > max_cluster_rows:
            raise ValueError(
                f"semdedup_incremental: cell {pdf['sem_cluster'].iloc[0]!r} "
                f"holds {len(pdf)} rows > max_cluster_rows="
                f"{max_cluster_rows} — raise n_clusters/max_cluster_rows"
            )
        st = pdf[pdf["__stored"]]
        bt = (
            pdf[~pdf["__stored"]]
            .sort_values("sem_rank")
            .reset_index(drop=True)
        )
        nb = len(bt)
        if nb == 0:
            return bt[[id_col, "sem_cluster", "sem_rank"]].assign(
                max_prior_sim=pd.Series(dtype="float64")
            )
        Xb = np.array(bt[vec_col].tolist(), dtype=np.float64)
        nrm = np.maximum(np.linalg.norm(Xb, axis=1), 1e-300)
        Xb = Xb / nrm[:, None]
        mx = np.full(nb, np.nan)
        if len(st):
            Xs = np.array(st[vec_col].tolist(), dtype=np.float64)
            Xs = Xs / np.maximum(np.linalg.norm(Xs, axis=1), 1e-300)[:, None]
            st_ids = st[id_col].to_numpy()
            b_ids = bt[id_col].to_numpy()
            for s in range(0, nb, block):
                e = min(s + block, nb)
                sims = Xb[s:e] @ Xs.T
                # a replayed doc must not be dropped by its own stored
                # row (the minhash store's same-id exclusion — the
                # at-least-once retry invariant depends on it)
                for i in range(s, e):
                    sims[i - s, st_ids == b_ids[i]] = -np.inf
                blk = sims.max(axis=1)
                blk[np.isneginf(blk)] = np.nan
                mx[s:e] = blk
        for s in range(1, nb, block):
            e = min(s + block, nb)
            sims = Xb[s:e] @ Xb[:e].T
            for i in range(s, e):
                prior = sims[i - s, :i].max() if i else np.nan
                cur = mx[i]
                mx[i] = (
                    prior
                    if np.isnan(cur)
                    else (cur if np.isnan(prior) else max(cur, prior))
                )
        return bt[[id_col, "sem_cluster", "sem_rank"]].assign(
            max_prior_sim=mx
        )

    return scan


def semdedup_incremental(
    batch: DataFrame,
    store: DataFrame,
    centroids: list[tuple[int, list[float]]],
    eps: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_rows: int = 200_000,
    block: int = 1024,
) -> DataFrame:
    """Cross-batch SemDeDup: the batch rows kept against the persisted
    store AND each other.  A batch row is dropped iff cosine >= ``eps``
    to any stored vector in its cell or to any earlier-ranked batch row
    of the same cell (same centroid-similarity-ascending rank as the
    batch form — with an empty store this is exactly ``semdedup``,
    pinned in tests).  Streaming semantics match the minhash store:
    arrival order is authoritative across batches (a kept vector kills
    its future near-dups), rank order within a batch; same-id store
    matches are EXCLUDED, so a replayed doc is never dropped by its own
    stored row (the at-least-once retry invariant the streaming
    curation's append ordering depends on).

    ``store`` holds ``(ivf_cell, id, vector)`` rows: the IVF ANN store
    layout (operators/ann_store.py), written by ``append_ann_store``
    under the same ``centroids``.  Replayed duplicate rows need no fold
    here: the scan takes a max over a cell's stored rows.

    Plan: assign the batch (narrow map), rank it (one window), collect
    the batch's cell set (one bounded action — ≤ len(centroids) ints),
    read the store's matching cells through a literal ``ivf_cell``
    ``isin`` (a partition filter by construction on the cell-partitioned
    layout, as in the ANN store's probes), one per-cell Arrow
    scan.  Only cells the batch touches are ever read or scanned."""
    b = _assign_cells(widen_partitions(batch), centroids, vec_col)
    w = Window.partitionBy("sem_cluster").orderBy(
        F.col("__csim").asc(), F.col(id_col).asc()
    )
    b = b.select(
        F.col(id_col),
        "sem_cluster",
        F.col(vec_col),
        F.row_number().over(w).alias("sem_rank"),
        F.lit(False).alias("__stored"),
    )
    # prune the store to the batch's cells before the union — at 100 TB
    # the store is corpus-sized and a batch touches few cells
    batch_cells = sorted(
        int(r["sem_cluster"])
        for r in b.select("sem_cluster").distinct().collect()
    )
    st = store.where(F.col("ivf_cell").isin(batch_cells)).select(
        F.col(id_col),
        F.col("ivf_cell").alias("sem_cluster"),
        F.col(vec_col),
        F.lit(None).cast("int").alias("sem_rank"),
        F.lit(True).alias("__stored"),
    )
    id_type = batch.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_type}, sem_cluster int, "
        "sem_rank int, max_prior_sim double"
    )
    flags = (
        b.unionByName(st)
        .groupBy("sem_cluster")
        .applyInPandas(
            _inc_scan_kernel(id_col, vec_col, max_cluster_rows, block),
            schema=out_schema,
        )
        .withColumn(
            "sem_kept",
            F.col("max_prior_sim").isNull()
            | (F.col("max_prior_sim") < F.lit(eps)),
        )
    )
    keep = flags.filter(F.col("sem_kept")).select(id_col)
    return batch.join(keep, id_col, "left_semi")
