"""Layout maintenance: small-file compaction for append-heavy parquet dirs.

The streaming curation path (streaming/curation.py) and any foreachBatch
append sink write one file set PER MICRO-BATCH — after a day of 1-minute
triggers a table holds thousands of KB-sized files, and every downstream
scan pays file-open + footer + task-schedule cost per file (the classic
small-files problem; at 100 TB it is the difference between a listing
that takes seconds and one that takes hours).

``compact_parquet`` rewrites a directory into ~``target_file_bytes``
files: size the output file count from the CURRENT bytes on disk, rewrite
via one round-robin repartition (or per-partition for hive layouts), then
swap directories.  The swap is two renames — NOT atomic: a reader racing
the swap can see a missing directory.  For stores with concurrent
readers, use the MANIFESTED-STORE api below instead: every new version
goes through ``storefs.publish_generation`` (a fresh
``<store>/_versions/<hex>/`` dir, verified, then named by the
``<store>/_MANIFEST`` publish — atomic per the target table in
``storefs``'s docstring), and old version directories are retained until
an explicit ``store_prune`` — a reader that resolved the previous
version keeps a fully-intact directory for as long as the pruning grace
lasts.  The underscore prefixes mean Spark's file listing ignores the
internals, so a legacy plain-directory reader pointed at the store root
still sees exactly the legacy root files.

Compaction never deletes data it has not verified: the rewritten tree's
row count must equal the source's or the swap is abandoned (original
kept, report says so).

What this does NOT solve: coordination with concurrent WRITERS.  An
appender that resolved the current version, then raced a compaction and
a prune, appends into a directory the prune deletes.  Bare
parquet-on-filesystem has no transaction log; run compaction+prune in
the writer's maintenance window (streaming/curation.py appends re-resolve
per micro-batch, so between-batch compaction is safe and prune needs one
retained generation of grace), or adopt a transactional table format.
Correctness (row multiset identical, partition layout preserved, pruning
still effective, manifest atomicity under a racing reader) is
value-tested in tests/test_maintenance.py.
"""

from __future__ import annotations

import math
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from jurimetria_etl_spark import storefs
from jurimetria_etl_spark.storefs import (
    _VERSIONS,
    dir_stats,
    publish_generation,
    store_data_dir,
    store_prune,
)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_cols: list[str] | None = None,
    min_files_to_compact: int = 2,
) -> dict:
    """Rewrite ``path`` into ≈``target_file_bytes`` parquet files.

    Unpartitioned: one round-robin repartition to
    ``ceil(total_bytes / target)`` files.  Hive-partitioned (pass the
    ``partition_cols``): repartition on the partition columns so each
    output task writes whole partitions (files per hive dir ≈ dirs'
    share), preserving the directory layout and its pruning.

    Returns a report dict {files_before, files_after, bytes, skipped}.
    No-ops (skipped=True) when the dir already has fewer than
    ``min_files_to_compact`` files — compaction must be idempotent-cheap
    so a scheduler can run it blindly.
    """
    files_before, total = dir_stats(path)
    if files_before < min_files_to_compact:
        return {
            "files_before": files_before,
            "files_after": files_before,
            "bytes": total,
            "skipped": True,
        }
    n_out = max(1, math.ceil(total / target_file_bytes))
    df: DataFrame = spark.read.parquet(path)
    tmp = f"{path.rstrip('/')}__compact_{uuid.uuid4().hex[:8]}"
    _rewrite(df, tmp, n_out, partition_cols)
    # Verify BEFORE destroying anything: a silently short rewrite (lost
    # task output, truncated write) must abandon the swap, not delete the
    # only good copy.  Row count is the cheap sufficient check here — the
    # rewrite is a pure repartition, so any loss shows up as a count
    # mismatch.
    src_rows = _rows_in(spark, path)
    new_rows = _rows_in(spark, tmp)
    if new_rows != src_rows:
        storefs.remove(tmp)
        return {
            "files_before": files_before,
            "files_after": files_before,
            "bytes": total,
            "skipped": True,
            "verified": False,
            "reason": f"rewrite rows {new_rows} != source rows {src_rows}",
        }
    old = f"{path.rstrip('/')}__old_{uuid.uuid4().hex[:8]}"
    storefs.rename(path, old)
    storefs.rename(tmp, path)
    storefs.remove(old)
    files_after, _ = dir_stats(path)
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes": total,
        "skipped": False,
        "verified": True,
    }


def _rewrite(
    df: DataFrame, out: str, n_out: int, partition_cols: list[str] | None
) -> None:
    if partition_cols:
        (
            df.repartition(n_out, *partition_cols)
            .write.mode("overwrite")
            .partitionBy(*partition_cols)
            .parquet(out)
        )
    else:
        df.repartition(n_out).write.mode("overwrite").parquet(out)


def _rows_in(spark: SparkSession, path: str) -> int:
    """Row count of a parquet tree (parquet metadata count — no data scan)."""
    return spark.read.parquet(path).count()


# ───────────────────── manifested store (atomic swap) ──────────────────────


def require_cell_partitioned(data_dir: str, partition_col: str, op: str) -> None:
    """Refuse to mix a hive-partitioned write into a legacy FLAT store
    (r14 ADVICE): appending ``partition_col=…`` directories next to flat
    parquet files succeeds at write time but produces a tree Spark's
    parquet reader rejects — the corruption lands silently and the
    failure surfaces later in an unrelated-looking read, where
    at-least-once replay can't repair it.  Called BEFORE the first
    partitioned append so the migration error is caught while the store
    is still intact.  A missing or empty data dir (fresh store) passes;
    a dir holding only ``partition_col=…`` subdirs passes."""
    entries = storefs.listing(data_dir)
    flat = [
        name
        for name, is_dir, _ in entries
        if name.endswith(".parquet") and not is_dir
    ]
    if flat:
        raise ValueError(
            f"{op}: store data dir {data_dir!r} holds flat parquet files "
            f"(legacy pre-partitioned layout) — appending "
            f"{partition_col}=… hive directories next to them would "
            "corrupt the tree (mixed layouts don't read); run "
            f"compact_store(store, partition_cols=[{partition_col!r}], "
            "min_files_to_compact=1) once to upgrade (the explicit "
            "min_files matters: a single-file store would otherwise be "
            "skipped as already-compact)"
        )
    # a store hive-partitioned by a DIFFERENT column is just as
    # corruptible: the appended {partition_col}= dirs would land next to
    # the foreign ones and the mixed tree fails the same way (e.g. a
    # wrongly-aimed store dir, or a previous-generation
    # sem_cluster-partitioned SemDeDup store)
    foreign = sorted(_partition_cols(entries) - {partition_col})
    if foreign:
        raise ValueError(
            f"{op}: store data dir {data_dir!r} is hive-partitioned by "
            f"{foreign} — not by {partition_col!r}; this is a different "
            "store layout (wrong store dir?), and appending "
            f"{partition_col}=… directories next to it would corrupt "
            "the tree"
        )


def compact_store(
    spark: SparkSession,
    store: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_cols: list[str] | None = None,
    min_files_to_compact: int = 2,
) -> dict:
    """Reader-safe compaction: rewrite the store's current data into a NEW
    version directory, verify the row count, then atomically publish it.
    The previous data (old version dir, or the legacy root files when
    upgrading a plain directory) is RETAINED so any reader that resolved
    it mid-compaction keeps an intact directory; reclaim space later with
    ``store_prune`` once in-flight readers have drained.

    Works on both layouts: a plain append directory is upgraded to a
    manifested store on first compaction (legacy root files stay behind
    for legacy readers until pruned — Spark ignores the ``_``-prefixed
    internals, so those readers see exactly what they saw before the
    upgrade).

    A partitioned rewrite writes one file per partition, so a store
    already in the ``partition_cols`` layout with no partition holding
    more than one file is compact whatever its file count (a
    cell-partitioned store holds at least one file per cell)."""
    src = store_data_dir(store)
    files = [(rel, n) for rel, n in storefs.walk(src) if rel.endswith(".parquet")]
    files_before, total = len(files), sum(n for _, n in files)
    if files_before < min_files_to_compact or (
        partition_cols
        and _one_file_per_partition([rel for rel, _ in files], partition_cols)
    ):
        return {
            "files_before": files_before,
            "files_after": files_before,
            "bytes": total,
            "skipped": True,
        }
    n_out = max(1, math.ceil(total / target_file_bytes))
    gen = publish_generation(
        spark,
        store,
        src,
        lambda vdir: _rewrite(spark.read.parquet(src), vdir, n_out, partition_cols),
        _rows_in(spark, src),
    )
    files_after = (
        dir_stats(os.path.join(store, _VERSIONS, gen["version"]))[0]
        if gen["verified"]
        else files_before
    )
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes": total,
        **gen,
    }


def _one_file_per_partition(files: list[str], partition_cols: list[str]) -> bool:
    """Every data file (path relative to the data dir) sits alone in a
    ``col=value`` directory chain naming exactly ``partition_cols``."""
    dirs = [os.path.dirname(rel) for rel in files]
    return len(set(dirs)) == len(dirs) and all(
        [part.split("=", 1)[0] for part in d.split("/")] == list(partition_cols)
        for d in dirs
    )


def _infer_partition_cols(data_dir: str) -> list[str] | None:
    """Infer a single-level hive partition column from the directory
    layout (``col=value`` subdirectories) so a maintenance rewrite
    PRESERVES it — compacting a cell-partitioned store (the ANN store
    layout) flat would silently destroy every consumer's partition
    pruning (r14).  Only the repo's store layouts are in scope: one
    partition level, one column."""
    cols = _partition_cols(storefs.listing(data_dir))
    return sorted(cols) if len(cols) == 1 else None


def _partition_cols(entries: list[tuple[str, bool, int]]) -> set[str]:
    """Hive partition columns named by a ``storefs.listing``'s visible
    ``col=value`` directories."""
    return {
        name.split("=", 1)[0]
        for name, is_dir, _ in entries
        if is_dir and "=" in name and not name.startswith(("_", "."))
    }


def maintain_stores(
    spark: SparkSession,
    stores: list[str],
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files_to_compact: int = 2,
    prune_previous: bool = True,
) -> dict[str, dict]:
    """One maintenance-window pass over a set of append stores (the
    streaming-curation corpus + fp/sig/span stores): reader-safe
    ``compact_store`` each, then — when ``prune_previous`` — reclaim the
    generations left by the PREVIOUS pass.  Prune-before-compact order
    gives every generation one full maintenance interval of reader
    grace: a reader that resolved generation N keeps it intact until the
    N+2 pass.  Returns per-store reports (compaction report plus a
    ``pruned`` count).

    Text-index stores piggyback their stop-list refresh on this window
    (r11 verdict task 4): when a ``.../postings`` store's index has a
    published ``stop_list/_STOPLIST.json``, the list is re-materialized
    at its RECORDED ratio + strict_stats flavor — the staleness
    contract (operators/search.py ``materialize_stop_list``: appends
    can push terms over the ratio until the next materialization) is
    enforced by the maintenance entry point instead of operator memory.
    The refresh report rides the postings store's entry under
    ``stop_list``."""
    from jurimetria_etl_spark.operators.search import (
        materialize_stop_list,
        read_stop_list_meta,
    )

    reports: dict[str, dict] = {}
    for store in stores:
        pruned = store_prune(store) if prune_previous else []
        # preserve a hive layout through the rewrite: cell-partitioned
        # (ANN) stores passed through this generic pass must keep their
        # partition pruning
        data_dir = store_data_dir(store)
        part_cols = _infer_partition_cols(data_dir)
        upgraded = False
        min_files = min_files_to_compact
        if part_cols is None:
            # opportunistic legacy-layout upgrade (r14 verdict task 5):
            # a FLAT store whose rows carry the cell column (the pre-r14
            # ANN layout) is re-written cell-partitioned here, so
            # split_cell and the partition-pruned probes work without
            # the operator telling the caller to run
            # compact_store(partition_cols=…) by hand.  One parquet
            # footer sniff — no Spark job — and the upgrade compacts
            # even a single-file store (the rewrite's purpose is the
            # layout, not the file count).
            sniffed = storefs.parquet_columns(data_dir)
            if sniffed is not None and "ivf_cell" in sniffed:
                part_cols = ["ivf_cell"]
                upgraded = True
                min_files = 1
        report = compact_store(
            spark,
            store,
            target_file_bytes=target_file_bytes,
            partition_cols=part_cols,
            min_files_to_compact=min_files,
        )
        if upgraded and not report.get("skipped"):
            report["layout_upgraded"] = part_cols[0]
        report["pruned"] = len(pruned)
        index_dir, name = os.path.split(store.rstrip("/"))
        meta = read_stop_list_meta(index_dir) if name == "postings" else None
        if meta is not None:
            report["stop_list"] = materialize_stop_list(
                spark,
                index_dir,
                max_df_ratio=float(meta["max_df_ratio"]),
                strict_stats=bool(meta.get("strict_stats", False)),
            )
        reports[store] = report
    return reports


def recluster_ann_store(
    spark: SparkSession,
    store: str,
    new_centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Re-cluster a persisted IVF ANN store onto a NEW centroid set — the
    maintenance remedy ``operators/ann_store.py``'s generation contract
    promises (``_check_generation`` refuses mismatched appends and points
    here; without this, a drifted store has only manual surgery).

    Reads the current generation's ``(ivf_cell, id, vector)`` rows, folds
    replayed appends (``load_ann_store``'s ``(ivf_cell, id)`` dedup — a
    recluster is also a compaction of the replay log), re-assigns each
    vector to its nearest NEW centroid with the writer's own kernel
    (``build_ann_store``), writes the re-assigned rows AND the new
    ``_CENTROIDS.json`` into a fresh version directory partitioned by
    ``ivf_cell`` (probes keep partition-pruned cell reads), verifies
    the row count against the folded source, atomically publishes the
    manifest, then refreshes the store-root ``_CENTROIDS.json`` copy
    for legacy readers and plain-directory back-compat.

    A QUANTIZED store (``q``/``q_scale`` columns) stays quantized: the
    stored int8 codes are per-vector and independent of the cell layout,
    so re-clustering re-assigns cells from the dequantized values and
    carries the original codes through unchanged — zero re-quantization
    error.

    Geometry swaps WITH the data (r11 verdict task 5): the new
    centroids are embedded in the new version directory BEFORE the
    manifest publish, and ``resolve_ann_store`` reads a generation's
    embedded sidecar through the same manifest read that names its
    data dir — so a probe racing this swap sees either (old data, old
    centroids) or (new data, new centroids), never a mix.  The
    store-root copy refreshed after the publish is a back-compat
    fallback only.  Still run inside the maintenance window for
    WRITER coordination (an append that resolved the old generation's
    path lands in a directory the manifest no longer names — bare
    parquet has no transaction log); readers that resolved the OLD
    version keep an intact directory until ``store_prune``.

    The row SET is intentionally unchanged: what was indexed stays
    indexed; re-clustering rebalances the cells probes scan against.
    Derive the new set from the store's own vectors with
    ``similarity.train_ivf_centroids`` (e.g. ``n_clusters = rows //
    target_occupancy`` — the scaled-cells rule SCALE.md measures),
    and hand ``read_ann_centroids(store)`` to every later append or
    ``semdedup_incremental`` batch."""
    from pyspark.sql import functions as F

    from jurimetria_etl_spark.operators.ann_store import write_ann_centroids
    from jurimetria_etl_spark.operators.semdedup import _assign_cells
    from jurimetria_etl_spark.operators.similarity import (
        dequantize_embeddings_int8,
    )

    src = store_data_dir(store)
    cur = spark.read.parquet(src)
    if "ivf_cell" not in cur.columns or id_col not in cur.columns:
        raise ValueError(
            f"recluster_ann_store: store at {src!r} has no "
            f"(ivf_cell, {id_col}) columns — not an ann store?"
        )
    quantized = "q" in cur.columns and vec_col not in cur.columns
    # Fold the replay log FIRST (the load-time dedup, made durable here):
    # the rewrite's row count is then checked against the folded count,
    # not the raw append count.
    folded = cur.dropDuplicates(["ivf_cell", id_col]).drop("ivf_cell")
    if quantized:
        work = dequantize_embeddings_int8(folded, vec_col=vec_col)
    elif vec_col not in cur.columns:
        raise ValueError(
            f"recluster_ann_store: store at {src!r} has neither "
            f"{vec_col!r} nor quantized (q, q_scale) columns"
        )
    else:
        work = folded
    # One narrow map end-to-end: assign the new cell on the same row the
    # payload lives on (no join-back), carrying the ORIGINAL int8 codes
    # through on a quantized store — re-assignment only moves rows between
    # cells, it never touches the payload.
    payload = ["q", "q_scale"] if quantized else [vec_col]
    reassigned = _assign_cells(work, new_centroids, vec_col).select(
        F.col("sem_cluster").alias("ivf_cell"), id_col, *payload
    )
    _, total = dir_stats(src)
    n_out = max(1, math.ceil(total / target_file_bytes))

    def write(vdir: str) -> None:
        _rewrite(reassigned, vdir, n_out, ["ivf_cell"])
        # the generation's geometry rides INSIDE its version dir: the
        # manifest publish flips data+centroids atomically for
        # resolve_ann_store readers
        write_ann_centroids(vdir, new_centroids, quantize=quantized)

    gen = publish_generation(
        spark, store, src, write, folded.count(), "folded source rows"
    )
    if not gen["verified"]:
        return gen
    # legacy-root fallback copy, posture included
    write_ann_centroids(store, new_centroids, quantize=quantized)
    return {**gen, "n_cells": len(new_centroids), "quantized": quantized}


def split_cell(
    spark: SparkSession,
    store: str,
    cell_id: int,
    k: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_iters: int = 5,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Targeted IVF cell split: re-Lloyd ONLY the hot cell's vectors
    into ``k`` sub-cells and publish the result as a new generation —
    the bounded remedy for single-cell occupancy drift (embedding
    drift concentrating appends in one cell) that previously required
    ``recluster_ann_store``'s full-store rewrite (r13 verdict task 5).

    Cost is proportional to the HOT CELL, not the store: every other
    cell's partition is HARDLINKED into the new version directory
    (same-filesystem inode shares — no data movement), only the split
    cell's rows are read (partition-pruned scan), k-means-ed
    (``similarity.train_ivf_centroids`` on just those vectors,
    dequantized when the store is quantized), re-assigned among the k
    NEW sub-centroids, and rewritten.  The split cell's replay
    duplicates are folded while we're here (``load_ann_store``'s
    ``(ivf_cell, id)`` dedup made durable for that cell); other cells'
    files are byte-identical.  A FLAT store is refused before anything
    is read (its files mix cells, so nothing can be hardlinked); the
    error names the ``compact_store`` upgrade, and ``maintain_ann_store``
    / ``maintain_stores`` run it for you.

    Geometry: the new centroid set drops ``cell_id`` and appends the k
    sub-centroids under FRESH ids (max existing id + 1..k) — occupancy
    probes see the split explicitly, and no partition directory is
    ever reused across meanings.  Assignment among ONLY the k
    sub-centroids is a restricted Voronoi refinement: rows stay inside
    the old cell's region, so a probe that ranked the old cell now
    ranks its sub-cells by the same geometry (the sub-centroids live
    inside the old cell's region) — global re-optimality across ALL
    cells remains ``recluster_ann_store``'s job.  Publish order matches
    it: rows verified against the expected count, new ``_CENTROIDS``
    embedded in the version dir BEFORE the manifest swap, store-root
    copy refreshed after (legacy fallback).  Run in the maintenance
    window for writer coordination, same as every swap here."""
    from pyspark.sql import functions as F

    from jurimetria_etl_spark.operators.ann_store import (
        resolve_ann_store,
        write_ann_centroids,
    )
    from jurimetria_etl_spark.operators.semdedup import _assign_cells
    from jurimetria_etl_spark.operators.similarity import (
        dequantize_embeddings_int8,
        train_ivf_centroids,
    )

    if k < 2:
        raise ValueError(f"split_cell: k={k} — a split needs k >= 2")
    src, centroids = resolve_ann_store(store)
    by_id = dict(centroids)
    if int(cell_id) not in by_id:
        raise ValueError(
            f"split_cell: cell {cell_id} not in the store's centroid set "
            f"(cells: {sorted(by_id)})"
        )
    try:
        require_cell_partitioned(src, "ivf_cell", "split_cell")
    except ValueError as e:
        raise ValueError(
            f"{e} — flat files mix cells, so a bounded split cannot "
            "hardlink untouched cells"
        ) from None
    cur = spark.read.parquet(src)
    quantized = "q" in cur.columns and vec_col not in cur.columns
    hot_raw = cur.where(F.col("ivf_cell") == int(cell_id))
    total_raw = cur.count()
    hot_raw_n = hot_raw.count()
    folded = hot_raw.dropDuplicates(["ivf_cell", id_col]).drop("ivf_cell")
    hot_n = folded.count()
    if hot_n < k:
        raise ValueError(
            f"split_cell: cell {cell_id} holds {hot_n} distinct rows — "
            f"cannot split into k={k} sub-cells"
        )
    work = (
        dequantize_embeddings_int8(folded, vec_col=vec_col)
        if quantized
        else folded
    )
    # k-means over the hot cell only, then relabel 0..k-1 to fresh ids
    sub = train_ivf_centroids(
        work, n_cells=k, n_iters=n_iters, id_col=id_col, vec_col=vec_col
    )
    next_id = max(by_id) + 1
    sub_cents = [(next_id + i, vec) for i, (_, vec) in enumerate(sub)]
    new_centroids = sorted(
        [(cid, vec) for cid, vec in centroids if cid != int(cell_id)]
        + sub_cents
    )
    # restricted assignment: nearest of the k sub-centroids only
    payload = ["q", "q_scale"] if quantized else [vec_col]
    reassigned = _assign_cells(work, sub_cents, vec_col).select(
        F.col("sem_cluster").alias("ivf_cell"), id_col, *payload
    )
    untouched = total_raw - hot_raw_n
    hot = f"ivf_cell={int(cell_id)}"
    n_out = max(
        1, math.ceil(dir_stats(os.path.join(src, hot))[1] / target_file_bytes)
    )

    def write(vdir: str) -> None:
        # every other cell's partition is placed by link_tree (hardlinks
        # on local disk — cost ∝ the hot cell, not the store); the hot
        # cell's rows land under their new cells, and the new geometry
        # is embedded before the count check and the publish
        storefs.link_tree(src, vdir, skip=frozenset({hot}))
        (
            reassigned.repartition(n_out, "ivf_cell")
            .write.mode("append")
            .partitionBy("ivf_cell")
            .parquet(vdir)
        )
        write_ann_centroids(vdir, new_centroids, quantize=quantized)

    gen = publish_generation(
        spark,
        store,
        src,
        write,
        untouched + hot_n,
        f"expected (untouched {untouched} + folded hot {hot_n})",
    )
    if not gen["verified"]:
        return gen
    # legacy-root fallback copy, posture included
    write_ann_centroids(store, new_centroids, quantize=quantized)
    return {
        **gen,
        "split_cell": int(cell_id),
        "new_cells": [cid for cid, _ in sub_cents],
        "rows_moved": hot_n,
        "n_cells": len(new_centroids),
        "quantized": quantized,
    }


def maintain_ann_store(
    spark: SparkSession,
    store: str,
    occupancy_factor: float = 4.0,
    max_splits: int = 4,
    k: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files_to_compact: int = 2,
    prune_previous: bool = True,
) -> dict:
    """One maintenance-window pass for a persisted IVF ANN store —
    ``maintain_stores``'s posture specialized to the cell layout:
    prune the generations the previous pass left, compact WITH
    ``partition_cols=["ivf_cell"]`` (the generic entry point's
    unpartitioned rewrite would destroy the probe-pruning layout; a
    legacy FLAT store is upgraded here, single-file or not), then
    apply the occupancy-drift policy: any cell holding more than
    ``occupancy_factor`` × the lower-median cell's distinct rows (and big
    enough to split) is ``split_cell``-ed into ``k`` sub-cells, hottest
    first, at most ``max_splits`` per pass.  Each split is its own
    verified atomic generation publish, so a crash between splits
    leaves a fully consistent store; a pass on a balanced store splits
    nothing (idempotent-cheap, schedulable blindly — the
    ``compact_parquet`` rule).  Geometry-WIDE drift (every cell's
    centroid stale) is still ``recluster_ann_store``'s job; this pass
    handles the localized form — embedding drift concentrating appends
    in one region — at hot-cell cost (measured exponent 0.00 vs the
    full recluster's 0.49, SCALE.md r14).

    Returns {pruned, compaction, occupancy_median, splits: [per-split
    reports]}."""
    from jurimetria_etl_spark.operators.ann_store import (
        ann_store_occupancy,
    )

    pruned = store_prune(store) if prune_previous else []
    compaction = compact_store(
        spark,
        store,
        target_file_bytes=target_file_bytes,
        # a flat legacy store is upgraded whatever its file count: the
        # rewrite's purpose is the layout split_cell needs
        min_files_to_compact=(
            1
            if _infer_partition_cols(store_data_dir(store)) is None
            else min_files_to_compact
        ),
        partition_cols=["ivf_cell"],
    )
    occ = {
        int(r["ivf_cell"]): int(r["n_rows"])
        for r in ann_store_occupancy(spark, store, id_col=id_col).collect()
    }
    # hot: more than occupancy_factor × the LOWER-median cell's rows —
    # with few cells the upper median is dragged up by the hot cell
    # itself (a 2-cell store could never flag), and at many cells the
    # two are indistinguishable, so bias toward detection — and big
    # enough to split (≥ 2k rows); hottest first
    counts = sorted(occ.values())
    median = counts[(len(counts) - 1) // 2] if counts else 0
    hot = sorted(
        (
            (cid, n)
            for cid, n in occ.items()
            if median > 0 and n > occupancy_factor * median and n >= 2 * k
        ),
        key=lambda cn: (-cn[1], cn[0]),
    )[:max_splits]
    splits = [
        split_cell(
            spark,
            store,
            cid,
            k=k,
            id_col=id_col,
            vec_col=vec_col,
            target_file_bytes=target_file_bytes,
        )
        for cid, _ in hot
    ]
    return {
        "pruned": len(pruned),
        "compaction": compaction,
        "occupancy_median": median,
        "n_cells": len(occ),
        "splits": splits,
    }
