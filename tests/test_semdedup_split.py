"""Targeted SemDeDup-store cell split (sinks/maintenance.py:
split_semdedup_cell) and the static cell-prune contract of
``semdedup_incremental`` over the partitioned store layout (r14):

- post-split incremental dedup behaves identically on planted geometry
  (near-dup of a survivor still dies, novel vectors survive), with the
  split generation's centroids handed back in the report — the
  caller-owned-centroids handoff ``recluster_semdedup_store`` documents;
- untouched cells hardlink into the new generation (bounded cost);
- a FLAT store is refused with the compaction remedy named;
- ``static_prune=True`` turns the store's cell read into a partition
  filter by construction (plan-pinned INSET) without changing results.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pytest

from jurimetria_etl_spark.operators.semdedup import (
    build_semdedup_store,
    semdedup_incremental,
)
from jurimetria_etl_spark.sinks.maintenance import split_semdedup_cell
from jurimetria_etl_spark.storefs import store_data_dir

DIM = 4
CENTROIDS = [(0, [10.0, 0.0, 0.0, 0.0]), (1, [0.0, 10.0, 0.0, 0.0])]
RNG = np.random.default_rng(19)


def _survivors():
    rows = []
    for i in range(10):  # cell 0 filler
        v = np.array([10.0, 0.0, 0.0, 0.0]) + RNG.normal(0, 0.05, DIM)
        rows.append((1000 + i, [float(x) for x in v]))
    for i in range(10):  # hot cell, sub-cluster A (lowest ids even)
        v = np.array([0.0, 10.0, 3.0, 0.0]) + RNG.normal(0, 0.05, DIM)
        rows.append((100 + 2 * i, [float(x) for x in v]))
    for i in range(10):  # hot cell, sub-cluster B (lowest ids odd)
        v = np.array([0.0, 10.0, -3.0, 0.0]) + RNG.normal(0, 0.05, DIM)
        rows.append((101 + 2 * i, [float(x) for x in v]))
    return rows


ROWS = _survivors()


def _emb(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )


def _store(spark, tmp_path, name="sem", partitioned=True):
    d = str(tmp_path / name)
    w = build_semdedup_store(
        _emb(spark, ROWS), CENTROIDS
    ).write.mode("append")
    if partitioned:
        w = w.partitionBy("sem_cluster")
    w.parquet(store_data_dir(d))
    return d


def _gate(spark, d, centroids, **kw):
    """The incremental gate over a probe batch: a near-verbatim copy of
    survivor 100 (sub-cluster A) must die; an orthogonal novel vector
    must survive."""
    by_id = dict(ROWS)
    dup = [x + 0.001 for x in by_id[100]]
    novel = [0.0, 0.0, 0.0, 10.0]
    batch = _emb(spark, [(9000, dup), (9001, novel)])
    store = spark.read.parquet(store_data_dir(d))
    kept = semdedup_incremental(
        batch, store, centroids, eps=0.98, **kw
    )
    return sorted(r.vec_id for r in kept.collect())


def test_split_hands_back_centroids_and_preserves_the_gate(
    spark, tmp_path
):
    d = _store(spark, tmp_path)
    assert _gate(spark, d, CENTROIDS) == [9001]
    src_before = store_data_dir(d)

    rep = split_semdedup_cell(spark, d, CENTROIDS, 1, k=2)
    assert rep["verified"] and not rep["skipped"]
    assert rep["new_cells"] == [2, 3] and rep["rows_moved"] == 20
    new_cents = rep["new_centroids"]
    assert sorted(c for c, _ in new_cents) == [0, 2, 3]

    # the gate under the split generation: same verdicts, store-backed
    assert _gate(spark, d, new_cents) == [9001]
    assert _gate(spark, d, new_cents, static_prune=True) == [9001]

    # occupancy: the hot cell's rows moved to the two fresh sub-cells
    occ = {
        r["sem_cluster"]: r["n"]
        for r in spark.read.parquet(store_data_dir(d))
        .groupBy("sem_cluster")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert occ[0] == 10 and 1 not in occ
    assert sorted((occ[2], occ[3])) == [10, 10]

    # bounded cost: cell 0's files are hardlinks, not copies
    src_after = store_data_dir(d)
    old = sorted(
        glob.glob(os.path.join(src_before, "sem_cluster=0", "*.parquet"))
    )
    new = sorted(
        glob.glob(os.path.join(src_after, "sem_cluster=0", "*.parquet"))
    )
    assert old and {os.stat(f).st_ino for f in old} == {
        os.stat(f).st_ino for f in new
    }


def test_flat_store_is_refused_with_the_remedy_named(spark, tmp_path):
    d = _store(spark, tmp_path, name="semflat", partitioned=False)
    with pytest.raises(ValueError, match="compact_store"):
        split_semdedup_cell(spark, d, CENTROIDS, 1, k=2)


def test_maintain_stores_upgrades_legacy_flat_layout(spark, tmp_path):
    """r14 verdict task 5: a flat pre-r14 semdedup store passed through
    the generic maintenance pass comes out sem_cluster-partitioned —
    and is then split_semdedup_cell-able — without the caller knowing
    to pass partition_cols; rows are value-identical and the
    incremental gate's verdicts are unchanged."""
    from jurimetria_etl_spark.sinks.maintenance import maintain_stores

    d = _store(spark, tmp_path, name="semlegacy", partitioned=False)
    before = sorted(
        (r.vec_id, r.sem_cluster, tuple(r.embedding))
        for r in spark.read.parquet(store_data_dir(d)).collect()
    )
    rep = maintain_stores(spark, [d])
    assert rep[d]["layout_upgraded"] == "sem_cluster"
    assert rep[d]["verified"]
    dd = store_data_dir(d)
    assert [e for e in os.listdir(dd) if e.startswith("sem_cluster=")]
    assert not [e for e in os.listdir(dd) if e.endswith(".parquet")]
    after = sorted(
        (r.vec_id, r.sem_cluster, tuple(r.embedding))
        for r in spark.read.parquet(dd).collect()
    )
    assert after == before
    # the upgraded store is split-able and the gate verdicts hold
    rep2 = split_semdedup_cell(spark, d, CENTROIDS, 1, k=2)
    assert rep2["verified"] and rep2["rows_moved"] == 20
    assert _gate(spark, d, rep2["new_centroids"]) == [9001]
    assert _gate(spark, d, rep2["new_centroids"], static_prune=True) == [9001]


def test_maintain_stores_upgrades_flat_ivf_and_spares_plain_stores(
    spark, tmp_path
):
    """The same opportunistic upgrade recognizes the ANN store's
    ivf_cell column; a store with neither cell column passes through
    flat and unflagged."""
    from jurimetria_etl_spark.sinks.maintenance import maintain_stores

    ann = str(tmp_path / "annflat")
    (
        spark.range(0, 30)
        .selectExpr(
            "id as vec_id",
            "cast(id % 3 as int) as ivf_cell",
            "array(cast(id as double)) as embedding",
        )
        .coalesce(1)
        .write.mode("append")
        .parquet(ann)
    )
    plain = str(tmp_path / "plainfp")
    spark.range(0, 20).selectExpr(
        "id as doc_id", "md5(cast(id as string)) as fp"
    ).coalesce(1).write.mode("append").parquet(plain)
    rep = maintain_stores(spark, [ann, plain])
    assert rep[ann]["layout_upgraded"] == "ivf_cell"
    assert sorted(
        e
        for e in os.listdir(store_data_dir(ann))
        if e.startswith("ivf_cell=")
    ) == ["ivf_cell=0", "ivf_cell=1", "ivf_cell=2"]
    assert "layout_upgraded" not in rep[plain]
    assert spark.read.parquet(store_data_dir(plain)).count() == 20


def test_maintain_semdedup_store_splits_by_occupancy_rule(spark, tmp_path):
    """r14 verdict task 7: the occupancy_factor × lower-median policy,
    applied to the SemDeDup store — planted skew (cell 1 holds 20 rows
    vs cell 0's 10) splits the hot cell, keep-decisions are
    value-identical pre/post, the chained centroid set comes back in
    the report, and a second pass on the now-balanced store splits
    nothing (idempotent-cheap)."""
    from jurimetria_etl_spark.sinks.maintenance import (
        maintain_semdedup_store,
    )

    d = _store(spark, tmp_path, name="semocc")
    assert _gate(spark, d, CENTROIDS) == [9001]
    rep = maintain_semdedup_store(
        spark, d, CENTROIDS, occupancy_factor=1.5, k=2
    )
    assert rep["occupancy_median"] == 10 and rep["n_cells"] == 2
    assert len(rep["splits"]) == 1
    assert rep["splits"][0]["verified"]
    assert rep["splits"][0]["split_cell"] == 1
    new_cents = rep["new_centroids"]
    assert sorted(c for c, _ in new_cents) == [0, 2, 3]
    # keep-decisions value-identical under the split generation
    assert _gate(spark, d, new_cents) == [9001]
    assert _gate(spark, d, new_cents, static_prune=True) == [9001]
    # balanced store: second pass is a no-op on the split axis
    rep2 = maintain_semdedup_store(
        spark, d, new_cents, occupancy_factor=1.5, k=2
    )
    assert rep2["splits"] == []
    assert rep2["new_centroids"] == new_cents


def test_maintain_semdedup_store_heals_flat_then_splits(spark, tmp_path):
    """A legacy FLAT store passed to the policy pass is upgraded by the
    compaction (layout is the purpose, single-file or not) and then
    split under the same rule — one schedulable entry point end-to-end."""
    from jurimetria_etl_spark.sinks.maintenance import (
        maintain_semdedup_store,
    )

    d = _store(spark, tmp_path, name="semoccflat", partitioned=False)
    rep = maintain_semdedup_store(spark, d, CENTROIDS, occupancy_factor=1.5)
    assert rep["compaction"]["verified"]
    assert len(rep["splits"]) == 1
    assert _gate(spark, d, rep["new_centroids"]) == [9001]


def test_split_contract_errors(spark, tmp_path):
    d = _store(spark, tmp_path, name="semerr")
    with pytest.raises(ValueError, match="k="):
        split_semdedup_cell(spark, d, CENTROIDS, 1, k=1)
    with pytest.raises(ValueError, match="not in the given"):
        split_semdedup_cell(spark, d, CENTROIDS, 42)
    with pytest.raises(ValueError, match="cannot split"):
        split_semdedup_cell(spark, d, CENTROIDS, 0, k=11)


def test_static_prune_is_a_partition_filter_and_result_identical(
    spark, tmp_path
):
    """static_prune=True must reach the partitioned store scan as a
    PartitionFilters INSET (contractual pruning, the ann-store posture)
    and never change the kept set."""
    d = _store(spark, tmp_path, name="semprune")
    by_id = dict(ROWS)
    batch = _emb(spark, [(9100, [x + 0.002 for x in by_id[101]])])
    store = spark.read.parquet(store_data_dir(d))
    dyn = semdedup_incremental(batch, store, CENTROIDS, eps=0.98)
    sta = semdedup_incremental(
        batch, store, CENTROIDS, eps=0.98, static_prune=True
    )
    assert sorted(map(tuple, dyn.collect())) == sorted(
        map(tuple, sta.collect())
    )
    plan = sta._jdf.queryExecution().executedPlan().toString()
    # the batch side is a LocalTableScan, so the store is the only
    # FileScan in the plan (paths can be elided in toString — match on
    # the scan's own fields, not the directory name)
    scan_lines = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scan_lines, "store FileScan not found in the executed plan"
    assert any(
        "PartitionFilters: [" in ln
        and "sem_cluster"
        in ln.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        for ln in scan_lines
    ), f"no partition filter on the store scan: {scan_lines}"
