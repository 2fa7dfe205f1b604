"""The streaming SemDeDup store is an IVF ANN store
(operators/ann_store.py), so its upkeep is the ANN maintenance family
(sinks/maintenance.py): ``recluster_ann_store``, ``split_cell`` and
``maintain_ann_store``.  On a store written by the semdedup stream path:

- after each operation ``semdedup_incremental`` under
  ``read_ann_centroids(store)`` drops a planted near-dup of a survivor,
  keeps a novel vector, and decides exactly as against a fresh store
  built under the new geometry; the survivor set is unchanged;
- a split hardlinks the untouched cell into the new generation;
- a FLAT store is refused by ``split_cell`` with the compaction remedy
  named, and both maintenance passes upgrade it instead;
- the store's cell read is a partition filter by construction.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import numpy as np
import pytest

from jurimetria_etl_spark.operators.ann_store import (
    build_ann_store,
    load_ann_store,
    read_ann_centroids,
    write_ann_centroids,
)
from jurimetria_etl_spark.operators.semdedup import semdedup_incremental
from jurimetria_etl_spark.sinks.maintenance import (
    maintain_ann_store,
    maintain_stores,
    recluster_ann_store,
    split_cell,
)
from jurimetria_etl_spark.storefs import _VERSIONS, store_data_dir
from jurimetria_etl_spark.streaming.curation import curate_document_stream
from tests.conftest import stage_drop as _drop

DIM = 4
ID = "doc_id"
CENTROIDS = [(0, [10.0, 0.0, 0.0, 0.0]), (1, [0.0, 10.0, 0.0, 0.0])]
# the corrected geometry a recluster installs: one centroid per
# planted group
RECLUSTERED = [
    (0, [10.0, 0.0, 0.0, 0.0]),
    (1, [0.0, 10.0, 3.0, 0.0]),
    (2, [0.0, 10.0, -3.0, 0.0]),
]
RNG = np.random.default_rng(19)
SCHEMA = (
    "doc_id bigint, source string, lang string, text string, "
    "embedding array<double>"
)


def _survivors():
    rows = []
    for i in range(10):  # cell 0 filler
        v = np.array([10.0, 0.0, 0.0, 0.0]) + RNG.normal(0, 0.5, DIM)
        rows.append((1000 + i, [float(x) for x in v]))
    for i in range(10):  # hot cell, sub-cluster A (lowest ids even)
        v = np.array([0.0, 10.0, 3.0, 0.0]) + RNG.normal(0, 0.5, DIM)
        rows.append((100 + 2 * i, [float(x) for x in v]))
    for i in range(10):  # hot cell, sub-cluster B (lowest ids odd)
        v = np.array([0.0, 10.0, -3.0, 0.0]) + RNG.normal(0, 0.5, DIM)
        rows.append((101 + 2 * i, [float(x) for x in v]))
    return rows


ROWS = _survivors()


def _emb(spark, rows):
    return spark.createDataFrame(rows, f"{ID} bigint, embedding array<double>")


def _docs(spark, rows):
    # texts share no word, so exact and near-dup text dedup keep them all
    return spark.createDataFrame(
        [
            (i, "drop", "en", " ".join(f"w{i}x{j}" for j in range(8)), v)
            for i, v in rows
        ],
        SCHEMA,
    )


@pytest.fixture(scope="module")
def stream_store(spark, tmp_path_factory):
    """The 30 survivors streamed in two micro-batches with a semdedup
    store; eps=1.0 drops only exact copies, so every row lands."""
    tmp = tmp_path_factory.mktemp("semmaint")
    src = str(tmp / "drops")
    base_t = time.time() - 3600
    _drop(_docs(spark, ROWS[:20]), src, "000", base_t)
    _drop(_docs(spark, ROWS[20:]), src, "001", base_t + 600)
    dirs = {n: str(tmp / n) for n in ("corpus", "fps", "sigs", "ckpt", "sem")}
    q = curate_document_stream(
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        dirs["corpus"], dirs["fps"], dirs["sigs"], dirs["ckpt"],
        semdedup_store_dir=dirs["sem"],
        semdedup_centroids=CENTROIDS,
        semdedup_eps=1.0,
    )
    assert q.awaitTermination(180)
    return dirs["sem"]


def _stored(spark, d):
    """(id → cell) and the (id, vector) row set of the current
    generation."""
    rows = load_ann_store(spark, d, id_col=ID).collect()
    return (
        {r[ID]: r["ivf_cell"] for r in rows},
        sorted((r[ID], tuple(r["embedding"])) for r in rows),
    )


def _gate(spark, store, centroids):
    """The incremental gate over a probe batch: a near-verbatim copy of
    survivor 100 (sub-cluster A) must die; an orthogonal novel vector
    must survive."""
    dup = [x + 0.001 for x in dict(ROWS)[100]]
    batch = _emb(spark, [(9000, dup), (9001, [0.0, 0.0, 0.0, 10.0])])
    kept = semdedup_incremental(
        batch, store, centroids, eps=0.98, id_col=ID
    )
    return sorted(r[ID] for r in kept.collect())


def _flat_store(spark, tmp_path, name):
    """The pre-partitioned layout: one flat file plus its sidecar."""
    d = str(tmp_path / name)
    build_ann_store(_emb(spark, ROWS), CENTROIDS, id_col=ID).coalesce(
        1
    ).write.parquet(d)
    write_ann_centroids(d, CENTROIDS)
    return d


def _cell0_inodes(data_dir):
    return {
        os.stat(f).st_ino
        for f in glob.glob(os.path.join(data_dir, "ivf_cell=0", "*.parquet"))
    }


@pytest.mark.parametrize(
    "op", ["recluster_ann_store", "split_cell", "maintain_ann_store"]
)
def test_maintenance_keeps_the_semdedup_gate(
    spark, stream_store, tmp_path, op
):
    d = str(tmp_path / "sem")
    shutil.copytree(stream_store, d)
    cells, rows_before = _stored(spark, d)
    assert sorted(cells) == sorted(i for i, _ in ROWS)
    assert _gate(spark, load_ann_store(spark, d, id_col=ID), CENTROIDS) == [
        9001
    ]
    src_before = store_data_dir(d)

    if op == "recluster_ann_store":
        rep = recluster_ann_store(spark, d, RECLUSTERED, id_col=ID)
        assert rep["verified"] and rep["rows"] == len(ROWS)
        base = None  # a full rewrite: nothing is hardlinked
    elif op == "split_cell":
        rep = split_cell(spark, d, 1, k=2, id_col=ID)
        assert rep["verified"] and rep["new_cells"] == [2, 3]
        assert rep["rows_moved"] == 20
        base = src_before
    else:
        rep = maintain_ann_store(spark, d, occupancy_factor=1.5, k=2, id_col=ID)
        assert rep["occupancy_median"] == 10 and rep["n_cells"] == 2
        assert [s["split_cell"] for s in rep["splits"]] == [1]
        assert rep["splits"][0]["verified"]
        # the split ran on the compacted generation
        base = os.path.join(d, _VERSIONS, rep["compaction"]["version"])

    cents = read_ann_centroids(d)
    want = [0, 1, 2] if op == "recluster_ann_store" else [0, 2, 3]
    assert sorted(c for c, _ in cents) == want
    cells, rows_after = _stored(spark, d)
    assert rows_after == rows_before  # survivor set unchanged
    # every row sits where a fresh store under the new geometry puts it,
    # and the gate decides as it does against that fresh store
    fresh = build_ann_store(_emb(spark, ROWS), cents, id_col=ID)
    assert cells == {r[ID]: r["ivf_cell"] for r in fresh.collect()}
    assert _gate(spark, load_ann_store(spark, d, id_col=ID), cents) == [9001]
    assert _gate(spark, fresh, cents) == [9001]
    if base is not None:
        # bounded cost: the untouched cell's files are hardlinks
        old = _cell0_inodes(base)
        assert old and old == _cell0_inodes(store_data_dir(d))
    if op == "maintain_ann_store":
        # balanced now: a second pass splits nothing
        again = maintain_ann_store(spark, d, occupancy_factor=1.5, k=2, id_col=ID)
        assert again["splits"] == [] and read_ann_centroids(d) == cents


def test_store_cell_read_is_a_partition_filter(spark, stream_store):
    """The store's cell read reaches the partitioned scan as a
    PartitionFilters entry, and the verdicts equal those against an
    in-memory store (no pruning possible)."""
    dup = _emb(spark, [(9100, [x + 0.002 for x in dict(ROWS)[101]])])
    on_disk = semdedup_incremental(
        dup,
        spark.read.parquet(store_data_dir(stream_store)),
        CENTROIDS,
        eps=0.98,
        id_col=ID,
    )
    in_memory = semdedup_incremental(
        dup,
        build_ann_store(_emb(spark, ROWS), CENTROIDS, id_col=ID),
        CENTROIDS,
        eps=0.98,
        id_col=ID,
    )
    assert on_disk.collect() == in_memory.collect() == []
    plan = on_disk._jdf.queryExecution().executedPlan().toString()
    # the batch side is a LocalTableScan, so the store is the only
    # FileScan in the plan (paths can be elided in toString — match on
    # the scan's own fields, not the directory name)
    scan_lines = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scan_lines, "store FileScan not found in the executed plan"
    assert any(
        "PartitionFilters: [" in ln
        and "ivf_cell" in ln.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        for ln in scan_lines
    ), f"no partition filter on the store scan: {scan_lines}"


def test_flat_store_is_refused_with_the_remedy_named(spark, tmp_path):
    d = _flat_store(spark, tmp_path, "flat")
    before = sorted(os.listdir(d))
    with pytest.raises(ValueError, match="compact_store"):
        split_cell(spark, d, 1, k=2, id_col=ID)
    assert sorted(os.listdir(d)) == before


def test_maintain_stores_upgrades_legacy_flat_layout(spark, tmp_path):
    """r14 verdict task 5: a flat store passed through the generic
    maintenance pass comes out ivf_cell-partitioned — and is then
    split_cell-able — without the caller knowing to pass
    partition_cols; rows are value-identical and the incremental gate's
    verdicts are unchanged."""
    d = _flat_store(spark, tmp_path, "legacy")
    _, before = _stored(spark, d)
    rep = maintain_stores(spark, [d])
    assert rep[d]["layout_upgraded"] == "ivf_cell" and rep[d]["verified"]
    dd = store_data_dir(d)
    assert [e for e in os.listdir(dd) if e.startswith("ivf_cell=")]
    assert not [e for e in os.listdir(dd) if e.endswith(".parquet")]
    assert _stored(spark, d)[1] == before
    rep2 = split_cell(spark, d, 1, k=2, id_col=ID)
    assert rep2["verified"] and rep2["rows_moved"] == 20
    store = load_ann_store(spark, d, id_col=ID)
    assert _gate(spark, store, read_ann_centroids(d)) == [9001]


def test_maintain_ann_store_heals_flat_then_splits(spark, tmp_path):
    """A single-file FLAT store passed to the policy pass is upgraded by
    the compaction (layout is the purpose, single-file or not) and then
    split under the occupancy rule — one schedulable entry point."""
    d = _flat_store(spark, tmp_path, "flatmaint")
    rep = maintain_ann_store(spark, d, occupancy_factor=1.5, id_col=ID)
    assert rep["compaction"]["verified"]
    assert [s["split_cell"] for s in rep["splits"]] == [1]
    store = load_ann_store(spark, d, id_col=ID)
    assert _gate(spark, store, read_ann_centroids(d)) == [9001]


def test_maintain_stores_upgrades_flat_ivf_and_spares_plain_stores(
    spark, tmp_path
):
    """The opportunistic upgrade recognizes the ANN store's ivf_cell
    column; a store without it passes through flat and unflagged."""
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
