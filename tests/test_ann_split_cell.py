"""Targeted IVF cell split (sinks/maintenance.py:split_cell) — the
bounded remedy for single-cell occupancy drift (r13 verdict task 5):

- post-split FULL probe ≡ pre-split full probe (row set unchanged,
  exact scoring — the split only rebalances cells);
- on planted geometry a post-split TARGETED probe (n_probe=1) finds the
  same top-k the pre-split full probe did (the sub-centroids inherit
  the hot cell's region);
- the occupancy probe (ann_store_occupancy) shows the hot cell gone and
  its rows distributed over the k fresh sub-cells;
- untouched cells are HARDLINKED into the new generation (inode-shared
  — the "cost ∝ hot cell" claim, pinned, not asserted in prose);
- replay duplicates of the hot cell fold durably; quantized stores stay
  quantized; the generation contract flips to the new centroid set.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pytest

from jurimetria_etl_spark.operators.ann_store import (
    ann_ivf_topk_store,
    ann_store_occupancy,
    append_ann_store,
    load_ann_store,
    read_ann_centroids,
)
from jurimetria_etl_spark.sinks.maintenance import split_cell
from jurimetria_etl_spark.storefs import store_data_dir

DIM = 4
# two far-apart cells; cell 1 holds two separable sub-clusters (A ~ +3
# on axis 2, B ~ -3), with the lowest two ids straddling A and B so
# Lloyd's deterministic lowest-id seeds start one per sub-cluster
CENTROIDS = [(0, [10.0, 0.0, 0.0, 0.0]), (1, [0.0, 10.0, 0.0, 0.0])]
RNG = np.random.default_rng(7)


def _planted_rows():
    rows = []
    for i in range(10):  # cell 0 filler
        v = np.array([10.0, 0.0, 0.0, 0.0]) + RNG.normal(0, 0.05, DIM)
        rows.append((1000 + i, [float(x) for x in v]))
    for i in range(10):  # sub-cluster A: even ids from 100
        v = np.array([0.0, 10.0, 3.0, 0.0]) + RNG.normal(0, 0.05, DIM)
        rows.append((100 + 2 * i, [float(x) for x in v]))
    for i in range(10):  # sub-cluster B: odd ids from 101
        v = np.array([0.0, 10.0, -3.0, 0.0]) + RNG.normal(0, 0.05, DIM)
        rows.append((101 + 2 * i, [float(x) for x in v]))
    return rows


ROWS = _planted_rows()
PROBE = [0.0, 10.0, 3.2, 0.1]  # lands in sub-cluster A's region


def _emb(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )


def _build(spark, tmp_path, name="split", quantize=False):
    d = str(tmp_path / name)
    half = [r for r in ROWS if r[0] % 2 == 0]
    rest = [r for r in ROWS if r[0] % 2 == 1]
    append_ann_store(_emb(spark, half), d, CENTROIDS, quantize=quantize)
    append_ann_store(_emb(spark, rest), d, CENTROIDS, quantize=quantize)
    # a replayed batch: the hot cell carries duplicates the split folds
    append_ann_store(_emb(spark, rest), d, CENTROIDS, quantize=quantize)
    return d


def _topk(spark, d, n_probe, k=5):
    return [
        (r["vec_id"], r["cos_sim"])
        for r in ann_ivf_topk_store(
            spark, d, PROBE, k=k, n_probe=n_probe
        ).collect()
    ]


def test_split_preserves_full_probe_and_shows_in_occupancy(
    spark, tmp_path
):
    d = _build(spark, tmp_path)
    before_full = _topk(spark, d, n_probe=2)
    src_before = store_data_dir(d)

    rep = split_cell(spark, d, 1, k=2)
    assert rep["verified"] and not rep["skipped"]
    assert rep["split_cell"] == 1
    assert rep["new_cells"] == [2, 3]
    assert rep["rows_moved"] == 20  # folded: replay dups collapsed

    # geometry flipped atomically with the data
    assert sorted(c for c, _ in read_ann_centroids(d)) == [0, 2, 3]

    # full probe identical: the split moved rows between cells only
    assert _topk(spark, d, n_probe=3) == before_full
    # planted geometry: probing ONLY the best sub-cell already returns
    # the pre-split full answer (every neighbor lives in sub-cluster A)
    assert _topk(spark, d, n_probe=1) == before_full

    # occupancy: hot cell gone, 10+10 across the two fresh sub-cells
    occ = {
        r["ivf_cell"]: r["n_rows"]
        for r in ann_store_occupancy(spark, d).collect()
    }
    assert occ[0] == 10 and 1 not in occ
    assert sorted((occ[2], occ[3])) == [10, 10]

    # bounded cost, pinned: cell 0's parquet files are the SAME inodes
    # in the new generation (hardlinks), not copies
    src_after = store_data_dir(d)
    assert src_after != src_before
    old_files = sorted(
        glob.glob(os.path.join(src_before, "ivf_cell=0", "*.parquet"))
    )
    new_files = sorted(
        glob.glob(os.path.join(src_after, "ivf_cell=0", "*.parquet"))
    )
    assert old_files and len(old_files) == len(new_files)
    assert {os.stat(f).st_ino for f in old_files} == {
        os.stat(f).st_ino for f in new_files
    }

    # appends continue under the NEW generation contract only
    new_cents = read_ann_centroids(d)
    append_ann_store(
        _emb(spark, [(5000, [0.0, 10.0, 2.9, 0.0])]), d, new_cents
    )
    with pytest.raises(ValueError, match="generation"):
        append_ann_store(
            _emb(spark, [(5001, [0.0, 10.0, 2.8, 0.0])]), d, CENTROIDS
        )


def test_split_quantized_store_stays_quantized(spark, tmp_path):
    d = _build(spark, tmp_path, name="splitq", quantize=True)
    before_full = _topk(spark, d, n_probe=2)
    rep = split_cell(spark, d, 1, k=2)
    assert rep["verified"] and rep["quantized"]
    assert _topk(spark, d, n_probe=3) == before_full
    cols = spark.read.parquet(store_data_dir(d)).columns
    assert "q" in cols and "q_scale" in cols and "embedding" not in cols


def test_split_contract_errors(spark, tmp_path):
    d = _build(spark, tmp_path, name="spliterr")
    with pytest.raises(ValueError, match="k="):
        split_cell(spark, d, 1, k=1)
    with pytest.raises(ValueError, match="not in the store"):
        split_cell(spark, d, 42)
    with pytest.raises(ValueError, match="cannot split"):
        split_cell(spark, d, 0, k=11)  # cell 0 holds only 10 rows


def test_maintain_ann_store_splits_hot_cell_only(spark, tmp_path):
    """Occupancy-driven upkeep: one pass prunes + compacts (cell-
    partitioned) + splits only the drifted cell; a second pass on the
    now-balanced store splits nothing (idempotent-cheap); full-probe
    results are unchanged throughout."""
    from jurimetria_etl_spark.sinks.maintenance import maintain_ann_store

    d = _build(spark, tmp_path, name="maint")
    # drift: 40 more vectors pile into cell 1's region
    drift = [
        (
            7000 + i,
            [
                float(x)
                for x in np.array([0.0, 10.0, (3.0 if i % 2 else -3.0), 0.0])
                + RNG.normal(0, 0.05, DIM)
            ],
        )
        for i in range(40)
    ]
    append_ann_store(_emb(spark, drift), d, CENTROIDS)
    before_full = _topk(spark, d, n_probe=2, k=8)

    rep = maintain_ann_store(spark, d, occupancy_factor=2.0, k=2)
    assert rep["compaction"]["verified"]
    assert len(rep["splits"]) == 1 and rep["splits"][0]["verified"]
    assert rep["splits"][0]["split_cell"] == 1  # the drifted cell
    cells = sorted(c for c, _ in read_ann_centroids(d))
    assert cells == [0, 2, 3]
    assert _topk(spark, d, n_probe=3, k=8) == before_full

    rep2 = maintain_ann_store(spark, d, occupancy_factor=2.0, k=2)
    assert rep2["splits"] == []  # balanced now — nothing to do
    assert _topk(spark, d, n_probe=3, k=8) == before_full
    # the pass pruned the pre-maintenance generations
    assert rep2["pruned"] >= 1


def test_maintain_ann_store_skips_a_compact_balanced_store(spark, tmp_path):
    """A cell-partitioned store holds one file per cell after its first
    compaction; later passes on the balanced store find it compact and
    publish nothing."""
    from jurimetria_etl_spark.sinks.maintenance import maintain_ann_store

    cents = [(c, [10.0 if i == c else 0.0 for i in range(DIM)]) for c in range(4)]
    rows = [
        (10 * c + i, [float(x) for x in np.array(v) + RNG.normal(0, 0.05, DIM)])
        for c, v in cents
        for i in range(10)
    ]
    d = str(tmp_path / "balanced")
    append_ann_store(_emb(spark, rows[::2]), d, cents)
    append_ann_store(_emb(spark, rows[1::2]), d, cents)

    first = maintain_ann_store(spark, d)
    assert first["compaction"]["verified"] and not first["compaction"]["skipped"]
    assert first["compaction"]["files_after"] == 4
    data_dir = store_data_dir(d)
    versions = sorted(os.listdir(os.path.join(d, "_versions")))
    for _ in range(2):
        again = maintain_ann_store(spark, d)
        assert again["compaction"]["skipped"] is True
        assert "version" not in again["compaction"]
        assert again["splits"] == []
        assert store_data_dir(d) == data_dir
    assert sorted(os.listdir(os.path.join(d, "_versions"))) == versions
    assert sorted(r["vec_id"] for r in load_ann_store(spark, d).collect()) == list(
        range(40)
    )
