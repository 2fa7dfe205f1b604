"""Persisted incremental IVF ANN store (operators/ann_store.py):
batched appends must equal a one-shot build of the union (incremental ≡
batch),
replays must fold away (at-least-once idempotence), the centroid-set
generation guard must reject foreign geometry, probes over the loaded
index must hit the exact baseline at full probe and a recall floor at
partial probe, the quantized form must round-trip, the persisted layout
must partition-prune (single AND batch probes), and
``recluster_ann_store`` (sinks/maintenance.py) must swap generations
without changing what a full probe returns."""

from __future__ import annotations

import os

import numpy as np
import pytest

from jurimetria_etl_spark.operators.ann_store import (
    ann_ivf_topk_store,
    ann_ivf_topk_store_batch,
    append_ann_store,
    build_ann_store,
    load_ann_store,
    read_ann_centroids,
)
from jurimetria_etl_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_batch,
)
from jurimetria_etl_spark.sinks.maintenance import recluster_ann_store
from jurimetria_etl_spark.storefs import store_data_dir

DIM = 16
N_CELLS = 8
K = 5
RNG = np.random.default_rng(11)
_CENT_VECS = RNG.normal(0, 1.0, (N_CELLS, DIM))
CENTROIDS = [
    (i, [float(x) for x in v]) for i, v in enumerate(_CENT_VECS)
]
# clustered corpus (the regime IVF exists for): 300 vectors around the
# 8 centroids, split into two append batches by id parity
_LABELS = RNG.integers(0, N_CELLS, 300)
_VECS = _CENT_VECS[_LABELS] + RNG.normal(0, 0.25, (300, DIM))
ROWS = [
    (int(i), [float(x) for x in v]) for i, v in enumerate(_VECS)
]
BATCH0 = [r for r in ROWS if r[0] % 2 == 0]
BATCH1 = [r for r in ROWS if r[0] % 2 == 1]
PROBE_IDS = [3, 77, 150, 299]


def _emb(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )


def _probes(spark, ids):
    by_id = dict(ROWS)
    return spark.createDataFrame(
        [(i, by_id[i]) for i in ids],
        "query_id bigint, probe array<double>",
    )


def _store(spark, tmp_path, name="ann", quantize=False):
    d = str(tmp_path / name)
    append_ann_store(
        _emb(spark, BATCH0), d, CENTROIDS, quantize=quantize
    )
    append_ann_store(
        _emb(spark, BATCH1), d, CENTROIDS, quantize=quantize
    )
    return d


def _loaded_rows(spark, d):
    return sorted(
        (r["ivf_cell"], r["vec_id"], tuple(r["embedding"]))
        for r in load_ann_store(spark, d).collect()
    )


def test_replayed_append_is_idempotent(spark, tmp_path):
    d = _store(spark, tmp_path)
    before = _loaded_rows(spark, d)
    append_ann_store(_emb(spark, BATCH1), d, CENTROIDS)  # the retry
    assert _loaded_rows(spark, d) == before
    assert len(before) == len(ROWS)  # one row per vector, all folded


def test_generation_mismatch_raises(spark, tmp_path):
    d = _store(spark, tmp_path)
    other = [(i, [float(x) + 0.5 for x in v]) for i, v in CENTROIDS]
    with pytest.raises(ValueError, match="generation"):
        append_ann_store(_emb(spark, BATCH1), d, other)


def test_incremental_equals_session_built(spark, tmp_path):
    """Two appends + load ≡ one append of the union under the same
    centroids: identical (cell, id) assignment (also against the
    in-memory ``build_ann_store`` rows), and probe-for-probe identical
    batch top-k at every n_probe."""
    d = _store(spark, tmp_path)
    one_shot = str(tmp_path / "one_shot")
    append_ann_store(_emb(spark, ROWS), one_shot, CENTROIDS)
    built = build_ann_store(_emb(spark, ROWS), CENTROIDS)
    want_cells = sorted(
        (r["ivf_cell"], r["vec_id"]) for r in built.collect()
    )
    for store in (d, one_shot):
        assert sorted(
            (r["ivf_cell"], r["vec_id"])
            for r in load_ann_store(spark, store).collect()
        ) == want_cells
    probes = _probes(spark, PROBE_IDS)
    for n_probe in (1, 4, N_CELLS):
        got, want = (
            sorted(
                map(
                    tuple,
                    ann_ivf_topk_store_batch(
                        spark, store, probes, k=K, n_probe=n_probe
                    ).collect(),
                )
            )
            for store in (d, one_shot)
        )
        assert got == want and got


def test_full_probe_store_equals_brute_force(spark, tmp_path):
    """n_probe = n_cells scores every cell — the store probe must equal
    the exact baselines EXACTLY (the property that makes n_probe a pure
    cost/recall dial), single-probe and batch."""
    d = _store(spark, tmp_path)
    emb = _emb(spark, ROWS)
    by_id = dict(ROWS)
    for p in PROBE_IDS:
        got = ann_ivf_topk_store(
            spark, d, by_id[p], k=K, n_probe=N_CELLS, exclude_id=p
        ).collect()
        want = cosine_topk(emb, probe_id=p, k=K).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]
    probes = _probes(spark, PROBE_IDS)
    got_b = sorted(
        map(
            tuple,
            ann_ivf_topk_store_batch(
                spark, d, probes, k=K, n_probe=N_CELLS
            ).collect(),
        )
    )
    want_b = sorted(
        map(tuple, cosine_topk_batch(emb, probes, k=K).collect())
    )
    assert got_b == want_b and got_b


def test_partial_probe_recall_floor(spark, tmp_path):
    """Half-cell probe on clustered data must be near-lossless (the
    test_ann_recall.py posture, over the LOADED index)."""
    d = _store(spark, tmp_path)
    probes = _probes(spark, PROBE_IDS)
    emb = _emb(spark, ROWS)
    truth = {}
    for r in cosine_topk_batch(emb, probes, k=K).collect():
        truth.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = tot = 0
    got = ann_ivf_topk_store_batch(spark, d, probes, k=K, n_probe=4)
    for r in got.collect():
        hits += r["vec_id"] in truth[r["query_id"]]
        tot += 1
    assert tot == len(PROBE_IDS) * K
    assert hits / tot >= 0.9, f"recall@{K} at n_probe=4 fell to {hits/tot}"


def test_quantized_store_roundtrips_with_bounded_recall(spark, tmp_path):
    """quantize=True stores (q, q_scale) int8 rows; the load dequantizes
    lazily and a full probe's recall vs the float store is bounded below
    (int8 error perturbs scores O(1/127) — ranks can move, sets mostly
    can't on clustered data)."""
    d = _store(spark, tmp_path, name="annq", quantize=True)
    disk = spark.read.parquet(store_data_dir(d))
    assert {"q", "q_scale"} <= set(disk.columns)
    assert "embedding" not in disk.columns
    assert dict(disk.dtypes)["q"] == "array<tinyint>"
    loaded = load_ann_store(spark, d)
    assert "embedding" in loaded.columns
    assert loaded.count() == len(ROWS)
    probes = _probes(spark, PROBE_IDS)
    exact = {}
    for r in cosine_topk_batch(_emb(spark, ROWS), probes, k=K).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = tot = 0
    for r in ann_ivf_topk_store_batch(
        spark, d, probes, k=K, n_probe=N_CELLS
    ).collect():
        hits += r["vec_id"] in exact[r["query_id"]]
        tot += 1
    assert tot == len(PROBE_IDS) * K
    assert hits / tot >= 0.8, f"quantized recall@{K} fell to {hits/tot}"


def test_single_probe_plan_partition_prunes(spark, tmp_path):
    """The store probe's cell IN-filter must reach the scan as a
    PARTITION filter (the hive layout's point) — pinned on the executed
    plan, through the load's dropDuplicates fold."""
    d = _store(spark, tmp_path)
    by_id = dict(ROWS)
    q = ann_ivf_topk_store(spark, d, by_id[3], k=K, n_probe=2)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "ivf_cell" in pf


def test_batch_probe_plan_partition_prunes(spark, tmp_path):
    """The batch path's static cell-union isin must likewise surface as
    a partition filter — contractual pruning, not DPP luck (VERDICT r10:
    the one unverified ann_store claim)."""
    d = _store(spark, tmp_path)
    q = ann_ivf_topk_store_batch(
        spark, d, _probes(spark, PROBE_IDS[:2]), k=K, n_probe=2
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "ivf_cell" in pf


def test_recluster_swaps_generation_without_changing_full_probe(
    spark, tmp_path
):
    """recluster_ann_store: folds the replay log, re-assigns under the
    new centroids, publishes atomically, rewrites _CENTROIDS.json.
    Full-probe results are layout-invisible; appends under the NEW set
    pass the generation guard, under the OLD set they raise."""
    d = _store(spark, tmp_path)
    append_ann_store(_emb(spark, BATCH0), d, CENTROIDS)  # replay noise
    by_id = dict(ROWS)
    before = [
        tuple(r)
        for r in ann_ivf_topk_store(
            spark, d, by_id[77], k=K, n_probe=N_CELLS, exclude_id=77
        ).collect()
    ]
    new_rng = np.random.default_rng(99)
    new_cents = [
        (i, [float(x) for x in v])
        for i, v in enumerate(new_rng.normal(0, 1.0, (4, DIM)))
    ]
    rep = recluster_ann_store(spark, d, new_cents)
    assert rep["verified"] and not rep["skipped"]
    assert rep["rows"] == len(ROWS)  # the replay folded during recluster
    assert rep["n_cells"] == 4
    assert read_ann_centroids(d) == new_cents
    # the new generation's cells are the new geometry's
    cells = {
        r["ivf_cell"]
        for r in load_ann_store(spark, d).select("ivf_cell").collect()
    }
    assert cells <= {0, 1, 2, 3}
    after = [
        tuple(r)
        for r in ann_ivf_topk_store(
            spark, d, by_id[77], k=K, n_probe=4, exclude_id=77
        ).collect()
    ]
    assert after == before  # full probe is cell-layout-invisible
    append_ann_store(_emb(spark, BATCH0), d, new_cents)  # new gen: ok
    with pytest.raises(ValueError, match="generation"):
        append_ann_store(_emb(spark, BATCH0), d, CENTROIDS)


def test_recluster_quantized_store_stays_quantized(spark, tmp_path):
    """A quantized store stays int8 through recluster — the codes are
    per-vector and cell-independent, so they carry through bit-identical
    (zero re-quantization error)."""
    d = _store(spark, tmp_path, name="annq2", quantize=True)
    before_q = {
        r["vec_id"]: (tuple(r["q"]), r["q_scale"])
        for r in spark.read.parquet(store_data_dir(d))
        .dropDuplicates(["vec_id"])
        .collect()
    }
    new_cents = [(i, v) for i, v in CENTROIDS[:4]]
    rep = recluster_ann_store(spark, d, new_cents)
    assert rep["verified"] and rep["quantized"]
    disk = spark.read.parquet(store_data_dir(d))
    assert {"q", "q_scale"} <= set(disk.columns)
    after_q = {
        r["vec_id"]: (tuple(r["q"]), r["q_scale"])
        for r in disk.collect()
    }
    assert after_q == before_q
    # and the reclustered quantized store still probes
    got = ann_ivf_topk_store(
        spark, d, dict(ROWS)[3], k=K, n_probe=4
    ).collect()
    assert len(got) == K


def test_refused_append_records_no_generation(spark, tmp_path):
    """A layout refusal must leave the directory as it found it: no
    ``_CENTROIDS.json`` (a stray generation there would later reject
    the correct centroids) and no ``ivf_cell=`` dirs — for a legacy
    flat store and for a store partitioned by another column."""
    from pyspark.sql import functions as F

    flat = str(tmp_path / "flat")
    _emb(spark, BATCH0).coalesce(1).write.parquet(flat)
    foreign = str(tmp_path / "foreign")
    _emb(spark, BATCH0).withColumn("label", F.lit(1)).write.partitionBy(
        "label"
    ).parquet(foreign)
    for d, match in ((flat, "compact_store"), (foreign, "hive-partitioned")):
        before = sorted(os.listdir(d))
        with pytest.raises(ValueError, match=match):
            append_ann_store(_emb(spark, BATCH1), d, CENTROIDS)
        assert sorted(os.listdir(d)) == before
        with pytest.raises(ValueError, match="_CENTROIDS"):
            read_ann_centroids(d)


def test_recluster_rejects_foreign_directory(spark, tmp_path):
    d = str(tmp_path / "not_ann")
    _emb(spark, BATCH0).write.parquet(d)
    with pytest.raises(ValueError, match="not an ann store"):
        recluster_ann_store(spark, d, CENTROIDS)


def test_read_centroids_missing_raises(spark, tmp_path):
    os.makedirs(str(tmp_path / "empty"), exist_ok=True)
    with pytest.raises(ValueError, match="_CENTROIDS"):
        read_ann_centroids(str(tmp_path / "empty"))


def test_centroid_literals_are_memoized(spark):
    """r11: _nearest_cells' literal matrix is built once per (session,
    centroid set) — the py4j per-centroid round-trips were measured at
    2.3-2.9s/query at 160 cells.  Same set -> same Column objects;
    different set -> different (value-keyed, so no collision can score
    the wrong geometry)."""
    from jurimetria_etl_spark.operators.similarity import (
        _centroid_literals,
    )

    a1 = _centroid_literals(CENTROIDS)
    a2 = _centroid_literals([(c, list(v)) for c, v in CENTROIDS])
    assert a1[0] is a2[0] and a1[1] is a2[1]  # value-equal set -> cached
    other = [(c, [x + 1.0 for x in v]) for c, v in CENTROIDS]
    b = _centroid_literals(other)
    assert b[0] is not a1[0]


def test_driver_rounding_matches_catalyst_half_up(spark):
    """r11 ADVICE: ``_nearest_cells_py`` must round the way ``F.round``
    does (Java HALF_UP on the shortest round-trip decimal), not
    Python's half-even builtin — on dyadic similarity values the two
    differ at the 9th decimal, and a divergent tie lets the join rank a
    cell the static prune union pruned away.  Pin ``_round_half_up``
    == F.round on dyadic ties plus random doubles, then pin the
    end-to-end ranking parity on a geometry engineered to tie."""
    from pyspark.sql import functions as F

    from jurimetria_etl_spark.operators.similarity import (
        _nearest_cells,
        _nearest_cells_py,
        _round_half_up,
    )

    rng = np.random.default_rng(23)
    # dyadic m/2^k values land EXACTLY on ...5 at digit 9 for suitable
    # m, k — the case where round-half-even and HALF_UP disagree
    vals = [m / 2.0**k for k in range(1, 40) for m in (1, 3, 5, 7, 11)]
    vals += [float(x) for x in rng.uniform(-1, 1, 200)]
    vals += [0.0, -0.0, 1.0, -1.0, 0.0000000005, -0.0000000005]
    got = [_round_half_up(v, 9) for v in vals]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    want = [
        r["r"]
        for r in df.select(F.round("v", 9).alias("r")).collect()
    ]
    assert got == want
    # at least one input must actually distinguish the conventions
    assert any(_round_half_up(v, 9) != round(v, 9) for v in vals)

    # end-to-end: orthogonal centroids and a probe bisecting two of
    # them — both tie exactly, and the driver union must contain the
    # SAME cell the Catalyst ranking picks
    cents = [
        (i, [1.0 if j == i else 0.0 for j in range(4)]) for i in range(4)
    ]
    probe = [1.0, 1.0, 0.0, 0.0]  # ties cells 0 and 1 exactly
    drv = _nearest_cells_py(probe, cents, 1)
    cat = (
        spark.range(1)
        .select(
            _nearest_cells(
                F.lit(np.asarray(probe, dtype="float64")), cents, 1
            )[0]["cid"].alias("cid")
        )
        .first()["cid"]
    )
    assert drv == [cat]


def test_recluster_swaps_data_and_centroids_atomically(spark, tmp_path):
    """r11 verdict task 5: geometry rides the manifest.  After a
    compaction (which propagates the embedded sidecar) and a recluster
    (which embeds the NEW set in the new version before the publish), a
    reader that resolved the OLD generation reads the OLD centroids
    from inside that directory — never the new geometry against the old
    layout — while a fresh resolution gets (new data dir, new
    centroids) from one manifest read.  Appends and probes keep
    working against the current generation."""
    from jurimetria_etl_spark.operators.ann_store import (
        _CENTROIDS_FILE,
        _load_centroids_file,
        resolve_ann_store,
    )
    from jurimetria_etl_spark.sinks.maintenance import compact_store

    d = str(tmp_path / "ann")
    append_ann_store(_emb(spark, BATCH0), d, CENTROIDS)
    append_ann_store(_emb(spark, BATCH1), d, CENTROIDS)
    rep = compact_store(spark, d, min_files_to_compact=1)
    assert rep["verified"]
    old_dir, old_cents = resolve_ann_store(d)
    assert old_cents == CENTROIDS
    # the compacted version dir carries its own embedded sidecar
    assert os.path.exists(os.path.join(old_dir, _CENTROIDS_FILE))

    new_cents = [(i, [x * 0.5 + 0.1 for x in v]) for i, v in CENTROIDS]
    rep2 = recluster_ann_store(spark, d, new_cents)
    assert rep2["verified"]

    # a reader still holding the OLD generation: its directory and its
    # embedded geometry are both intact and still paired
    held, held_q = _load_centroids_file(
        os.path.join(old_dir, _CENTROIDS_FILE)
    )
    assert held == CENTROIDS and held_q is False
    assert spark.read.parquet(old_dir).count() == len(ROWS)

    # a fresh resolution: new dir + new centroids from ONE manifest read
    new_dir, cents = resolve_ann_store(d)
    assert new_dir != old_dir and cents == new_cents
    assert read_ann_centroids(d) == new_cents

    # generation guard follows the manifest: old set now refused
    with pytest.raises(ValueError, match="generation"):
        append_ann_store(_emb(spark, [(900, dict(ROWS)[3])]), d, CENTROIDS)
    append_ann_store(
        _emb(spark, [(901, dict(ROWS)[3])]), d, new_cents
    )  # new set accepted

    # probes resolve the current generation and still return k rows
    got = ann_ivf_topk_store(
        spark, d, dict(ROWS)[3], k=K, n_probe=len(new_cents)
    ).collect()
    assert len(got) == K


def test_plain_dir_rebuild_in_place_reinfers_schema(spark, tmp_path):
    """The load-time schema memo must NOT survive an in-place rebuild of
    a PLAIN (non-versioned) directory: same path, different schema
    (float store → quantized store).  Only immutable ``_versions/`` dirs
    are cacheable — a stale schema here would read every new column as
    NULL instead of re-inferring (r13 review finding)."""
    import shutil

    d = str(tmp_path / "plain")
    append_ann_store(_emb(spark, BATCH0), d, CENTROIDS)
    first = load_ann_store(spark, d)
    assert "embedding" in first.columns and first.count() == len(BATCH0)
    # in-place regeneration: wipe and rebuild QUANTIZED at the same path
    shutil.rmtree(d)
    append_ann_store(_emb(spark, BATCH0), d, CENTROIDS, quantize=True)
    again = load_ann_store(spark, d)
    rows = again.where("embedding IS NOT NULL").count()
    assert rows == len(BATCH0)  # dequantized, not NULLed by a stale schema


def test_versioned_store_schema_memo_survives_appends(spark, tmp_path):
    """The cacheable (versioned) path: after compaction publishes a
    version dir, repeated loads reuse the memoized schema while new
    appends into the SAME generation stay visible (listing is
    per-call)."""
    from jurimetria_etl_spark.sinks.maintenance import compact_store

    d = _store(spark, tmp_path, name="versioned")
    compact_store(spark, d, partition_cols=["ivf_cell"])
    n0 = load_ann_store(spark, d).count()
    extra = [(10_000, ROWS[0][1])]
    append_ann_store(_emb(spark, extra), d, CENTROIDS)
    assert load_ann_store(spark, d).count() == n0 + 1


def test_mixed_posture_append_rejected(spark, tmp_path):
    """r13 ADVICE: the generation contract records the quantize posture —
    a quantized append into a float generation (or vice versa) would
    write a SECOND schema into the directory and read back as NULL
    columns under the memoized schema; it must be an immediate error."""
    d = _store(spark, tmp_path, name="posture")  # float generation
    with pytest.raises(ValueError, match="quantize"):
        append_ann_store(_emb(spark, BATCH1), d, CENTROIDS, quantize=True)
    dq = _store(spark, tmp_path, name="postureq", quantize=True)
    with pytest.raises(ValueError, match="quantize"):
        append_ann_store(_emb(spark, BATCH1), dq, CENTROIDS, quantize=False)


def test_legacy_sidecar_adopts_posture_on_append(spark, tmp_path):
    """A pre-r14 store (bare-list sidecar, posture unknown) must keep
    accepting appends; the first r14 append records its posture into
    the contract, after which a flip is rejected."""
    import json as _json

    from jurimetria_etl_spark.operators.ann_store import (
        _CENTROIDS_FILE,
        _load_centroids_file,
    )

    d = _store(spark, tmp_path, name="legacy")
    # rewrite the sidecar to the legacy bare-list form
    path = os.path.join(str(tmp_path / "legacy"), _CENTROIDS_FILE)
    with open(path, "w") as f:
        _json.dump([[c, v] for c, v in CENTROIDS], f)
    assert _load_centroids_file(path)[1] is None
    append_ann_store(_emb(spark, BATCH1), d, CENTROIDS)  # adopted
    assert _load_centroids_file(path)[1] is False
    with pytest.raises(ValueError, match="quantize"):
        append_ann_store(_emb(spark, BATCH1), d, CENTROIDS, quantize=True)


def test_legacy_sidecar_rejects_wrong_claimed_posture(spark, tmp_path):
    """r14 ADVICE: legacy-posture adoption must not TRUST the caller's
    flag — the first r14 append into a pre-r14 float store claiming
    quantize=True would both write a second schema into the generation
    (rows read back NULL) and durably record the wrong posture as the
    contract.  The data files' sniffed schema is the ground truth: the
    wrong claim is rejected up front, the sidecar stays posture-less,
    and the correct claim still adopts."""
    import json as _json

    from jurimetria_etl_spark.operators.ann_store import (
        _CENTROIDS_FILE,
        _load_centroids_file,
    )

    d = _store(spark, tmp_path, name="legacywrong")  # float data files
    path = os.path.join(str(tmp_path / "legacywrong"), _CENTROIDS_FILE)
    with open(path, "w") as f:
        _json.dump([[c, v] for c, v in CENTROIDS], f)
    assert _load_centroids_file(path)[1] is None
    with pytest.raises(ValueError, match="schema sniff"):
        append_ann_store(_emb(spark, BATCH1), d, CENTROIDS, quantize=True)
    # the rejected claim must NOT have been adopted into the contract
    assert _load_centroids_file(path)[1] is None
    # the store is uncorrupted: every row still reads back float
    n0 = load_ann_store(spark, d).count()
    append_ann_store(_emb(spark, BATCH1), d, CENTROIDS, quantize=False)
    assert _load_centroids_file(path)[1] is False
    # BATCH1 was already in the store; the replay fold keeps the count
    assert load_ann_store(spark, d).count() == n0


def test_resolve_memo_prefers_fresh_data_dir_sidecar(spark, tmp_path):
    """r13 ADVICE: a memoized store-root-fallback resolution must not
    keep serving the root sidecar after a HIGHER-priority data-dir
    sidecar appears under the same generation."""
    from jurimetria_etl_spark.operators.ann_store import (
        _CENTROIDS_FILE,
        resolve_ann_store,
        write_ann_centroids,
    )
    from jurimetria_etl_spark.storefs import _VERSIONS, _publish

    d = str(tmp_path / "prio")
    version = "gen000000001"
    vdir = os.path.join(d, _VERSIONS, version)
    os.makedirs(vdir)
    _emb(spark, BATCH0).limit(0).write.parquet(vdir, mode="overwrite")
    _publish(d, version)
    # only the store-root fallback sidecar exists → memoized from root
    write_ann_centroids(d, CENTROIDS)
    dd, cents = resolve_ann_store(d)
    assert dd == vdir and cents == CENTROIDS
    # the preferred data-dir sidecar appears (e.g. a late embed) with
    # DIFFERENT content — a fresh resolution must pick it up, memo hit
    # or not
    other = [(c, [x + 1.0 for x in v]) for c, v in CENTROIDS]
    write_ann_centroids(vdir, other)
    _, cents2 = resolve_ann_store(d)
    assert cents2 == other
