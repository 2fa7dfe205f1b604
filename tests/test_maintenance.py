"""compact_parquet: file count drops to the byte-sized target, the row
multiset is untouched, hive layouts keep their directories and pruning,
and the op is a cheap no-op on already-compact dirs."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from jurimetria_etl_spark.sinks.maintenance import compact_parquet
from jurimetria_etl_spark.storefs import dir_stats


def _multiset(df):
    return sorted(tuple(r) for r in df.collect())


def test_compacts_fragmented_dir_same_rows(spark, tmp_path):
    out = str(tmp_path / "frag")
    # simulate 30 micro-batch appends -> 30+ tiny files
    for i in range(30):
        spark.range(i * 100, (i + 1) * 100).withColumn(
            "v", F.col("id") * 2
        ).coalesce(1).write.mode("append").parquet(out)
    before_rows = _multiset(spark.read.parquet(out))
    files_before, total = dir_stats(out)
    assert files_before >= 30

    report = compact_parquet(spark, out, target_file_bytes=total)
    assert report["skipped"] is False
    assert report["files_after"] < files_before
    assert report["files_after"] <= 4  # ~1 target-size file (+ task rounding)
    assert _multiset(spark.read.parquet(out)) == before_rows


def test_partitioned_compaction_preserves_layout_and_pruning(spark, tmp_path):
    out = str(tmp_path / "hive")
    for i in range(10):
        spark.range(i * 50, (i + 1) * 50).withColumn(
            "part", (F.col("id") % 3).cast("int")
        ).coalesce(1).write.mode("append").partitionBy("part").parquet(out)
    before_rows = _multiset(spark.read.parquet(out))
    files_before, total = dir_stats(out)

    report = compact_parquet(
        spark, out, target_file_bytes=total, partition_cols=["part"]
    )
    assert report["files_after"] < files_before
    # hive dirs preserved
    assert {p.name for p in Path(out).iterdir() if p.is_dir()} == {
        "part=0", "part=1", "part=2"
    }
    after = spark.read.parquet(out)
    assert _multiset(after) == before_rows
    # partition pruning still effective: a part filter reads 1 directory
    plan = (
        after.where(F.col("part") == 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [isnotnull(part" in plan


def test_noop_below_threshold(spark, tmp_path):
    out = str(tmp_path / "small")
    spark.range(100).coalesce(1).write.parquet(out)
    report = compact_parquet(spark, out)
    assert report["skipped"] is True
    assert report["files_before"] == report["files_after"] == 1

def test_rewrite_verification_abandons_swap_on_short_rewrite(
    spark, tmp_path, monkeypatch
):
    """A silently short rewrite must NOT replace (or delete) the source:
    the row-count verification abandons the swap and reports it."""
    import jurimetria_etl_spark.sinks.maintenance as M

    out = str(tmp_path / "frag")
    for i in range(5):
        spark.range(i * 10, (i + 1) * 10).coalesce(1).write.mode(
            "append"
        ).parquet(out)
    before = _multiset(spark.read.parquet(out))

    real = M._rows_in
    calls = {"n": 0}

    def short_count(s, p):
        calls["n"] += 1
        # second call is the rewritten tmp tree — lie that it lost rows
        return real(s, p) - 7 if calls["n"] == 2 else real(s, p)

    monkeypatch.setattr(M, "_rows_in", short_count)
    report = M.compact_parquet(spark, out, target_file_bytes=10**9)
    assert report["skipped"] is True and report["verified"] is False
    assert "rows" in report["reason"]
    # original untouched, tmp reclaimed
    assert _multiset(spark.read.parquet(out)) == before
    assert not [p for p in tmp_path.iterdir() if "__compact_" in p.name]


def test_manifested_store_atomic_swap_keeps_racing_reader_alive(
    spark, tmp_path
):
    """compact_store publishes through one atomic manifest replace: a
    reader that resolved the OLD version before the swap keeps a fully
    intact directory until an explicit prune, while new resolutions see
    the compacted version with the same rows."""
    from jurimetria_etl_spark.sinks.maintenance import compact_store
    from jurimetria_etl_spark.storefs import (
        dir_stats,
        store_data_dir,
        store_prune,
    )

    store = str(tmp_path / "store")
    for i in range(12):
        spark.range(i * 10, (i + 1) * 10).coalesce(1).write.mode(
            "append"
        ).parquet(store)
    before = _multiset(spark.read.parquet(store))

    # a "racing reader": resolves (and holds) the pre-compaction location
    old_dir = store_data_dir(store)
    assert old_dir == store  # plain dir before first compaction

    report = compact_store(spark, store, target_file_bytes=10**9)
    assert report["verified"] is True and report["skipped"] is False

    new_dir = store_data_dir(store)
    assert new_dir != old_dir and "_versions" in new_dir
    # new resolution: compacted, same rows
    assert _multiset(spark.read.parquet(new_dir)) == before
    assert dir_stats(new_dir)[0] < 12
    # the racing reader's legacy root files are STILL there (Spark ignores
    # the _-prefixed internals, so the legacy read sees the old data only)
    assert _multiset(spark.read.parquet(old_dir)) == before

    # second compaction: old VERSION dir survives until prune too
    spark.range(1000, 1010).coalesce(1).write.mode("append").parquet(new_dir)
    spark.range(1010, 1020).coalesce(1).write.mode("append").parquet(new_dir)
    report2 = compact_store(spark, store, target_file_bytes=10**9)
    assert report2["verified"] is True
    held = new_dir
    assert store_data_dir(store) != held
    assert len(_multiset(spark.read.parquet(held))) == 120 + 20

    removed = store_prune(store)
    assert removed  # old version dir + legacy root files reclaimed
    import os

    assert not os.path.exists(held)
    cur = store_data_dir(store)
    assert len(_multiset(spark.read.parquet(cur))) == 140
    # manifest always resolves to an existing dir at every step
    assert os.path.isdir(cur)


def test_store_prune_noop_on_plain_dir(spark, tmp_path):
    from jurimetria_etl_spark.storefs import store_prune

    out = str(tmp_path / "plain")
    spark.range(10).write.parquet(out)
    assert store_prune(out) == []  # never touches an un-manifested dir
    assert len(_multiset(spark.read.parquet(out))) == 10


def test_orphan_version_dir_crash_recovery(spark, tmp_path):
    """A crash AFTER the rewrite but BEFORE the manifest publish leaves an
    orphan version dir: readers must be unaffected (manifest still names
    the old generation), a later compaction must succeed normally, and
    prune must reclaim the orphan."""
    import os

    from jurimetria_etl_spark.sinks.maintenance import compact_store
    from jurimetria_etl_spark.storefs import (
        _VERSIONS,
        store_data_dir,
        store_prune,
    )

    store = str(tmp_path / "store")
    for i in range(4):
        spark.range(i * 10, (i + 1) * 10).coalesce(1).write.mode(
            "append"
        ).parquet(store)
    before = _multiset(spark.read.parquet(store))

    # first compaction -> manifested
    compact_store(spark, store, target_file_bytes=1 << 30, min_files_to_compact=1)
    current = store_data_dir(store)

    # simulate the crash window: a fully-written version dir, never published
    orphan = os.path.join(store, _VERSIONS, "deadbeefcafe")
    spark.range(5).coalesce(1).write.parquet(orphan)

    assert store_data_dir(store) == current  # readers never see the orphan
    assert _multiset(spark.read.parquet(store_data_dir(store))) == before

    # next compaction proceeds normally despite the orphan
    spark.range(100, 110).coalesce(1).write.mode("append").parquet(current)
    report = compact_store(
        spark, store, target_file_bytes=1 << 30, min_files_to_compact=1
    )
    assert report["verified"] is True
    removed = store_prune(store)
    assert not os.path.exists(orphan)  # orphan reclaimed with old gens
    assert any("deadbeefcafe" in p for p in removed)
    assert len(_multiset(spark.read.parquet(store_data_dir(store)))) == 50


def test_maintain_stores_prunes_previous_generation_only(spark, tmp_path):
    """The scheduled pass: each generation survives exactly one extra
    maintenance interval (prune-before-compact), so readers holding the
    previous generation never lose files mid-scan."""
    import os

    from jurimetria_etl_spark.sinks.maintenance import maintain_stores
    from jurimetria_etl_spark.storefs import store_data_dir

    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    for s in (a, b):
        for i in range(3):
            spark.range(i * 10, (i + 1) * 10).coalesce(1).write.mode(
                "append"
            ).parquet(s)

    r1 = maintain_stores(spark, [a, b], min_files_to_compact=1)
    assert all(v["verified"] for v in r1.values())
    gen1 = {s: store_data_dir(s) for s in (a, b)}

    # append + second pass: gen1 must STILL exist right after (it is the
    # previous generation a reader may hold) …
    for s in (a, b):
        spark.range(100, 105).coalesce(1).write.mode("append").parquet(
            store_data_dir(s)
        )
    r2 = maintain_stores(spark, [a, b], min_files_to_compact=1)
    assert all(v["verified"] for v in r2.values())
    assert all(os.path.isdir(g) for g in gen1.values())

    # … and is reclaimed by the THIRD pass's prune step
    r3 = maintain_stores(spark, [a, b], min_files_to_compact=1)
    assert all(not os.path.isdir(g) for g in gen1.values())
    assert all(v["pruned"] >= 1 for v in r3.values())
    for s in (a, b):
        assert len(
            {tuple(r) for r in spark.read.parquet(store_data_dir(s)).collect()}
        ) == 35


def test_store_prune_reclaims_legacy_hive_partition_dirs(spark, tmp_path):
    """A hive-partitioned PLAIN store upgraded to the manifested layout:
    once a manifest exists, the legacy ``col=value`` root subdirectories
    are a pre-compaction generation — prune must reclaim them (they were
    previously skipped, an unbounded disk leak that also left legacy-path
    readers on stale data forever)."""
    import os

    from pyspark.sql import functions as F

    from jurimetria_etl_spark.sinks.maintenance import compact_store
    from jurimetria_etl_spark.storefs import store_data_dir, store_prune

    store = str(tmp_path / "hive_store")
    df = spark.range(40).withColumn("part", (F.col("id") % 4).cast("string"))
    for _ in range(3):
        df.coalesce(1).write.mode("append").partitionBy("part").parquet(store)
    before = _multiset(spark.read.parquet(store).select("id"))

    report = compact_store(
        spark, store, target_file_bytes=10**9, partition_cols=["part"]
    )
    assert report["verified"] is True
    # legacy partition dirs still present pre-prune (reader grace)
    legacy = [
        n for n in os.listdir(store) if n.startswith("part=")
    ]
    assert legacy
    removed = store_prune(store)
    assert any("part=" in r for r in removed)
    assert not [n for n in os.listdir(store) if n.startswith("part=")]
    # current version intact, layout + rows preserved
    cur = store_data_dir(store)
    assert _multiset(spark.read.parquet(cur).select("id")) == before
    assert [n for n in os.listdir(cur) if n.startswith("part=")]


def test_store_prune_spares_foreign_non_hive_dirs(spark, tmp_path):
    """ADVICE r7: prune must reclaim ONLY hive-style ``k=v`` root dirs.
    A co-located foreign directory (manual exports, notes) is not a
    legacy generation and must survive a maintenance pass untouched."""
    import os

    from jurimetria_etl_spark.sinks.maintenance import compact_store
    from jurimetria_etl_spark.storefs import store_prune

    store = str(tmp_path / "mixed_store")
    df = spark.range(10)
    for _ in range(2):
        df.coalesce(1).write.mode("append").parquet(store)
    foreign = os.path.join(store, "manual_exports")
    os.makedirs(foreign)
    with open(os.path.join(foreign, "notes.txt"), "w") as f:
        f.write("keep me")

    compact_store(spark, store, target_file_bytes=10**9)
    removed = store_prune(store)
    assert removed  # the legacy root parquet files were reclaimed
    assert os.path.isdir(foreign)
    with open(os.path.join(foreign, "notes.txt")) as f:
        assert f.read() == "keep me"


def test_maintain_stores_preserves_hive_layout(spark, tmp_path):
    """r14: the generic maintenance pass must not flatten a
    cell-partitioned store — the rewrite infers the layout and keeps
    it, so partition pruning survives blind scheduling."""
    import os

    from jurimetria_etl_spark.sinks.maintenance import maintain_stores
    from jurimetria_etl_spark.storefs import store_data_dir

    s = str(tmp_path / "cellstore")
    for lo in (0, 30):
        (
            spark.range(lo, lo + 30)
            .selectExpr("id", "cast(id % 3 as int) as cell")
            .coalesce(2)
            .write.mode("append")
            .partitionBy("cell")
            .parquet(s)
        )
    r = maintain_stores(spark, [s], min_files_to_compact=1)
    assert r[s]["verified"]
    data_dir = store_data_dir(s)
    assert sorted(
        d for d in os.listdir(data_dir) if d.startswith("cell=")
    ) == ["cell=0", "cell=1", "cell=2"]
    got = spark.read.parquet(data_dir)
    assert got.count() == 60
    plan = (
        got.where("cell = 1")._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [" in plan and "cell" in plan.split(
        "PartitionFilters: [", 1
    )[1].split("]", 1)[0]


def test_require_cell_partitioned_guards_both_layout_hazards(spark, tmp_path):
    """r15 review findings: the flat-store refusal must name the
    COMPLETE remedy (min_files_to_compact=1 — the default-2 call the
    old message prescribed silently no-ops on a single-file store), and
    a store hive-partitioned by a DIFFERENT column must be refused too
    (e.g. an ANN store dir aimed at a store partitioned by another
    column would otherwise corrupt the tree)."""
    import pytest

    from jurimetria_etl_spark.sinks.maintenance import (
        require_cell_partitioned,
    )

    d = tmp_path / "cellstore" / "cell=1"
    d.mkdir(parents=True)
    (d / "part-0.parquet").write_bytes(b"x")
    # matching column: passes
    require_cell_partitioned(str(tmp_path / "cellstore"), "cell", "op")
    # foreign column: refused before the write
    with pytest.raises(ValueError, match="hive-partitioned by"):
        require_cell_partitioned(str(tmp_path / "cellstore"), "ivf_cell", "op")
    # flat single-file store: remedy names min_files_to_compact=1
    flat = tmp_path / "flatstore"
    flat.mkdir()
    (flat / "part-0.parquet").write_bytes(b"x")
    with pytest.raises(ValueError, match="min_files_to_compact=1"):
        require_cell_partitioned(str(flat), "ivf_cell", "op")
    # missing dir (fresh store): passes
    require_cell_partitioned(str(tmp_path / "nope"), "ivf_cell", "op")
