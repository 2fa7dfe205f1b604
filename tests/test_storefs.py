"""storefs: the stores behave the same on a plain path, a ``file:`` URI
and a ``viewfs://`` mount; a manifest publish never shows a reader the
store root; store metadata leaves no ``.crc`` siblings; and the store
modules keep no file I/O of their own.

A viewfs mount is test configuration: each one gets a fresh mount-table
name, because Hadoop caches FileSystem instances per authority."""

from __future__ import annotations

import re
import threading
import uuid
from pathlib import Path

import pytest

from jurimetria_etl_spark.storefs import (
    _VERSIONS,
    _publish,
    listing,
    store_data_dir,
    store_prune,
)

ROOT = Path(__file__).resolve().parents[1]
CENTROIDS = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
DOCS = [
    (1, "o réu recorreu da sentença"),
    (2, "o autor pediu indenização"),
    (3, "a sentença foi mantida pelo tribunal"),
    (4, "o tribunal negou o recurso do réu"),
]


def _mount(spark, local: Path) -> str:
    name = f"m{uuid.uuid4().hex[:10]}"
    spark.sparkContext._jsc.hadoopConfiguration().set(
        f"fs.viewfs.mounttable.{name}.link./data", local.as_uri()
    )
    return f"viewfs://{name}/data"


def _base(spark, local: Path, scheme: str) -> str:
    local.mkdir(parents=True, exist_ok=True)
    if scheme == "plain":
        return str(local)
    if scheme == "file":
        return local.as_uri()
    return _mount(spark, local)


def _round_trip(spark, base: str) -> dict:
    """Every store kind once, through public entry points only; paths in
    the result are relative to ``base`` so runs on different schemes
    compare equal."""
    from jurimetria_etl_spark.operators.ann_store import (
        append_ann_store,
        load_ann_store,
        resolve_ann_store,
    )
    from jurimetria_etl_spark.operators.decontaminate import (
        build_benchmark_store,
        load_benchmark_store,
    )
    from jurimetria_etl_spark.operators.search import (
        append_text_index,
        load_text_index,
        materialize_stop_list,
    )
    from jurimetria_etl_spark.sinks.maintenance import compact_store

    out: dict = {}
    store = f"{base}/store"
    spark.range(0, 30, numPartitions=3).write.parquet(store)  # 3 files
    rep = compact_store(spark, store, min_files_to_compact=1)
    data_dir = store_data_dir(store)
    out["compact"] = (rep["verified"], data_dir[len(base):].split("/")[2:4])
    out["compact_version"] = data_dir == f"{store}/{_VERSIONS}/{rep['version']}"
    out["compact_rows"] = sorted(r.id for r in spark.read.parquet(data_dir).collect())
    out["pruned"] = len(store_prune(store))
    out["store_root"] = [name for name, _, _ in listing(store)]

    ann = f"{base}/ann"
    vecs = [(i, [float(i % 2), float(1 - i % 2) + i / 100]) for i in range(8)]
    emb = spark.createDataFrame(vecs, "vec_id bigint, embedding array<double>")
    append_ann_store(emb.where("vec_id < 4"), ann, CENTROIDS)
    append_ann_store(emb.where("vec_id >= 4"), ann, CENTROIDS)
    ann_dir, cents = resolve_ann_store(ann)
    out["ann"] = (ann_dir[len(base):], cents)
    out["ann_rows"] = sorted(
        (r.ivf_cell, r.vec_id) for r in load_ann_store(spark, ann).collect()
    )

    idx = f"{base}/idx"
    append_text_index(spark.createDataFrame(DOCS, "doc_id long, text string"), idx)
    stop = materialize_stop_list(spark, idx, max_df_ratio=0.5)
    ti = load_text_index(spark, idx, max_df_ratio=0.5)
    out["text_index"] = (stop["n_stop_terms"], ti.n_docs, ti.avgdl)
    out["postings"] = sorted(tuple(r) for r in ti.postings.collect())

    bench = f"{base}/bench"
    meta = build_benchmark_store(
        spark.createDataFrame(DOCS[:2], "doc_id long, text string"), bench, n=3
    )
    out["bench"] = (meta, load_benchmark_store(spark, bench, n=3).meta)
    return out


@pytest.fixture(scope="module")
def round_trip(spark, tmp_path_factory):
    """One round trip per scheme, run on first use: (result, local dir)."""
    runs: dict[str, tuple[dict, Path]] = {}

    def run(scheme: str) -> tuple[dict, Path]:
        if scheme not in runs:
            local = tmp_path_factory.mktemp(f"round_trip_{scheme}")
            runs[scheme] = (_round_trip(spark, _base(spark, local, scheme)), local)
        return runs[scheme]

    return run


@pytest.mark.parametrize("scheme", ["file", "viewfs"])
def test_round_trip_equals_plain_path_run(round_trip, scheme):
    """(a) compaction → resolve → prune, two ANN appends → resolve, a
    BM25 index with its stop list and statistics sidecars, and a
    benchmark store give the plain-path results on every scheme."""
    plain, _ = round_trip("plain")
    assert plain["compact"] == (True, [_VERSIONS, plain["compact"][1][1]])
    assert plain["compact_version"] and plain["pruned"] > 0
    assert plain["text_index"][1] == len(DOCS)  # statistics sidecar read
    got, _ = round_trip(scheme)
    # version names are random; their position in the path is not
    assert got["compact"][1][0] == _VERSIONS
    got["compact"] = plain["compact"]
    assert got == plain


@pytest.mark.parametrize("scheme", ["plain", "file", "viewfs"])
def test_store_metadata_writes_no_crc(round_trip, scheme):
    """(c) storefs writes manifests and sidecars through the raw local
    FS: the only checksum files under a store are the ones Spark's own
    committer writes next to its data files and ``_SUCCESS`` markers."""
    _, local = round_trip(scheme)
    crc = [p for p in local.rglob("*.crc")]
    foreign = [
        p for p in crc if not (p.name.startswith(".part-") or p.name == "._SUCCESS.crc")
    ]
    assert foreign == []
    assert list(local.rglob("_MANIFEST")) and list(local.rglob("_CENTROIDS.json"))


@pytest.mark.parametrize("scheme", ["plain", "file", "viewfs"])
def test_publish_never_shows_a_reader_the_store_root(spark, tmp_path, scheme):
    """(b) a reader polling ``store_data_dir`` through 200 publishes
    always finds a manifest, and the manifest lands in the directory
    the store path names."""
    store = f"{_base(spark, tmp_path, scheme)}/store"
    _publish(store, "v0")
    stop = threading.Event()
    seen = {"polls": 0, "root": 0}

    def reader() -> None:
        while not stop.is_set():
            seen["polls"] += 1
            if store_data_dir(store) == store:
                seen["root"] += 1

    t = threading.Thread(target=reader)
    t.start()
    try:
        for i in range(1, 201):
            _publish(store, f"v{i}")
    finally:
        stop.set()
        t.join()
    assert seen["polls"] > 0 and seen["root"] == 0
    assert store_data_dir(store) == f"{store}/{_VERSIONS}/v200"
    assert (tmp_path / "store" / "_MANIFEST").read_text() == "v200\n"


def test_input_bytes_sizes_files_on_any_scheme(spark, tmp_path):
    """q32's size switch reads the same byte count through a viewfs
    mount as by plain path, and 0 for a frame with no input files.  The
    space in the directory name reaches it URI-escaped (``%20``)."""
    from jurimetria_etl_spark.plans.corpus import _input_bytes

    spark.range(1000).write.parquet(str(tmp_path / "line item"))
    plain = _input_bytes(spark.read.parquet(str(tmp_path / "line item")))
    mounted = _input_bytes(
        spark.read.parquet(f"{_mount(spark, tmp_path)}/line item")
    )
    assert plain > 0 and mounted == plain
    assert _input_bytes(spark.createDataFrame([(1,)], "x int")) == 0


_CALLERS = [
    "jurimetria_etl_spark/sinks/maintenance.py",
    "jurimetria_etl_spark/operators/ann_store.py",
    "jurimetria_etl_spark/operators/search.py",
    "jurimetria_etl_spark/operators/decontaminate.py",
    "jurimetria_etl_spark/streaming/curation.py",
    "jurimetria_etl_spark/plans/corpus.py",
]
_FILE_IO = re.compile(
    r"\bos\.(walk|listdir|stat|replace|rename|makedirs|remove|link|fsync)\("
    r"|\bos\.path\.(exists|isdir|isfile|getsize)\("
    r"|\bshutil\."
    r"|(?<![\w.])open\("
)


def test_store_modules_do_no_file_io_of_their_own():
    """(d) the store modules reach files only through storefs, and the
    temp-write-sync-rename sequence exists once, in storefs."""
    hits = {
        rel: _FILE_IO.findall((ROOT / rel).read_text(encoding="utf-8"))
        for rel in _CALLERS
    }
    assert {rel: h for rel, h in hits.items() if h} == {}
    syncs = {
        str(p.relative_to(ROOT)): len(re.findall(r"\.h?sync\(|fsync\(", p.read_text(encoding="utf-8")))
        for p in sorted((ROOT / "jurimetria_etl_spark").rglob("*.py"))
    }
    assert {rel: n for rel, n in syncs.items() if n} == {
        "jurimetria_etl_spark/storefs.py": 1
    }
