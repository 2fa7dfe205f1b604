"""The session memo's rules (jurimetria_etl_spark/memo.py): one build per
session and key, a session of its own for ``newSession()``, eviction with
release when the SparkContext changes, and ``clear()`` releasing
everything.  Stub builders and tiny frames only — no store is built."""

from __future__ import annotations

import ast
import json
import os
import re
import subprocess
import sys
import tempfile
from pathlib import Path
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark import StorageLevel

from jurimetria_etl_spark import memo
from tests.conftest import cached_relations
from tests.test_curation import SF

ROOT = Path(__file__).resolve().parents[1]


@pytest.fixture(autouse=True)
def _released():
    # Entries of the live session from earlier modules are released with
    # unpersist before a stub context evicts them without it.
    memo.clear()
    yield
    memo.clear()


def test_same_key_same_session_builds_once(spark):
    calls = []

    @memo.session_memo
    def build(spark, name, n=1):
        calls.append((name, n))
        return object()

    a = build(spark, "a")
    assert build(spark, "a", n=1) is a  # defaults bound into the key
    assert build(spark, "b") is not a
    assert calls == [("a", 1), ("b", 1)]


def test_cap_drops_the_oldest_entry(spark):
    calls = []

    @memo.session_memo(cap=2)
    def build(spark, name):
        calls.append(name)
        return name

    for name in ("a", "b", "c", "b", "a"):
        build(spark, name)
    assert calls == ["a", "b", "c", "a"]


def test_new_session_gets_its_own_entry(spark, tmp_path):
    from jurimetria_etl_spark.plans.extensions import _simhash_sigs

    pq.write_table(
        pa.table({"doc_id": [1, 2], "text": ["a b c d", "e f g h"]}),
        tmp_path / "documents.parquet",
    )
    s2 = spark.newSession()
    s1_sigs = _simhash_sigs(spark, str(tmp_path))
    s2_sigs = _simhash_sigs(s2, str(tmp_path))
    assert s1_sigs.sparkSession is spark
    assert s2_sigs.sparkSession is s2
    assert _simhash_sigs(s2, str(tmp_path)) is s2_sigs


class _StubSession:
    def __init__(self, app: str):
        self.sparkContext = SimpleNamespace(applicationId=app, startTime=0)


def test_new_context_evicts_and_releases(tmp_path):
    import shutil

    @memo.session_memo(release=lambda d: shutil.rmtree(d))
    def store(spark, name):
        return tempfile.mkdtemp(dir=tmp_path)

    old = _StubSession("app-1")
    d1 = store(old, "x")
    assert store(old, "x") == d1 and os.path.isdir(d1)
    d2 = store(_StubSession("app-2"), "x")
    assert not os.path.exists(d1)
    assert os.path.isdir(d2)
    assert store(old, "x") != d1  # the old context's entry is gone


def test_clear_releases_and_rebuilds(spark, tmp_path):
    import shutil

    calls = []

    @memo.session_memo
    def frame(spark):
        calls.append("frame")
        return spark.range(3).persist()

    @memo.session_memo(release=lambda v: shutil.rmtree(v[0]))
    def store(spark):
        calls.append("store")
        return tempfile.mkdtemp(dir=tmp_path), [0.0]

    df = frame(spark)
    d, _ = store(spark)
    assert df.storageLevel != StorageLevel.NONE
    memo.clear()
    assert df.storageLevel == StorageLevel.NONE
    assert not os.path.exists(d)
    assert frame(spark) is not df and store(spark)[0] != d
    assert calls == ["frame", "store", "frame", "store"]


def test_application_id_is_read_only_by_the_memo():
    """A hand-written session memo keys by applicationId; the memo module
    is the one place allowed to read it."""
    hits = [
        str(p.relative_to(ROOT))
        for base in ("jurimetria_etl_spark", "tools")
        for p in sorted((ROOT / base).rglob("*.py"))
        if re.search(r"\bapplicationId\b", p.read_text(encoding="utf-8"))
    ]
    assert hits == [os.path.join("jurimetria_etl_spark", "memo.py")]


def test_pinned_releases_when_the_body_raises(spark):
    df = spark.range(7)
    with pytest.raises(RuntimeError, match="write failed"):
        with memo.pinned(df):
            assert df.storageLevel != StorageLevel.NONE
            raise RuntimeError("write failed")
    assert df.storageLevel == StorageLevel.NONE


def test_pinned_leaves_a_cached_plan_cached(spark):
    """A pinned frame whose plan a session artifact already caches must
    not release that artifact on exit."""

    @memo.session_memo
    def artifact(spark):
        return spark.range(9).persist()

    art = artifact(spark)
    with memo.pinned(spark.range(9)) as df:
        assert df.count() == 9
    assert art.storageLevel != StorageLevel.NONE


def _is_session_memo(decorator: ast.expr) -> bool:
    target = decorator.func if isinstance(decorator, ast.Call) else decorator
    name = getattr(target, "id", None) or getattr(target, "attr", None)
    return name == "session_memo"


def _cache_calls(tree: ast.AST, memoized: bool = False):
    """(method, line, inside a @session_memo builder) of every
    ``.persist(`` / ``.cache(`` / ``.unpersist(`` call."""
    if isinstance(tree, (ast.FunctionDef, ast.AsyncFunctionDef)):
        memoized = memoized or any(
            _is_session_memo(d) for d in tree.decorator_list
        )
    if (
        isinstance(tree, ast.Call)
        and isinstance(tree.func, ast.Attribute)
        and tree.func.attr in ("persist", "cache", "unpersist")
    ):
        yield tree.func.attr, tree.lineno, memoized
    for child in ast.iter_child_nodes(tree):
        yield from _cache_calls(child, memoized)


def test_only_the_memo_decides_when_a_cached_relation_lives():
    """Session artifacts persist inside @session_memo builders, call
    scopes go through memo.pinned, and nothing else caches or releases
    a relation."""
    memo_py = os.path.join("jurimetria_etl_spark", "memo.py")
    stray = [
        f"{p.relative_to(ROOT)}:{line} .{attr}("
        for base in ("jurimetria_etl_spark", "tools")
        for p in sorted((ROOT / base).rglob("*.py"))
        if str(p.relative_to(ROOT)) != memo_py
        for attr, line, memoized in _cache_calls(
            ast.parse(p.read_text(encoding="utf-8"))
        )
        if attr == "unpersist" or not memoized
    ]
    assert stray == []


@pytest.mark.parametrize(
    "name",
    [
        "x28_duplicate_spans",
        "x38_split_guarded",
        "x14_ann_ivf",
        "x41_ann_store_topk",
    ],
)
def test_query_leaves_nothing_cached(spark, name):
    """The span query, the split query and the two ANN-store probes
    leave no cached relation behind, local checkpoints included: none
    materializes anything while its plan is built, and the store the
    probes share lives on disk.  The memo is cleared first, so a
    session artifact an earlier test built cannot hide in ``before``."""
    from jurimetria_etl_spark.plans.registry import REGISTRY

    memo.clear()
    before = cached_relations(spark, checkpoints=True)
    assert REGISTRY[name].spark(spark, SF).count() > 0
    assert cached_relations(spark, checkpoints=True) - before == set()


def test_store_directories_are_removed_at_exit(tmp_path):
    """x41's ANN store and x37b's BM25 store live in memo entries; a
    process that exits without ``clear()`` still removes them."""
    code = f"""
import json, os
from jurimetria_etl_spark.plans import extensions as X
from jurimetria_etl_spark.plans.registry import REGISTRY
from jurimetria_etl_spark.session import get_spark
spark = get_spark("memo-exit", master="local[2]", shuffle_partitions=8)
for name in ("x41_ann_store_topk", "x37b_hybrid_search_ann"):
    REGISTRY[name].spark(spark, {SF!r}).count()
dirs = [X._ann_store_dir(spark, {SF!r})[0], X._text_index_dir(spark, {SF!r})]
print(json.dumps({{d: os.path.isdir(d) for d in dirs}}))
"""
    run = subprocess.run(
        [sys.executable, "-c", code],
        cwd=ROOT,
        env={**os.environ, "TMPDIR": str(tmp_path), "SPARK_GRAFT_DRIVER_MEM": "1g"},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    dirs = json.loads(run.stdout.strip().splitlines()[-1])
    assert len(dirs) == 2 and all(dirs.values())  # built while running
    assert all(str(tmp_path) in d and not os.path.exists(d) for d in dirs)
    prefixes = ("ann_store_x41_", "text_index_x37b_")
    assert [p.name for p in tmp_path.iterdir() if p.name.startswith(prefixes)] == []
