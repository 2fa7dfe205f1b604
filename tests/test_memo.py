"""The session memo's rules (jurimetria_etl_spark/memo.py): one build per
session and key, a session of its own for ``newSession()``, eviction with
release when the SparkContext changes, and ``clear()`` releasing
everything.  Stub builders and tiny frames only — no store is built."""

from __future__ import annotations

import os
import re
import tempfile
from pathlib import Path
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark import StorageLevel

from jurimetria_etl_spark import memo

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
