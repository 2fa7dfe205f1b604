"""One session-scoped memo for build-once artifacts.

Retrieval and dedup queries read artifacts that a production corpus
builds once at ingest and then serves every query from: simhash and LSH
signatures, the persisted ANN (IVF) and BM25 stores, fixture
readers, and the literal plane and centroid matrices.  Charging each
query that build would misprice the steady state, so a session pays it
on first use and reuses the result afterwards.  The reuse is explicit
and scoped, because what is built is bound to where it was built: a
frame to the SparkSession that made it, a Column or a persisted relation
to the SparkContext's JVM objects.

- **Key.** The SparkContext's ``(applicationId, startTime)``, the
  SparkSession, and the builder's own arguments.  ``id(sc)`` alone is
  unsafe: CPython can reuse it for a new context after the old one is
  collected, which would hand out objects of a dead JVM context.
- **Eviction.** On the first miss under a new SparkContext every entry of
  another context is dropped and its ``release`` runs (a store directory
  is removed).  Frames and Columns of a stopped context are only dropped.
- **clear().** Releases every entry: persisted frames of the live context
  are unpersisted and store directories removed; the next call rebuilds.
- **Exit.** At interpreter exit every remaining entry's ``release`` runs,
  so a store directory does not outlive its process; nothing is
  unpersisted, since the JVM context goes with the process.
- **cap.** Only where keys come from data: the oldest of the builder's
  entries is released first.

Every cached relation the library makes has one of three lifetimes, and
this module is the only one that releases a cached relation:

=============  ====================================  ==========================
lifetime       how                                   released
=============  ====================================  ==========================
session        ``.persist()`` inside a               ``clear()``, cap, or a new
               ``@session_memo`` builder             SparkContext
call           ``with pinned(df):``                  when the block exits,
                                                     raised or not
returned plan  nothing cached; a frame materialized  with the plan: Spark's
               while the plan is built is a          ContextCleaner drops the
               ``localCheckpoint``                   checkpoint after a JVM
                                                     garbage collection finds
                                                     the plan unreferenced
=============  ====================================  ==========================

A ``persist()``-ed frame is never freed by garbage collection: the
CacheManager holds it until ``unpersist()``.  So no returned plan may
depend on one; a lazy plan that reads a shared subtree twice relies on
Spark's exchange reuse instead.
"""

from __future__ import annotations

import atexit
import contextlib
import functools
import inspect
import threading
from collections.abc import Callable
from typing import Any

from pyspark import SparkContext, StorageLevel
from pyspark.sql import DataFrame, SparkSession

# (context token, session, builder, builder key) -> (value, release)
_ENTRIES: dict[tuple, tuple[Any, Callable[[Any], None] | None]] = {}
_LOCK = threading.RLock()  # reentrant: a build may call other memoized builders


def _context(sc: SparkContext) -> tuple[str, int]:
    return (sc.applicationId, sc.startTime)


def _drop(entry: tuple, live: bool) -> None:
    value, release = _ENTRIES.pop(entry)
    if live:
        for v in value if isinstance(value, tuple) else (value,):
            if isinstance(v, DataFrame):
                v.unpersist()
    if release is not None:
        release(value)


def session_memo(
    build: Callable | None = None,
    *,
    key: Callable[..., tuple] | None = None,
    release: Callable[[Any], None] | None = None,
    cap: int | None = None,
):
    """Decorator: run ``build`` once per session and key, return its value
    on every later call.

    A builder whose first parameter is ``spark`` is scoped to that
    session; any other builder (a Column literal) to
    ``SparkSession.active()``.  The key is the builder's remaining
    arguments with defaults applied, or ``key(*args, **kwargs)`` when
    given.  ``release(value)`` frees what the value owns outside the
    driver, such as a store directory.
    """
    if build is None:
        return functools.partial(session_memo, key=key, release=release, cap=cap)
    sig = inspect.signature(build)
    takes_session = next(iter(sig.parameters), None) == "spark"

    @functools.wraps(build)
    def memoized(*args, **kwargs):
        spark = args[0] if takes_session else SparkSession.active()
        if key is not None:
            own = key(*args, **kwargs)
        else:
            bound = sig.bind(*args, **kwargs)
            bound.apply_defaults()
            own = tuple(bound.arguments.values())[int(takes_session):]
        ctx = _context(spark.sparkContext)
        entry = (ctx, spark, build, own)
        with _LOCK:
            if entry in _ENTRIES:
                return _ENTRIES[entry][0]
            for stale in [e for e in _ENTRIES if e[0] != ctx]:
                _drop(stale, live=False)
            if cap is not None:
                mine = [e for e in _ENTRIES if e[2] is build]
                if len(mine) >= cap:
                    _drop(mine[0], live=True)
            value = build(*args, **kwargs)
            _ENTRIES[entry] = (value, release)
            return value

    return memoized


def clear() -> None:
    """Release every entry; the next call of each builder rebuilds."""
    sc = SparkContext._active_spark_context
    live = _context(sc) if sc is not None else None
    with _LOCK:
        for entry in list(_ENTRIES):
            _drop(entry, live=entry[0] == live)


@atexit.register
def _release_at_exit() -> None:
    with _LOCK:
        for entry in list(_ENTRIES):
            _drop(entry, live=False)


@contextlib.contextmanager
def pinned(df: DataFrame):
    """Cache ``df`` for the body of a ``with`` block and release it when
    the block exits, raised or not: a call-scoped working set that
    several actions of one call read.  A frame whose plan is already
    cached (a session artifact) is used as it is and left cached."""
    owned = df.storageLevel == StorageLevel.NONE
    if owned:
        df.persist()
    try:
        yield df
    finally:
        if owned:
            df.unpersist()
