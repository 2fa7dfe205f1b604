"""The store filesystem layer: the on-disk store format and every store
file read or write, over ``org.apache.hadoop.fs.FileSystem``.

The incremental stores (ANN — the SemDeDup gate's store too — BM25
postings and sidecars, span, bloom, benchmark probe, curation corpus)
are parquet trees plus small ``_``-prefixed files that Spark's file
listing ignores.  This module is the one place that knows that format
and the one place that touches those files.  It reaches them through
the Hadoop FileSystem of the active SparkContext, so a store behaves
the same on a plain path, ``file:``, ``viewfs:`` or ``hdfs:`` —
whatever Spark itself reads and writes.  The landing reader
(``sources/landing.py``) lists its zones through the same layer.

Store format:

- ``<store>/_versions/<hex>/`` — one directory per generation;
- ``<store>/_MANIFEST`` — one line naming the current generation.  A
  plain directory (never compacted) has none and is its own data dir;
- ``_*.json`` — generation sidecars (geometry and parameter contracts),
  inside a generation dir or at the store root.

A new generation goes through ONE transaction, ``publish_generation``:
fresh version dir → caller writes → row-count check (mismatch drops the
dir) → carry the sidecars → publish the manifest.

Small files (manifest, sidecars) are written to a temp sibling, synced,
and renamed over the target.  Where the path first resolves through
``FileSystem.resolvePath`` (``viewfs`` → its mount target), the rename
guarantee per target is:

=============================  ==========================  ===========================
target                         rename                      a reader polling the file
=============================  ==========================  ===========================
local disk (plain path,        raw local FS ``rename`` —   always sees the old or the
``file:``, viewfs onto local)  POSIX ``rename(2)``         new file, never none
``hdfs:``                      ``FileContext`` rename,     the same — one NameNode
                               ``Rename.OVERWRITE``        operation
other schemes (object stores)  the same ``FileContext``    can find no file during the
                               call, delete-then-rename    swap: not atomic
=============================  ==========================  ===========================

The checksummed local FS's own overwrite rename returns ``False`` on an
existing target, and its ``FileContext`` OVERWRITE is delete-then-rename,
so local targets go through the raw FS.  That also keeps ``.crc``
siblings out of the store (a stale one fails a later checksummed read).
``link_tree`` hardlinks on local targets (``org.apache.hadoop.fs.HardLink``:
a new generation shares its untouched partitions' inodes) and copies on
every other scheme.
"""

from __future__ import annotations

import functools
import json
import os
import uuid

from py4j.java_gateway import is_instance_of
from py4j.protocol import Py4JJavaError
from pyspark import SparkContext

_MANIFEST = "_MANIFEST"
_VERSIONS = "_versions"


# ── Hadoop handles ─────────────────────────────────────────────────────────


def _sc() -> SparkContext:
    sc = SparkContext._active_spark_context
    if sc is None:
        raise RuntimeError(
            "storefs needs an active SparkContext: store paths resolve "
            "through its Hadoop configuration"
        )
    return sc


@functools.lru_cache(maxsize=None)
def _jclass(gateway, name: str):
    """A JVM class handle, looked up once per gateway (each package
    segment of a lookup is a py4j round trip)."""
    obj = gateway.jvm
    for part in name.split("."):
        obj = getattr(obj, part)
    return obj


def _j(name: str):
    return _jclass(_sc()._gateway, name)


def _conf():
    return _sc()._jsc.hadoopConfiguration()


def _fs(path: str):
    """(FileSystem, Path) the way Spark sees ``path``."""
    p = _j("org.apache.hadoop.fs.Path")(path)
    return p.getFileSystem(_conf()), p


def _target(path: str):
    """(FileSystem, Path, is_local) that writes to ``path`` land on:
    ``viewfs`` resolved to its mount target, a checksummed FS unwrapped
    to its raw FS.  ``resolvePath`` needs an existing path, so it resolves the
    deepest existing ancestor and re-appends the rest."""
    Path = _j("org.apache.hadoop.fs.Path")
    fs, head = _fs(path)
    tail = []
    while not fs.exists(head):
        tail.append(head.getName())
        head = head.getParent()
    p = fs.resolvePath(head)
    for name in reversed(tail):
        p = Path(p, name)
    fs = p.getFileSystem(_conf())
    if is_instance_of(_sc()._gateway, fs, "org.apache.hadoop.fs.ChecksumFileSystem"):
        fs = fs.getRawFileSystem()
    return fs, p, p.toUri().getScheme() == "file"


# ── files ──────────────────────────────────────────────────────────────────


# Reads test ``exists`` first instead of catching a not-found error: a
# Java exception costs dozens of py4j round trips to convert, and a
# missing manifest or sidecar is the common case (plain directories).
# Manifests and sidecars are only ever replaced, never deleted; a
# directory pruned between the two calls raises.


def is_dir(path: str) -> bool:
    fs, p = _fs(path)
    return bool(fs.exists(p) and fs.getFileStatus(p).isDirectory())


def listing(path: str) -> list[tuple[str, bool, int]]:
    """``(name, is_dir, bytes)`` of each entry of a directory, sorted by
    name; ``[]`` when it does not exist."""
    fs, p = _fs(path)
    if not fs.exists(p):
        return []
    return sorted(
        (s.getPath().getName(), bool(s.isDirectory()), int(s.getLen()))
        for s in fs.listStatus(p)
    )


def walk(path: str, skip: frozenset[str] = frozenset()):
    """``(relative path, bytes)`` of every visible file under ``path``,
    depth-first in name order.  Entries named ``_*`` or ``.*`` are not
    visible (Spark's own listing rule: manifest, sidecars, markers,
    checksums), nor are the top-level names in ``skip``."""
    for name, is_directory, size in listing(path):
        if name.startswith(("_", ".")) or name in skip:
            continue
        if is_directory:
            for rel, n in walk(os.path.join(path, name)):
                yield f"{name}/{rel}", n
        else:
            yield name, size


def dir_stats(path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) of the parquet files Spark would read
    under ``path``."""
    sizes = [n for rel, n in walk(path) if rel.endswith(".parquet")]
    return len(sizes), sum(sizes)


def size(path: str) -> int:
    """Bytes of one file."""
    fs, p = _fs(path)
    return int(fs.getFileStatus(p).getLen())


def read_bytes(path: str) -> bytes | None:
    """The whole file, or ``None`` when it does not exist."""
    fs, p = _fs(path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return bytes(stream.readAllBytes())
    finally:
        stream.close()


def read_json(path: str):
    """The parsed JSON file, or ``None`` when it does not exist."""
    raw = read_bytes(path)
    return None if raw is None else json.loads(raw)


def _write_atomic(path: str, data: bytes) -> None:
    """THE small-file write: a temp sibling, synced, renamed over
    ``path`` (per-target guarantee in the module docstring)."""
    parent, name = os.path.split(path.rstrip("/"))
    Path = _j("org.apache.hadoop.fs.Path")
    fs, d, local = _target(parent)
    fs.mkdirs(d)
    tmp, dst = Path(d, f"{name}.tmp_{uuid.uuid4().hex[:8]}"), Path(d, name)
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(data))
        out.hsync()
    finally:
        out.close()
    if local:
        if not fs.rename(tmp, dst):
            raise OSError(f"storefs: rename {tmp} -> {dst} failed")
        return
    Rename = _j("org.apache.hadoop.fs.Options.Rename")
    opts = _sc()._gateway.new_array(Rename, 1)
    opts[0] = Rename.OVERWRITE
    fc = _j("org.apache.hadoop.fs.FileContext").getFileContext(d.toUri(), _conf())
    fc.rename(tmp, dst, opts)


def write_json(path: str, obj) -> None:
    """Atomically replace ``path`` with ``obj`` as JSON."""
    _write_atomic(path, json.dumps(obj).encode("utf-8"))


def remove(path: str) -> None:
    """Delete a file or a whole tree (no-op when absent)."""
    fs, p = _fs(path)
    fs.delete(p, True)


def rename(src: str, dst: str) -> None:
    fs, p = _fs(src)
    if not fs.rename(p, _j("org.apache.hadoop.fs.Path")(dst)):
        raise OSError(f"storefs: rename {src} -> {dst} failed")


def link_tree(src: str, dst: str, skip: frozenset[str] = frozenset()) -> None:
    """Place every visible file of ``src``'s tree at the same relative
    path under ``dst`` (top-level names in ``skip`` excepted): hardlinks
    when both resolve to local disk — untouched partitions cost no data
    movement, parquet files are immutable, and pruning the old
    generation never breaks a link — falling back to a copy when the
    link is refused; a copy on any other scheme."""
    Path, conf = _j("org.apache.hadoop.fs.Path"), _conf()
    File = _j("java.io.File")
    sfs, sp, src_local = _target(src)
    dfs, dp, dst_local = _target(dst)
    local = src_local and dst_local
    for rel, _ in walk(src, skip):
        s, d = Path(sp, rel), Path(dp, rel)
        dfs.mkdirs(d.getParent())
        if local:
            try:
                _j("org.apache.hadoop.fs.HardLink").createHardLink(
                    File(s.toUri().getPath()), File(d.toUri().getPath())
                )
                continue
            except Py4JJavaError:
                pass
        _j("org.apache.hadoop.fs.FileUtil").copy(sfs, s, dfs, d, False, conf)


def parquet_columns(data_dir: str) -> set[str] | None:
    """Column names of a generation's data: ONE parquet footer read
    (parquet-hadoop, no Spark job) of its first data file, plus the hive
    partition keys on that file's path.  ``None`` when the tree holds no
    data file yet."""
    for rel, _ in walk(data_dir):
        if not rel.endswith(".parquet"):
            continue
        _, p = _fs(os.path.join(data_dir, rel))
        reader = _j("org.apache.parquet.hadoop.ParquetFileReader").open(
            _j("org.apache.parquet.hadoop.util.HadoopInputFile").fromPath(p, _conf())
        )
        try:
            fields = reader.getFileMetaData().getSchema().getFields()
            cols = {f.getName() for f in fields}
        finally:
            reader.close()
        return cols | {seg.split("=", 1)[0] for seg in rel.split("/")[:-1] if "=" in seg}
    return None


# ── the manifested store ───────────────────────────────────────────────────


def _current_version(store: str) -> str | None:
    raw = read_bytes(os.path.join(store, _MANIFEST))
    return None if raw is None else raw.decode("utf-8").strip()


def store_data_dir(store: str) -> str:
    """Resolve the directory readers should scan.

    Manifested store → the version directory the ``_MANIFEST`` names.
    Plain directory (no manifest) → the directory itself, so every
    consumer can resolve through this unconditionally and legacy stores
    keep working unchanged."""
    version = _current_version(store)
    return store if version is None else os.path.join(store, _VERSIONS, version)


def _publish(store: str, version: str) -> None:
    """Point the manifest at ``version``: a reader sees the old or the
    new manifest in full (on local disk and HDFS — see the table above)."""
    _write_atomic(os.path.join(store, _MANIFEST), f"{version}\n".encode("utf-8"))


def _copy_sidecars(src_dir: str, dst_dir: str) -> None:
    """Carry ``src_dir``'s ``_*.json`` generation sidecars (geometry
    contracts, not data) into ``dst_dir``, except those ``dst_dir``
    already has — a sidecar the new generation wrote itself wins."""
    have = {name for name, _, _ in listing(dst_dir)}
    for name, is_directory, _ in listing(src_dir):
        if (
            not is_directory
            and name.startswith("_")
            and name.endswith(".json")
            and name not in have
        ):
            _write_atomic(
                os.path.join(dst_dir, name),
                read_bytes(os.path.join(src_dir, name)),
            )


def publish_generation(
    spark, store: str, src: str, write, expected_rows: int, what: str = "source rows"
) -> dict:
    """The one verify-then-publish transaction for a new store generation.

    ``write(vdir)`` fills a fresh ``<store>/_versions/<hex>`` directory
    (it may also write its own ``_*.json`` sidecars there).  Its row
    count must equal ``expected_rows`` (``what`` names them in the
    report): a mismatch removes the directory — the current generation
    was never touched — and reports ``skipped``.  Otherwise the
    sidecars of ``src`` (the generation the rewrite read) that ``write``
    did not replace are carried over BEFORE the manifest publish: a
    version dir without its geometry sidecar would fall back to the
    store-root copy and reopen the recluster race the embedding closes.

    Returns ``{skipped, verified, version, rows}`` or, on a mismatch,
    ``{skipped, verified, reason}``."""
    version = uuid.uuid4().hex[:12]
    vdir = os.path.join(store, _VERSIONS, version)
    write(vdir)
    rows = spark.read.parquet(vdir).count()
    if rows != expected_rows:
        remove(vdir)
        return {
            "skipped": True,
            "verified": False,
            "reason": f"rewrite rows {rows} != {what} {expected_rows}",
        }
    _copy_sidecars(src, vdir)
    _publish(store, version)
    return {"skipped": False, "verified": True, "version": version, "rows": rows}


def store_prune(store: str) -> list[str]:
    """Delete every non-current generation: old version directories and —
    once a manifest exists — the legacy root files a plain-dir upgrade
    left behind, INCLUDING hive-style ``col=value`` root subdirectories
    (once a manifest exists those are by construction a pre-compaction
    generation, and leaving them would both leak disk unboundedly and
    keep legacy-path readers on stale data forever).  ONLY hive-style
    names are reclaimed: a co-located directory that is not a ``k=v``
    partition dir (manual exports, notes, foreign data) is never a
    legacy generation and is left untouched.  Call AFTER the reader
    grace period; the current version, the manifest, and everything
    ``_``-prefixed are never touched.  Returns removed paths."""
    current = _current_version(store)
    if current is None:
        return []
    vroot = os.path.join(store, _VERSIONS)
    removed = [
        os.path.join(vroot, name)
        for name, _, _ in listing(vroot)
        if name != current
    ]
    for name, is_directory, _ in listing(store):
        if name.startswith("_"):
            continue  # manifest, _versions, _SUCCESS-style markers
        # a root parquet file goes with its checksum sibling; of the root
        # directories, ONLY hive-style `k=v` ones are the pre-manifest
        # partition layout — anything else is foreign data
        if (is_directory and name.find("=") > 0) or (
            not is_directory and name.endswith(".parquet")
        ):
            removed.append(os.path.join(store, name))
    for path in removed:
        remove(path)
    return removed
