"""Raw-JSON landing ingest: the at-scale DataJud path.

The REST adapter (sources/datajud.py) is inherently serial per tribunal;
at sustained volume the right architecture (SCALE.md §Ingest) lands each
fetched page as JSON-lines on object storage — partitioned by tribunal —
and the ENGINE reads files.  These readers are that second half: the
same HIT_SCHEMA rows and the same ``flatten_hits`` projection as the
live adapter, so the analytic plan is byte-identical whichever ingest
ran (pinned in tests/test_landing.py).

Cited vs reference: the reference only ever parses in-process API
responses (`/root/reference/src/jurimetria_pipeline.py:163-179`); the
landing layout is the scale re-expression, not a ported feature.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from jurimetria_etl_spark import storefs
from jurimetria_etl_spark.operators.flatten import flatten_hits
from jurimetria_etl_spark.schemas import HIT_SCHEMA


def read_hits_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Raw hit rows from a JSON-lines landing tree.  The explicit
    HIT_SCHEMA skips inference (one full pre-scan of 100 TB otherwise)
    and pins the nested struct shape; malformed lines surface as
    all-NULL rows under the default PERMISSIVE mode — the same
    tolerance the live adapter's guards give."""
    return spark.read.schema(HIT_SCHEMA).json(path)


def _landing_layouts(path: str) -> tuple[bool, bool]:
    """(has_pull_dirs, has_flat_tribunal_dirs) — which landing layouts
    exist under ``path``, listed through ``storefs`` over the Hadoop
    FileSystem so the sniff sees the SAME filesystem Spark reads
    (HDFS/S3/local alike).  A driver-local ``os.listdir`` here would
    return (False, False) on any remote zone and silently drop every
    ``pull_id=``-landed partition from ``read_processos_landing``.  A
    missing path lists as empty; other listing errors propagate — a
    misconfigured zone must fail loudly, not read partially."""
    names = [name for name, is_dir, _ in storefs.listing(path) if is_dir]
    return (
        any(n.startswith("pull_id=") for n in names),
        any(n.startswith("tribunal=") for n in names),
    )


def read_processos_landing(
    spark: SparkSession,
    path: str,
    tribunal: str | Column | None = None,
) -> DataFrame:
    """Flattened analytic table (PROCESSO_SCHEMA) straight from a landing
    tree.  ``tribunal=None`` expects a hive-partitioned layout and takes
    the value from the partition directory — pure file-listing metadata,
    which also makes per-tribunal queries partition-pruned at the source.
    Both layouts are read (and unioned when a zone holds both):

    - idempotent pulls: ``.../pull_id=<id>/tribunal=TJCE/*.json``
    - legacy flat appends: ``.../tribunal=TJCE/*.json``

    The ``pull_id`` partition column never reaches the analytic frame —
    it exists so retried pulls overwrite themselves (``land_hits``)."""
    if tribunal is not None:
        return flatten_hits(read_hits_jsonl(spark, path), tribunal)
    has_pulls, has_flat = _landing_layouts(path)
    frames: list[DataFrame] = []
    if has_pulls:
        hits = spark.read.schema(HIT_SCHEMA).option("basePath", path).json(
            f"{path}/pull_id=*/tribunal=*"
        )
        frames.append(flatten_hits(hits, F.col("tribunal")))
    if has_flat or not frames:
        hits = spark.read.schema(HIT_SCHEMA).option("basePath", path).json(
            f"{path}/tribunal=*"
        )
        frames.append(flatten_hits(hits, F.col("tribunal")))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def land_hits(
    hits_with_tribunal: DataFrame, out_dir: str, pull_id: str | None = None
) -> None:
    """The WRITE half of the landing loop: persist a
    ``DataJudSource.parallel_scan`` frame — (tribunal, hit-struct) rows —
    as tribunal-partitioned JSON-lines that ``read_processos_landing``
    reads back byte-compatibly.  Executors write their own partitions (no
    driver collect), and the partitionBy dirs are exactly the pruning
    layout the readers exploit.  Compact with ``sinks.maintenance`` once
    a landing zone accumulates small files.

    ``pull_id`` makes the landing IDEMPOTENT: each scheduler pull owns
    the partition directory ``<out_dir>/pull_id=<id>/`` and lands with
    OVERWRITE, so a retried pull (scheduler crash after a partial write,
    an at-least-once trigger firing twice) replaces its own output
    instead of double-landing pages — the same manifest discipline
    ``sinks.maintenance`` applies to stores, pushed down to the pull
    grain.  Without a pull_id the legacy blind append is kept for
    ad-hoc/one-shot landings (retries there duplicate rows; downstream
    incremental dedup tolerates it, but scheduled loops should always
    pass the scheduler's run id)."""
    if pull_id is not None and not re.fullmatch(r"[A-Za-z0-9._:-]+", pull_id):
        raise ValueError(
            "landing: pull_id must be filesystem-safe "
            "([A-Za-z0-9._:-]+), got " + repr(pull_id)
        )
    flat = hits_with_tribunal.select("tribunal", "hit.*")
    if pull_id is None:
        flat.write.mode("append").partitionBy("tribunal").json(out_dir)
        return
    target = f"{out_dir.rstrip('/')}/pull_id={pull_id}"
    # Pin STATIC overwrite for this write even if the session default is
    # dynamic: exactly-once means the retry replaces the pull directory
    # WHOLLY — under dynamic mode a retry observing fewer tribunals than
    # a previous partial attempt would leave the stale tribunal dirs in
    # place.
    (
        flat.write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("tribunal")
        .json(target)
    )
