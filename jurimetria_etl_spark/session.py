"""SparkSession factory with scale-aware defaults.

Design notes (SURVEY.md §4, §7):
- Session timezone pinned to UTC: timestamps are stored as UTC instants and
  America/Sao_Paulo is applied only at derivation points via
  ``from_utc_timestamp`` (reference carries per-value tz —
  ``/root/reference/src/jurimetria_pipeline.py:51-58``).
- AQE on: runtime skew-join handling + dynamic coalescing of shuffle
  partitions, which is what makes one config serve sf0.001 tests and a
  1000-executor 100 TB run.
- ``spark.sql.shuffle.partitions`` defaults to the local core count (the
  driver harness runs local[N]); on a real cluster this is overridden by AQE's
  coalescing with ``initialPartitionNum`` headroom.

Driver-held rows (a request's keyword queries and probe cells, a
collected stop list, percentile targets, an audit row, an empty frame)
become DataFrames through ``local_frame`` and nowhere else.  The list
form, ``spark.createDataFrame(rows, schema)``, ships the rows through
``parallelize`` into a ``PythonRDD`` and ``applySchemaToPythonRDD``:
every literal frame runs a ``defaultParallelism``-wide stage of
Python-worker tasks, whatever its size.  ``local_frame`` runs the same driver-side checks and conversions as
the list form, then hands Spark an Arrow table, which plans as a
``LocalRelation`` (``LocalTableScan``): no Python worker, and the
optimizer knows the relation's exact size.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "jurimetria-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Local test/bench mode: ``local[$SPARK_GRAFT_CPUS]``.  On a cluster, pass
    ``master=None`` with an externally-submitted application; only the SQL
    confs below matter there.
    """
    cpus = DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        # AQE coalescing only shrinks partitions — the pinned shuffle
        # count above would otherwise CAP every cluster shuffle at the
        # local core count (multi-TB partitions at 100 TB).  A high
        # initialPartitionNum gives AQE real headroom: shuffles START
        # wide and coalesce down to the data, locally and on a cluster.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS", "2048"),
        )
        # Let AQE optimize (and in particular COALESCE) the plans that
        # materialize persisted/cached frames (r16).  Spark defaults this
        # off so a cache's output partitioning stays predictable for
        # downstream exchange reuse, but with the wide
        # initialPartitionNum above that default makes every
        # persist()-backed frame in the span/dedup/similarity operators
        # execute its shuffles at the FULL initial width — measured:
        # x28's candidate-id cache materialized through 2048-task
        # stages on kilobytes of data, uncoalesced, at every scale.
        # None of this repo's caches rely on cached output partitioning
        # (each is consumed through joins/aggregations that plan their
        # own exchanges), so the coalesce is pure win.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        # Arrow for the (few) pandas_udf paths — vectorized transfer.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Nested-schema pruning so struct projections reach the parquet scan.
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Split-size floor when files are small: the default 4 MB open-cost
        # floors a 10 MB table at ~3 splits, serializing CPU-dense aggs on
        # 3 of 32 cores.  512 KB biases small tables toward full-width
        # parallelism; big files are still governed by maxPartitionBytes
        # (128 MB), so the 100 TB scan plan is unchanged.
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        # Python Data Source filter pushdown (the datajud source prunes
        # tribunal partitions from pushed filters).
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Driver fixtures carry TIMESTAMP(NANOS) parquet columns; read them
        # as epoch-nanos longs (normalized in sources/fixtures.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    if master is not None:
        builder = builder.master(master)
    elif not SparkSession.getActiveSession():
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows, schema: StructType | str
) -> DataFrame:
    """``rows`` (tuples or Rows, positional to ``schema``; a DDL string
    or a ``StructType``) as an Arrow-backed local relation.

    Each row passes ``createDataFrame``'s own type verifier (an int32
    overflow, a wrong type or a NULL in a non-nullable field raises as
    it does there) and its own ``toInternal`` conversion, so a naive
    ``datetime`` reads as process-local time exactly as the list form
    reads it.  The internal values (epoch micros, epoch days, tuples
    for structs) are built straight into arrays of the target Arrow
    types."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _create_converter, _make_type_verifier

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    verify, convert = _make_type_verifier(schema), _create_converter(schema)
    internal = []
    for row in rows:
        verify(row)
        internal.append(schema.toInternal(convert(row)))
    arrow = to_arrow_schema(schema)
    columns = list(zip(*internal)) if internal else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


def python_fed_scans(df: DataFrame) -> int:
    """Number of ``Scan ExistingRDD`` leaves in ``df``'s physical plan
    whose RDD lineage runs through a ``PythonRDD``: list-built literal
    frames, each a stage of Python-worker tasks when it runs.  A
    checkpoint prints the same node name over JVM-held blocks, so the
    plan string alone cannot tell the two apart.  The walk enters
    adaptive plans, query stages, reused exchanges, subqueries and
    cached relations."""

    def walk(plan):
        yield plan
        name = plan.getClass().getSimpleName()
        inner = [
            seq.apply(i)
            for seq in (plan.children(), plan.subqueries())
            for i in range(seq.size())
        ]
        if name == "AdaptiveSparkPlanExec":
            inner.append(plan.executedPlan())
        elif name.endswith("QueryStageExec"):
            inner.append(plan.plan())
        elif name.startswith("Reused"):
            inner.append(plan.child())
        elif name == "InMemoryTableScanExec":
            inner.append(plan.relation().cachedPlan())
        for child in inner:
            yield from walk(child)

    return sum(
        node.getClass().getSimpleName() == "RDDScanExec"
        and "PythonRDD" in node.rdd().toDebugString()
        for node in walk(df._jdf.queryExecution().executedPlan())
    )
