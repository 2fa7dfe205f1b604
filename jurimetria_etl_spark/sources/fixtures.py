"""Driver fixture tables (/root/testdata/sf*/, FIXTURES.md §B)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jurimetria_etl_spark.memo import session_memo
from jurimetria_etl_spark.schemas import FIXTURE_TABLES


# Session-memoized (memo.py): a fresh reader costs ~0.3s of driver RPC +
# footer/schema inference per call, and every corpus query loads 1-5
# tables.  The file listing is pinned at first read, so regenerating a
# fixture directory in-process needs ``memo.clear()``.
@session_memo(key=lambda spark, sf_dir, table: (sf_dir.rstrip("/"), table))
def load_fixture(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one fixture table.

    The driver writes ``events.ts`` as TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects; with ``spark.sql.legacy.parquet.nanosAsLong``
    (set in session.py) it surfaces as a long of epoch-nanos — normalized
    here to a proper TimestampType via exact integer division (micros
    truncation, matching DuckDB's nanos→micros read).
    """
    try:  # runtime-settable SQL conf; the driver's session may not have it
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def register_fixture_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql paths."""
    for t in FIXTURE_TABLES:
        load_fixture(spark, sf_dir, t).createOrReplaceTempView(t)
