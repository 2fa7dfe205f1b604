"""Batch sinks (SURVEY §2.2).

K1 parquet-zstd, K2 csv, K3 empty-input guard, K4 JPEG histogram chart —
mirroring ``/root/reference/src/jurimetria_pipeline.py:260-296`` with Spark
writers.  pandas writes one file; Spark writes a directory — ``single_file``
writes one part file for artifact-compatible layouts (SURVEY §7 hard-part
7).  The Parquet write shuffles to one writer task rather than
``coalesce(1)``, which Spark folds into the upstream stage and so would run
the whole ingest (fetch, parse, flatten, render) in that one task.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jurimetria_etl_spark.functions.temporal import SP_TZ, hour_in_sp


def write_parquet(df: DataFrame, path: str, single_file: bool = False) -> None:
    """K1 — Parquet, zstd (reference ``:266``).  ``single_file`` shuffles
    to one writer task, so the upstream keeps its parallelism; the
    ``monotonically_increasing_id`` tag encodes (partition, row), so
    sorting by it keeps ``coalesce(1)``'s row order on any cluster."""
    if single_file:
        tagged = df.select("*", F.monotonically_increasing_id().alias("__order"))
        df = tagged.repartition(1).sortWithinPartitions("__order").drop("__order")
    df.write.mode("overwrite").option("compression", "zstd").parquet(path)


def _csv_ready(df: DataFrame) -> DataFrame:
    """Spark CSV can't carry arrays/structs: serialize them to JSON at the
    CSV boundary only (the reference serializes movimentos for pyarrow at
    ``:239-255``; the engine keeps nested types native in Parquet)."""
    cols = []
    for f in df.schema.fields:
        if f.dataType.typeName() in ("array", "struct", "map"):
            cols.append(F.to_json(F.col(f.name)).alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(cols)


def write_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """K2 — header CSV (reference ``:267``).  ``single_file`` keeps
    ``coalesce(1)``: callers pass the one-file Parquet read-back, already
    one partition, so it serializes nothing."""
    out = _csv_ready(df)
    out = out.coalesce(1) if single_file else out
    out.write.mode("overwrite").option("header", True).csv(path)


def persist(df: DataFrame, out_dir: str, single_file: bool = True) -> bool:
    """K1+K2+K3 — returns True if data was written (see ``write_artifacts``)."""
    return write_artifacts(df, out_dir, single_file)[1] > 0


def write_artifacts(
    df: DataFrame, out_dir: str, single_file: bool = True
) -> tuple[DataFrame, int]:
    """Write the Parquet and CSV artifacts; return the Parquet's read-back
    and its row count.  ``df``'s lineage runs once, into the Parquet; the
    count and CSV read that table back (a ``.cache()`` of the corpus is a
    memory trap at 100 TB).  On a count of 0 the Parquet is rolled back,
    leaving no artifacts (reference ``:261-263``), and the read-back must
    not be used."""
    out = Path(out_dir)
    pq_path = out / "jurimetria.parquet"
    out.mkdir(parents=True, exist_ok=True)
    write_parquet(df, str(pq_path), single_file)
    back = df.sparkSession.read.parquet(str(pq_path))
    total = back.count()
    print(f"Total de processos: {total:,}")
    if total == 0:
        shutil.rmtree(pq_path, ignore_errors=True)
        if not any(out.iterdir()):
            out.rmdir()
        print("Nenhum dado para persistir.")
    else:
        write_csv(back, str(out / "jurimetria.csv"), single_file)
    return back, total


def render_movimentos_json(df: DataFrame, col: str = "movimentos") -> DataFrame:
    """F7+F8 — movimentos array<struct> → JSON string with SP-rendered ISO
    timestamps (the reference's serialize step ``:239-255``).  Canonical form
    is Spark ``to_json``; oracle comparisons parse, not byte-compare.  The
    regex drops an all-zero fraction from ``data_hora`` values only (the
    ``pd.Timestamp.isoformat()`` shape ``iso_render_sp`` pins); quotes in
    ``nome`` are escaped, so its text never matches the anchor."""
    opts = {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX", "timeZone": SP_TZ}
    whole_second = r'("data_hora":"\d{4}-\d\d-\d\dT\d\d:\d\d:\d\d)\.000000'
    rendered = F.regexp_replace(F.to_json(F.col(col), opts), whole_second, "$1")
    return df.withColumn(col, rendered)


def plot_horario(df: DataFrame, out_path: str, ts_col: str = "data_ajuizamento") -> bool:
    """K4 + A1 — hour-of-ajuizamento histogram to JPEG (reference
    ``:271-296``).  The aggregate (≤24 rows) is collected to the driver and
    rendered with matplotlib; the groupBy runs distributed."""
    if ts_col not in df.columns:
        return False
    hist = (
        df.where(F.col(ts_col).isNotNull())
        .groupBy(hour_in_sp(ts_col).alias("hora"))
        .count()
        .orderBy("hora")
        .collect()
    )
    if not hist:
        return False
    try:
        import matplotlib

        matplotlib.use("Agg")
        import matplotlib.pyplot as plt
    except ImportError:
        print("matplotlib unavailable; skipping chart")
        return False
    horas = [r["hora"] for r in hist]
    counts = [r["count"] for r in hist]
    plt.figure(figsize=(12, 6))
    plt.bar([str(h) for h in horas], counts)
    plt.title("Horário de ajuizamento")
    plt.xlabel("Hora do dia")
    plt.ylabel("Processos")
    plt.tight_layout()
    plt.savefig(out_path, dpi=150)
    plt.close()
    return True


def write_json_stdout(df: DataFrame, limit: int | None = None) -> str:
    """K5 — legacy JSON stdout sink: the DataFrame rendered as one pretty
    JSON array (the reference's ``json.dumps(resultado, ensure_ascii=False,
    indent=2)``, ``/root/reference/legacy/legacy_datajud_connector.py:190``).

    Collects to the driver by definition (it is a stdout sink); ``limit``
    bounds the collect for safety on large frames.  The list-of-dicts CLI
    form lives in ``jurimetria_etl_spark.legacy_cli``.
    """
    import json

    bounded = df.limit(limit) if limit is not None else df
    rows = [r.asDict(recursive=True) for r in bounded.collect()]
    text = json.dumps(rows, ensure_ascii=False, indent=2, default=str)
    print(text)
    return text


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    compression: str = "zstd",
) -> None:
    """Hive-style partitioned parquet layout: one directory per partition
    value.  At 100 TB this is what turns ``WHERE date = X`` into partition
    pruning (the scan lists one directory instead of reading footers for
    the whole table).  Partition on low-cardinality, always-filtered
    columns — a high-cardinality partition column produces millions of tiny
    files and kills the namenode/listing instead."""
    df.write.mode("overwrite").option("compression", compression).partitionBy(
        *partition_cols
    ).parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Bucketed managed table (``bucketBy`` requires ``saveAsTable``).

    Bucketing pre-shuffles ONCE at write time: rows are hash-placed into
    ``n_buckets`` files per partition by the bucket key.  Two tables
    bucketed the same way join with ZERO exchange — the per-bucket files
    are already co-located — which is the right amortization when a fact
    table is joined on the same key by many downstream queries.
    ``sort_cols`` additionally pre-sorts within buckets, upgrading the join
    to a merge join with no sort either.  Pick n_buckets ≈ cluster cores ×
    small integer; too few buckets caps join parallelism."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)


def write_range_clustered(
    df: DataFrame,
    path: str,
    range_cols: list[str],
    n_files: int | None = None,
    compression: str = "zstd",
) -> None:
    """Range-clustered parquet layout: ``repartitionByRange`` on the sort
    key(s) + ``sortWithinPartitions`` before the write, so every output
    file covers a TIGHT, near-disjoint slice of the key space.

    This is the layout lever for high-cardinality range-filtered columns
    (timestamps, ids) where hive partitioning would explode into millions
    of directories: parquet min/max footer stats then let the reader skip
    whole files/row-groups for ``WHERE ts BETWEEN …`` — linear clustering,
    the single-key special case of Z-ordering (for multi-dimensional
    pruning interleave a computed Z-value column and range-cluster on
    that).  Range partitioning samples the key distribution, so output
    files are balanced even under skew — unlike fixed-width bucketing of a
    skewed timestamp column.

    ``n_files`` bounds the file count (default: current parallelism).  The
    write itself is one range shuffle — the same cost as any global sort,
    amortized over every range-pruned read after it."""
    parts = n_files or df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) for c in range_cols]
    (
        df.repartitionByRange(parts, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .option("compression", compression)
        .parquet(path)
    )


def z_value(cols: list[str], bits: int = 16) -> "F.Column":
    """Morton (Z-order) interleave of pre-scaled non-negative integer
    columns: bit b of column i lands at output bit ``b*len(cols)+i``.
    Sorting by this single value gives multi-dimensional locality — the
    key for ``write_range_clustered`` when MORE THAN ONE column needs
    file-skipping (a lexicographic sort only bounds the leading column).

    Callers scale each column to ``[0, 2^bits)`` first (see
    ``write_zordered`` for min/max scaling); ``bits × len(cols)`` must
    stay ≤ 63 so no bit reaches the long SIGN bit — a 64th bit would make
    the top half of the last dimension sort NEGATIVE, splitting the
    Z-curve at the wrong point (16 bits supports 3 columns; use 15 bits
    for 4).
    """
    n = len(cols)
    if bits * n > 63:
        raise ValueError(
            f"z_value: bits*len(cols) = {bits * n} exceeds 63 — bit "
            f"{bits * n - 1} would land on the long sign bit and invert "
            f"the curve order; lower bits (e.g. {63 // n}) or drop a column."
        )
    terms = [
        F.shiftleft(
            F.shiftright(F.col(c).cast("long"), b).bitwiseAND(F.lit(1)),
            b * n + i,
        )
        for b in range(bits)
        for i, c in enumerate(cols)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out.bitwiseOR(t)
    return out


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    bits: int = 16,
    n_files: int | None = None,
    compression: str = "zstd",
) -> None:
    """Z-ordered parquet layout: min/max-scale each clustering column to
    ``bits``-bit integer rank space (one tiny bounded agg for the bounds),
    interleave with ``z_value``, then range-cluster on the Z value.  Every
    output file covers a compact HYPER-RECTANGLE-ish region, so parquet
    footer min/max stats skip files for range predicates on ANY of the
    clustered columns — the multi-dimensional generalization of
    ``write_range_clustered`` (which bounds only its leading sort key).

    The scaling bounds collect is 2×len(cols) scalars — bounded driver
    work, same policy as IVF seeds.  At 100 TB this is one range shuffle
    at write time, amortized over every pruned read after it.

    Clustering columns must be numeric / date / timestamp / boolean:
    anything else (e.g. a string) casts to NULL double, which would
    silently coalesce every row to rank 0 in that dimension and strip the
    layout of its pruning power for that column — refused with a
    ``ValueError`` instead (same explicit-refusal posture as
    ``range_join_bucketed``).
    """
    from pyspark.sql import types as T

    def rank_expr(c: str):
        dt = df.schema[c].dataType
        if isinstance(dt, T.DateType):
            return F.unix_date(F.col(c)).cast("double")
        if isinstance(
            dt,
            (T.NumericType, T.TimestampType, T.TimestampNTZType, T.BooleanType),
        ):
            return F.col(c).cast("double")
        raise ValueError(
            f"write_zordered: column {c!r} has non-orderable-numeric "
            f"type {dt.simpleString()}; Z-ordering needs a numeric/"
            "date/timestamp/boolean column (a string would cast to "
            "NULL and silently lose all pruning power). Hash or "
            "dictionary-encode the column first."
        )

    aggs = []
    for c in zorder_cols:
        aggs += [
            F.min(rank_expr(c)).alias(f"__min_{c}"),
            F.max(rank_expr(c)).alias(f"__max_{c}"),
        ]
    bounds = df.agg(*aggs).first()
    top = (1 << bits) - 1
    scaled = df
    names = []
    for c in zorder_cols:
        lo, hi = bounds[f"__min_{c}"], bounds[f"__max_{c}"]
        if lo is None or hi is None:  # empty input / all-null column
            lo, hi = 0.0, 0.0
        span = (hi - lo) or 1.0
        names.append(f"__z_{c}")
        scaled = scaled.withColumn(
            f"__z_{c}",
            F.coalesce(
                F.least(
                    F.lit(top),
                    F.floor(
                        (rank_expr(c) - F.lit(lo))
                        / F.lit(span)
                        * F.lit(top + 1)
                    ).cast("long"),
                ),
                F.lit(0),  # null values cluster at the curve origin
            ),
        )
    zed = scaled.withColumn("__z", z_value(names, bits)).drop(*names)
    parts = n_files or df.sparkSession.sparkContext.defaultParallelism
    (
        zed.repartitionByRange(parts, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .option("compression", compression)
        .parquet(path)
    )
