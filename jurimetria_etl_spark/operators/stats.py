"""Basic statistics (SURVEY §2.7 A3).

The reference's "Exibe estatísticas básicas" step
(``/root/reference/README.md:11``) is, in code, the collection-total print
(``/root/reference/src/jurimetria_pipeline.py:362``).  The rebuilt surface
generalizes it to Spark's ``summary()`` — count / mean / stddev / min /
quartiles / max per column — plus the row count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jurimetria_etl_spark.session import local_frame


def basic_stats(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """A3 — per-column summary statistics.

    ``summary()`` computes count, mean, stddev, min, 25%/50%/75%
    (approximate percentiles — one pass, sketch-based, the right choice at
    100 TB) and max for every numeric/string column.  ``cols`` restricts
    the summarized columns (and prunes the scan accordingly).
    """
    target = df.select(*cols) if cols else df
    return target.summary()


def row_count(df: DataFrame) -> int:
    """A2 — the reference's collection total (``:362``)."""
    return df.count()


def profile_columns(
    df: DataFrame,
    cols: list[str] | None = None,
    distinct_rsd: float = 0.05,
) -> DataFrame:
    """One-pass data-quality profile: per column null rate, approximate
    distinct count (HLL, so the pass stays sketch-sized), and min/max —
    one row per column, long format.

    A 100 TB profiling job is ONE scan with partial aggregation; the
    anti-pattern is per-column queries (N scans) or exact distinct counts
    (N wide shuffles).  Values are rendered as strings so heterogeneous
    column types share one output schema.
    """
    from pyspark.sql import functions as F

    from pyspark.sql.types import MapType

    names = cols or df.columns
    total = F.count(F.lit(1))
    aggs = [total.alias("__n")]
    for c in names:
        aggs += [
            # coalesce completes the empty-frame guard: sum() over zero
            # rows is NULL, and null_rate must read 0.0, not NULL
            F.coalesce(
                F.sum(F.col(c).isNull().cast("bigint")), F.lit(0)
            ).alias(f"__null_{c}"),
            F.approx_count_distinct(c, rsd=distinct_rsd).alias(f"__dist_{c}"),
        ]
        if isinstance(df.schema[c].dataType, MapType):
            # maps have no ordering — min/max would be an AnalysisException
            aggs += [
                F.lit(None).cast("string").alias(f"__min_{c}"),
                F.lit(None).cast("string").alias(f"__max_{c}"),
            ]
        else:
            # aggregate on the NATIVE type, render as string afterwards —
            # min(cast-to-string) would give lexicographic (wrong) extrema
            # for numeric/timestamp columns
            aggs += [
                F.min(F.col(c)).cast("string").alias(f"__min_{c}"),
                F.max(F.col(c)).cast("string").alias(f"__max_{c}"),
            ]
    one = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                (
                    F.col(f"__null_{c}") / F.greatest(F.col("__n"), F.lit(1))
                ).alias("null_rate"),
                F.col(f"__dist_{c}").alias("approx_distinct"),
                F.col(f"__min_{c}").alias("min_str"),
                F.col(f"__max_{c}").alias("max_str"),
            )
            for c in names
        ]
    )
    return one.select(F.explode(rows).alias("p")).select(
        "p.column", "p.null_rate", "p.approx_distinct", "p.min_str", "p.max_str"
    )


def percentile_cont_selection(
    df: DataFrame,
    group_col: str | list[str],
    specs: dict[str, list[float]],
    accuracy: int = 10_000,
    max_groups: int = 100_000,
) -> DataFrame:
    """Exact ``percentile_cont`` per group via TWO-PASS DISTRIBUTED
    SELECTION — approx-bracket, then exact order statistics inside the
    bracket (the classic distributed quickselect refinement).  The
    third strategy next to the native ``F.percentile`` (per-group
    value→count map merged through partial/final serialization — the
    8.6 s/6M-row form) and ``percentile_cont_by_group`` (full
    distinct-value histogram + per-group cumulative window: no buffer
    to spill, but the window still sorts EVERY distinct value).

    - **Pass A** (one aggregate, one driver action): per group and per
      value column, the non-null count and a GK sketch bracket
      (``percentile_approx`` at p ± 4/accuracy, rank error ≤
      n/accuracy by the Greenwald–Khanna guarantee, so the bracket
      provably contains the target order statistics; groups smaller
      than 4×accuracy skip the bracket and scan whole — the sketch
      bound needs εn ≫ 1).  The collected frame is |groups| rows —
      ``max_groups`` guards the driver (one limit-bounded action, the
      ``strip_boilerplate_bulk`` posture).
    - **Pass B**: ONE un-melted scan — each row broadcast-joins its
      group's bracket row (all targets' brackets as plain columns, so
      the row count never multiplies by |metrics| or |percentiles|),
      below-bracket membership folds into per-target conditional-sum
      AGGREGATE COLUMNS (map-side combinable narrow work — below rows
      only shift ranks), and only the rare in-bracket hits explode
      (~8n/accuracy rows per target).  The in-bracket DISTINCT values
      get a cumulative-count window (bracket-sized, NOT the full
      distinct-value set), ranks offset by the below counts, and the
      target ranks ``t = p·(n−1)`` interpolate exactly as the native
      aggregate does (same ``(⌈t⌉−t)·v_lo + (t−⌊t⌋)·v_hi`` arithmetic
      as ``percentile_cont_by_group`` — bit-identical, pinned in
      tests/test_percentile_hist.py).

    At 100 TB: pass A is a sketch aggregate (bounded state per group),
    pass B's only per-group serial step sorts ~8n/accuracy bracket
    values instead of n (native) or |distinct| (histogram) — the
    selection's classic win on near-continuous columns.  A bracket
    miss cannot be silent: the target rank would find no in-bracket
    row and the output value reads NULL (loud at any oracle), but the
    GK bound plus the 4ε margin makes that unreachable.

    ``specs`` maps value columns to their percentile lists; output is
    LONG format — one row per (group, metric=value column, p, val),
    NULL val for an all-NULL group (``percentile_cont`` semantics).
    Values are compared/interpolated as doubles (exactly what the
    native aggregate's final arithmetic does)."""
    import math

    from pyspark.sql import Window

    groups = [group_col] if isinstance(group_col, str) else list(group_col)
    spark = df.sparkSession
    eps = 1.0 / accuracy
    delta = 4.0 * eps
    # per column: the bracket quantiles the sketch must report
    qlists: dict[str, list[float]] = {}
    for c, ps in specs.items():
        qs: list[float] = []
        for p in ps:
            qs.append(max(0.0, p - delta))
            qs.append(min(1.0, p + delta))
        qlists[c] = sorted(set(qs))
    aggs = []
    for c in specs:
        aggs.append(F.count(F.col(c)).alias(f"__n_{c}"))
        aggs.append(
            F.percentile_approx(
                F.col(c).cast("double"),
                F.array(*[F.lit(q) for q in qlists[c]]),
                F.lit(accuracy),
            ).alias(f"__b_{c}")
        )
    ga_rows = (
        df.groupBy(*groups).agg(*aggs).limit(max_groups + 1).collect()
    )
    if len(ga_rows) > max_groups:
        raise ValueError(
            f"percentile_cont_selection: more than max_groups="
            f"{max_groups} groups — the pass-A bracket table must fit "
            "on the driver; raise max_groups deliberately or use "
            "percentile_cont_by_group"
        )
    cols = list(specs)
    # Per (group, metric mi, percentile pi) target rows for the final
    # rank lookup, plus a WIDE one-row-per-group bracket frame whose
    # plain columns the scan-side expressions read — joining the wide
    # frame on the group key alone keeps the corpus row count constant
    # (the former per-(metric, p) join multiplied every data row by the
    # number of targets before the first aggregation — measured as the
    # bulk of pass B's 4 s at sf1).
    targets: list[tuple] = []
    null_rows: list[tuple] = []
    wide_rows: list[tuple] = []
    for row in ga_rows:
        gvals = tuple(row[g] for g in groups)
        wrow: list = list(gvals)
        for mi, c in enumerate(cols):
            n = int(row[f"__n_{c}"])
            br = row[f"__b_{c}"]
            for pi, p in enumerate(specs[c]):
                if n == 0:
                    null_rows.append(gvals + (c, float(p)))
                    wrow += [None, None]
                    continue
                t = float(p) * (n - 1)
                rlo = math.floor(t) + 1
                rhi = math.ceil(t) + 1
                blo = bhi = None
                if n > 4 * accuracy:
                    qlo = max(0.0, p - delta)
                    qhi = min(1.0, p + delta)
                    if qlo > 0.0:
                        blo = float(br[qlists[c].index(qlo)])
                    if qhi < 1.0:
                        bhi = float(br[qlists[c].index(qhi)])
                targets.append(
                    gvals + (mi, pi, c, float(p), t, rlo, rhi)
                )
                wrow += [blo, bhi]
        wide_rows.append(tuple(wrow))
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    gfields = [df.schema[g] for g in groups]
    tschema = StructType(
        gfields
        + [
            StructField("mi", IntegerType()),
            StructField("pi", IntegerType()),
            StructField("metric", StringType()),
            StructField("p", DoubleType()),
            StructField("__t", DoubleType()),
            StructField("__rlo", LongType()),
            StructField("__rhi", LongType()),
        ]
    )
    tdf = local_frame(spark, targets, tschema)
    tpairs = [(mi, pi) for mi, c in enumerate(cols) for pi in range(len(specs[c]))]
    # column order in wrow is (blo, bhi) per target — match it
    wschema = StructType(
        gfields
        + [
            f
            for mi, pi in tpairs
            for f in (
                StructField(f"__blo_{mi}_{pi}", DoubleType()),
                StructField(f"__bhi_{mi}_{pi}", DoubleType()),
            )
        ]
    )
    wdf = local_frame(spark, wide_rows, wschema)
    base = df.select(
        *groups,
        *[F.col(c).cast("double").alias(f"__v_{mi}") for mi, c in enumerate(cols)],
    )
    j = base.join(F.broadcast(wdf), groups)

    def _v(mi: int):
        return F.col(f"__v_{mi}")

    def _blo(mi: int, pi: int):
        return F.col(f"__blo_{mi}_{pi}")

    def _bhi(mi: int, pi: int):
        return F.col(f"__bhi_{mi}_{pi}")

    # below-bracket membership folds to one conditional-sum column per
    # target — narrow, map-side combinable, never multiplies rows
    below_wide = j.groupBy(*groups).agg(
        *[
            F.sum(
                F.when(
                    _blo(mi, pi).isNotNull() & (_v(mi) < _blo(mi, pi)),
                    F.lit(1),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias(f"__bl_{mi}_{pi}")
            for mi, pi in tpairs
        ]
    )
    below_long = below_wide.select(
        *groups,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(mi).alias("mi"),
                        F.lit(pi).alias("pi"),
                        F.col(f"__bl_{mi}_{pi}").alias("__below"),
                    )
                    for mi, pi in tpairs
                ]
            )
        ).alias("__b"),
    ).select(*groups, "__b.mi", "__b.pi", "__b.__below")
    # only the in-bracket hits explode: ~8n/accuracy rows per target
    # (or the whole small group when the bracket is open)
    hit = [
        F.when(
            _v(mi).isNotNull()
            & (_blo(mi, pi).isNull() | (_v(mi) >= _blo(mi, pi)))
            & (_bhi(mi, pi).isNull() | (_v(mi) <= _bhi(mi, pi))),
            F.struct(
                F.lit(mi).alias("mi"),
                F.lit(pi).alias("pi"),
                _v(mi).alias("__v"),
            ),
        )
        for mi, pi in tpairs
    ]
    hits = j.select(
        *groups,
        F.explode(
            F.filter(F.array(*hit), lambda x: x.isNotNull())
        ).alias("__h"),
    ).select(*groups, "__h.mi", "__h.pi", "__h.__v")
    hist = hits.groupBy(*groups, "mi", "pi", "__v").agg(
        F.count(F.lit(1)).alias("__c")
    )
    w = Window.partitionBy(*groups, "mi", "pi").orderBy("__v")
    cum = (
        hist.withColumn("__hi0", F.sum("__c").over(w))
        .withColumn("__lo0", F.col("__hi0") - F.col("__c") + 1)
        .join(F.broadcast(below_long), [*groups, "mi", "pi"])
        .join(F.broadcast(tdf), [*groups, "mi", "pi"])
        .withColumn("__glo", F.col("__below") + F.col("__lo0"))
        .withColumn("__ghi", F.col("__below") + F.col("__hi0"))
    )
    vlo = F.max(
        F.when(
            F.col("__rlo").between(F.col("__glo"), F.col("__ghi")),
            F.col("__v"),
        )
    )
    vhi = F.max(
        F.when(
            F.col("__rhi").between(F.col("__glo"), F.col("__ghi")),
            F.col("__v"),
        )
    )
    out = cum.groupBy(*groups, "metric", "p", "__t").agg(
        vlo.alias("__vlo"), vhi.alias("__vhi")
    )
    lo_i = F.floor("__t").cast("double")
    hi_i = F.ceil("__t").cast("double")
    interp = (hi_i - F.col("__t")) * F.col("__vlo") + (
        F.col("__t") - lo_i
    ) * F.col("__vhi")
    result = out.select(
        *groups,
        "metric",
        "p",
        F.when(
            (hi_i == lo_i) | (F.col("__vlo") == F.col("__vhi")), F.col("__vlo")
        )
        .otherwise(interp)
        .alias("val"),
    )
    if null_rows:
        nschema = StructType(
            gfields
            + [
                StructField("metric", StringType()),
                StructField("p", DoubleType()),
            ]
        )
        ndf = local_frame(spark, null_rows, nschema).withColumn(
            "val", F.lit(None).cast("double")
        )
        result = result.unionByName(ndf)
    return result


def percentile_cont_by_group(
    df: DataFrame,
    group_col: str | list[str],
    value_col: str,
    percentiles: list[float],
    out_col: str = "val",
) -> DataFrame:
    """Exact ``percentile_cont`` per group via a DISTRIBUTED histogram —
    the scale path for exact percentiles over HIGH-CARDINALITY values.

    ``F.percentile`` (the native exact aggregate, q32's registered form)
    buffers a value→count map per group and merges those maps through
    partial/final aggregation: on a near-continuous column the map is
    ~group-sized, every partial serializes it, and one reducer per group
    finalizes it — measured 8.6 s on 6M rows at sf1 where DuckDB's
    vectorized quickselect takes 0.5 s.  This operator never builds that
    buffer: (1) ``groupBy(group, value)`` count — an ordinary map-side-
    combinable aggregate whose shuffle is DISTINCT-value-sized; (2) one
    cumulative-count window per group over the distinct values (narrow
    (value, count) rows — the only per-group serial step, and it sorts
    distinct values, not rows); (3) the target ranks ``t = p·(n−1)`` join
    back against the [lo, hi] rank ranges and interpolate.  Measured
    scale exponents (SCALE.md r12, 1×→10× data): native 0.77, this form
    **0.50** from a higher small-scale floor — crossover ~sf1, widening
    with group size (the structural win: NO per-group value→count
    buffer exists to spill or serialize, which is what matters at
    100-TB group sizes), and BIT-IDENTICAL to
    ``F.percentile`` — the
    interpolation replicates Spark's own
    ``(⌈t⌉ − t)·v_lo + (t − ⌊t⌋)·v_hi`` form exactly (pinned in
    tests/test_percentile_hist.py), so either form satisfies a
    percentile_cont oracle.  At 100 TB prefer the
    approx-sketch variant (``basic_stats`` / GK) unless exactness is
    contractual — and when it is, prefer this form over the native
    aggregate whenever values are near-continuous.

    Output: one row per (group, percentile): (*group_cols, p, out_col).
    ``group_col`` may be a list — the histogram/window/rank machinery is
    keyed on the composite, which lets callers melt several value
    columns into (metric, value) long format and pay ONE corpus scan
    for all of them.  NULL values are excluded (``percentile_cont``
    semantics); an all-NULL group produces no rows.

    Single-scan / no group-sized broadcast (r11 verdict items 1+2):
    the group totals ``__n`` come from a whole-partition window over the
    SAME distinct-value frame that carries the cumulative counts — no
    second ``totals`` aggregate branch re-executing the corpus lineage —
    and the only broadcast is the |percentiles|-row literal frame
    (always tiny, user-supplied list), not the former |groups|×|ps|
    ``targets`` frame whose ungated hint could OOM the driver on a
    high-cardinality group column.
    """
    from pyspark.sql import Window

    groups = [group_col] if isinstance(group_col, str) else list(group_col)
    spark = df.sparkSession
    rows = df.select(*groups, value_col).where(
        F.col(value_col).isNotNull()
    )
    hist = rows.groupBy(*groups, value_col).agg(
        F.count(F.lit(1)).alias("__c")
    )
    # Both window frames share one partitioning+ordering spec, so
    # Catalyst plans a single Window node over a single sort: the
    # ordered running sum (__hi) and the unbounded-frame group total
    # (__n).  hist rows are DISTINCT (group, value), so the default
    # range frame has no tie ambiguity.
    w = Window.partitionBy(*groups).orderBy(value_col)
    w_all = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = (
        hist.withColumn("__hi", F.sum("__c").over(w))
        .withColumn("__lo", F.col("__hi") - F.col("__c") + 1)
        .withColumn("__n", F.sum("__c").over(w_all))
    )
    pdf = local_frame(spark, [(float(p),) for p in percentiles], "p double")
    j = (
        cum.crossJoin(F.broadcast(pdf))
        .withColumn("__t", F.col("p") * (F.col("__n") - 1))
        .withColumn("__rlo", F.floor("__t") + 1)
        .withColumn("__rhi", F.ceil("__t") + 1)
        .where(
            F.col("__rlo").between(F.col("__lo"), F.col("__hi"))
            | F.col("__rhi").between(F.col("__lo"), F.col("__hi"))
        )
    )
    vlo = F.max(
        F.when(
            F.col("__rlo").between(F.col("__lo"), F.col("__hi")),
            F.col(value_col),
        )
    )
    vhi = F.max(
        F.when(
            F.col("__rhi").between(F.col("__lo"), F.col("__hi")),
            F.col(value_col),
        )
    )
    out = j.groupBy(*groups, "p", "__t").agg(
        vlo.alias("__vlo"), vhi.alias("__vhi")
    )
    # Spark's Percentile.getPercentile interpolation form EXACTLY —
    # (higher − position)·lower + (position − lower)·higher, with its two
    # special cases (integral position; both ranks on the same value,
    # where the form would turn -61 into -61.00000000000001) — so this
    # operator is BIT-identical to the native aggregate, not merely within
    # the oracle gate's 1e-9 rounding.  (vlo + frac·(vhi − vlo), DuckDB's
    # form, differs in the last ulp on some inputs.)
    lo_i = F.floor("__t").cast("double")
    hi_i = F.ceil("__t").cast("double")
    interp = (hi_i - F.col("__t")) * F.col("__vlo") + (
        F.col("__t") - lo_i
    ) * F.col("__vhi")
    return out.select(
        *groups,
        "p",
        F.when(
            (hi_i == lo_i) | (F.col("__vlo") == F.col("__vhi")), F.col("__vlo")
        )
        .otherwise(interp)
        .alias(out_col),
    )
