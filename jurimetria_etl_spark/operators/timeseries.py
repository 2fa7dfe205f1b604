"""Time-series densification: bucketed aggregation with gap filling
(TimescaleDB `time_bucket_gapfill` / InfluxDB `fill()` semantics),
DataFrame-native.

Pipeline: bucket events into fixed windows → aggregate per (key, bucket)
→ DENSIFY — generate every bucket in each key's [min, max] span via
``sequence`` + ``explode`` — → fill the holes:

- ``locf``: last-observation-carried-forward via
  ``last(value, ignorenulls=True)`` over an unbounded-preceding window;
- ``linear``: interpolate between the nearest real observations on both
  sides — prev/next values and bucket indices come from the same
  ignorenulls window trick (``last`` looking back, ``first`` looking
  forward), then ``prev + (next - prev) · (i - i_prev)/(i_next - i_prev)``;
  leading/trailing holes (no observation on one side) stay NULL, exactly
  like TimescaleDB's ``interpolate``.

Scale: ONE shuffle for the (key, bucket) aggregate; densification is a
narrow generator per key row-group (``sequence`` bounded by the key's own
span — a key idle for years does cost its bucket count, cap spans
upstream if that matters); the fill windows are per-key sorted scans,
partitioned on the same key the aggregate shuffled on, so AQE reuses the
partitioning.  No Python anywhere.

Reference parity: the reference has no time-series surface
(SURVEY §2.10 — strictly batch, one hour histogram); this extends the
engine's temporal family (F1/F2, streaming/windows.py and the q33
sliding window, q27 as-of, q28 range join).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def bucket_agg_gapfill(
    events: DataFrame,
    bucket_seconds: int,
    keys: list[str],
    value_col: str = "value",
    ts_col: str = "ts",
    agg: str = "avg",
    fill: str = "locf",
) -> DataFrame:
    """Per-key bucketed aggregate with gap filling.

    Returns one row per (keys, bucket_start) for EVERY bucket in each
    key's observed span, with ``value`` filled per ``fill`` ∈
    {"none", "locf", "linear"} and ``is_filled`` marking synthesized rows.
    """
    if fill not in ("none", "locf", "linear"):
        raise ValueError(f"fill={fill!r}: use none | locf | linear")

    # avg/sum accumulate in EXACT decimals and surface as doubles (the
    # corpus _davg convention): double accumulation is partition-order
    # dependent, and a .xxxxxx5 boundary rounds differently per engine —
    # observed as a 1-ulp oracle mismatch at sf0.1 before this.
    def _avg(c):
        return F.sum(F.col(c).cast("decimal(18,6)")).cast("double") / F.count(c)

    agg_fn = {
        "avg": _avg,
        "sum": lambda c: F.sum(F.col(c).cast("decimal(18,6)")).cast("double"),
        "min": F.min,
        "max": F.max,
        "count": lambda c: F.count(c).cast("double"),
    }[agg]

    # floor, not cast("long"): cast truncates toward zero, which
    # mis-buckets pre-1970 timestamps (epoch -1800 at 1h -> bucket 0
    # instead of -3600) and diverges from the oracle's floor()
    bucket = (
        F.floor(F.unix_timestamp(F.col(ts_col)) / bucket_seconds).cast("long")
        * bucket_seconds
    ).alias("__bucket_s")
    # No ROUND on the aggregate: the decimal sum is exact, so the IEEE
    # sum/count quotient is bit-identical across engines — while rounding
    # a near-tie double to 6 decimals is where engines legitimately
    # disagree (sf1 oracle run caught exactly one such boundary,
    # 50.6749975 -> .674997 vs .674998).
    # __obs marks bucket EXISTENCE: is_filled must flag synthesized gap
    # rows only — a bucket whose input rows are all NULL-valued is
    # observed (agg NULL), not synthesized, and testing __agg IS NULL
    # would conflate the two.
    per_bucket = (
        events.select(*keys, bucket, F.col(value_col).alias("__v"))
        .groupBy(*keys, "__bucket_s")
        .agg(agg_fn("__v").alias("__agg"), F.lit(True).alias("__obs"))
    )
    spans = per_bucket.groupBy(*keys).agg(
        F.min("__bucket_s").alias("__lo"), F.max("__bucket_s").alias("__hi")
    )
    dense = spans.select(
        *keys,
        F.explode(
            F.sequence(F.col("__lo"), F.col("__hi"), F.lit(bucket_seconds))
        ).alias("__bucket_s"),
    )
    joined = dense.join(per_bucket, [*keys, "__bucket_s"], "left")

    out_cols = [
        *keys,
        F.timestamp_seconds(F.col("__bucket_s")).alias("bucket_start"),
        F.col("__obs").isNull().alias("is_filled"),
    ]
    if fill == "none":
        filled: Column = F.col("__agg")
    elif fill == "locf":
        w_back = (
            Window.partitionBy(*keys)
            .orderBy("__bucket_s")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        filled = F.last("__agg", ignorenulls=True).over(w_back)
    else:  # linear
        w_back = (
            Window.partitionBy(*keys)
            .orderBy("__bucket_s")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        w_fwd = (
            Window.partitionBy(*keys)
            .orderBy("__bucket_s")
            .rowsBetween(0, Window.unboundedFollowing)
        )
        obs_bucket = F.when(F.col("__agg").isNotNull(), F.col("__bucket_s"))
        prev_v = F.last("__agg", ignorenulls=True).over(w_back)
        prev_b = F.last(obs_bucket, ignorenulls=True).over(w_back)
        next_v = F.first("__agg", ignorenulls=True).over(w_fwd)
        next_b = F.first(obs_bucket, ignorenulls=True).over(w_fwd)
        # no ROUND here either (same rationale as the aggregate): the
        # interpolation arithmetic is deterministic IEEE on identical
        # operands, while rounding a near-tie is engine-divergent — and
        # mixing rounded filled values with full-precision observed ones
        # would put two precisions in one column
        filled = F.when(F.col("__agg").isNotNull(), F.col("__agg")).otherwise(
            prev_v
            + (next_v - prev_v)
            * (F.col("__bucket_s") - prev_b)
            / (next_b - prev_b)
        )
    return joined.select(*out_cols, F.col("__agg").alias("raw_value"),
                         filled.alias("value"))
