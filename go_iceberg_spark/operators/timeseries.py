"""Time-series regularization over event streams.

The reference has no time-series surface; these are the resampling
primitives an events table needs before windowed training or dashboarding:
bucket to a fixed grid, fill gaps explicitly, and carry the last observation
forward. Everything is built-in expressions — the spine generation is one
``sequence`` per key (never a driver loop), the join is keyed on (key,
bucket), and LOCF is a bounded running window per key.

Scale notes (100 TB): the spine is |keys| x |buckets| rows generated
executor-side from a 1-row min/max aggregate; the raw stream shuffles once
to bucket counts. LOCF's window runs per key ordered by bucket — partitions
are single-key time series, which are short by construction after
bucketing. A key whose series would not fit one task should be range-split
by time first (the same repartitionByRange lever the sorted writer uses).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def resample_locf(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    *,
    bucket: str = "hour",
) -> DataFrame:
    """Resample to a fixed ``bucket`` grid per key: every (key, bucket) cell
    in [min, max] of the stream exists in the output, with the event count
    (0 on gaps), the in-bucket mean value (NULL on gaps), and the mean
    carried forward across gaps (LOCF). Output: (key, bucket_ts, n, avg_v,
    locf_v)."""
    b = F.date_trunc(bucket, F.col(ts_col))
    agg = (
        df.groupBy(F.col(key_col).alias("_k"), b.alias("_b"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.avg(value_col), 4).alias("avg_v"))
    )
    bounds = df.agg(
        F.date_trunc(bucket, F.min(ts_col)).alias("_lo"),
        F.date_trunc(bucket, F.max(ts_col)).alias("_hi"),
    )
    spine = (
        df.select(F.col(key_col).alias("_k")).distinct()
        .join(F.broadcast(bounds))
        .select("_k", F.explode(F.expr(f"sequence(_lo, _hi, interval 1 {bucket})")).alias("_b"))
    )
    w = Window.partitionBy("_k").orderBy("_b").rowsBetween(Window.unboundedPreceding, 0)
    # null-SAFE key equality: a NULL key is a legal group (groupBy keeps it),
    # but a null-unsafe spine join would never match it — its cells all came
    # back n=0 with the events silently zeroed.
    # _b needs no null-safety (spine buckets come from sequence(), never NULL;
    # NULL-ts events have no grid cell and stay out by design).
    return (
        spine.join(agg, [spine["_k"].eqNullSafe(agg["_k"]), spine["_b"] == agg["_b"]], "left")
        .drop(agg["_k"]).drop(agg["_b"])
        .select(
            F.col("_k").alias(key_col),
            F.col("_b").alias("bucket_ts"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
            F.col("avg_v"),
            F.last("avg_v", ignorenulls=True).over(w).alias("locf_v"),
        )
    )


def resample_interpolate(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    *,
    bucket: str = "hour",
    decimals: int = 4,
) -> DataFrame:
    """Resample to a fixed ``bucket`` grid per key with LINEAR interpolation
    across interior gaps (the numeric complement of
    ``resample_locf``): each empty cell between two observed cells takes
    the time-weighted value between its nearest observed neighbors;
    cells before the first / after the last observation stay NULL
    (interpolation, not extrapolation — the pandas ``interpolate``
    interior contract). Output: (key, bucket_ts, avg_v, interp_v).

    Scale shape: one grid spine per key (sequence between the stream's
    bounds), one left join, and FOUR window passes per key partition
    (prev/next value + timestamp via ignorenulls last/first) — no
    self-join of the grid against observations, so cost is grid cells,
    not cells x observations. Interpolated values round HALF-UP VIA FLOOR
    (floor(x*10^d + 0.5)/10^d) — plain round() disagrees across engines on
    near-tie doubles (DuckDB said 56.3413 where Spark's BigDecimal said
    56.3412 for the same double), while floor of the same double is
    deterministic everywhere (same trick as the portable hashes)."""
    b = F.date_trunc(bucket, F.col(ts_col))
    agg = (
        df.groupBy(F.col(key_col).alias("_k"), b.alias("_b"))
        .agg(F.round(F.avg(value_col), decimals).alias("avg_v"))
    )
    bounds = df.agg(
        F.date_trunc(bucket, F.min(ts_col)).alias("_lo"),
        F.date_trunc(bucket, F.max(ts_col)).alias("_hi"),
    )
    spine = (
        df.select(F.col(key_col).alias("_k")).distinct()
        .join(F.broadcast(bounds))
        .select("_k", F.explode(F.expr(f"sequence(_lo, _hi, interval 1 {bucket})")).alias("_b"))
    )
    grid = (
        spine.join(agg, [spine["_k"].eqNullSafe(agg["_k"]), spine["_b"] == agg["_b"]], "left")
        .drop(agg["_k"]).drop(agg["_b"])
    )
    w_back = Window.partitionBy("_k").orderBy("_b").rowsBetween(
        Window.unboundedPreceding, 0)
    w_fwd = Window.partitionBy("_k").orderBy("_b").rowsBetween(
        0, Window.unboundedFollowing)
    obs_ts = F.when(F.col("avg_v").isNotNull(), F.col("_b"))
    prev_v = F.last("avg_v", ignorenulls=True).over(w_back)
    next_v = F.first("avg_v", ignorenulls=True).over(w_fwd)
    prev_t = F.last(obs_ts, ignorenulls=True).over(w_back)
    next_t = F.first(obs_ts, ignorenulls=True).over(w_fwd)
    span = F.unix_timestamp(next_t) - F.unix_timestamp(prev_t)
    frac = (F.unix_timestamp(F.col("_b")) - F.unix_timestamp(prev_t)) / span
    scale = 10 ** decimals
    raw = prev_v + (next_v - prev_v) * frac
    interp = (F.when(F.col("avg_v").isNotNull(), F.col("avg_v"))
              .when(prev_v.isNotNull() & next_v.isNotNull(),
                    F.floor(raw * scale + F.lit(0.5)) / scale))
    return grid.select(
        F.col("_k").alias(key_col),
        F.col("_b").alias("bucket_ts"),
        F.col("avg_v"),
        interp.alias("interp_v"),
    )


def merge_intervals(
    df: DataFrame,
    key_col: str,
    start_col: str,
    end_col: str,
    *,
    min_gap: float = 0,
) -> DataFrame:
    """Merge overlapping (or within ``min_gap``) intervals per key — the
    gaps-and-islands primitive behind session stitching, speech/VAD segment
    coalescing, and per-user activity spans. ``start_col``/``end_col`` are
    numeric (convert timestamps to epoch seconds first; keeps the arithmetic
    engine-portable). Inverted intervals (end < start) are dropped, as
    ``range_join_days`` drops them. Output: (key, island_start, island_end,
    n_intervals) with one row per merged island.

    Shape: one running-max window per key ordered by (start, end) marks
    island heads (start > max(end) of everything before + gap), a running
    sum numbers the islands, one aggregate collapses them — two window
    passes and one shuffle on the key, no self-join, no driver state. At
    100 TB the partitions are single-key interval lists; a key too hot for
    one task should be time-range split upstream (same lever as the sorted
    writer)."""
    w_ord = (Window.partitionBy("_k").orderBy("_s", "_e")
             .rowsBetween(Window.unboundedPreceding, -1))
    w_run = (Window.partitionBy("_k").orderBy("_s", "_e")
             .rowsBetween(Window.unboundedPreceding, 0))
    iv = (df.select(F.col(key_col).alias("_k"),
                    F.col(start_col).cast("double").alias("_s"),
                    F.col(end_col).cast("double").alias("_e"))
          .filter(F.col("_s").isNotNull() & F.col("_e").isNotNull()
                  & (F.col("_e") >= F.col("_s"))))
    flagged = iv.withColumn(
        "_new", F.when(F.col("_s") > F.max("_e").over(w_ord) + F.lit(float(min_gap)),
                       F.lit(1)).otherwise(F.lit(0)))
    # the first row per key has a NULL running max, so when() falls through
    # to otherwise(0); the +1 offset below then opens island 1 for it
    islands = flagged.withColumn(
        "_island", F.sum("_new").over(w_run) + F.lit(1))
    return (islands.groupBy("_k", "_island")
            .agg(F.min("_s").alias("island_start"),
                 F.max("_e").alias("island_end"),
                 F.count(F.lit(1)).alias("n_intervals"))
            .select(F.col("_k").alias(key_col),
                    "island_start", "island_end", "n_intervals"))
