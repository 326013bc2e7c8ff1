"""Common average reference — pure Catalyst (no Python UDFs).

The reference's CAR (common_referencing.py:11-68) is a trimmed-mean
aggregation across channels per timepoint followed by a broadcast subtract.
In Spark that is a window aggregate over (series_id, sample_idx): one
shuffle, no join, whole-stage codegen throughout.

Semantics preserved exactly (SURVEY.md §2A #4-5):
- n_exclude = ceil(n_channels * (1 - mean_frac) / 2) per side
  (common_referencing.py:37; round_func=ceil default);
- error when 2*n_exclude >= n_channels (common_referencing.py:38-39);
- NaN-skipping mean; NaNs sort last (numpy and Spark agree) and count
  toward n_channels, matching np.sort + nanmean (common_referencing.py:40-41).

Scale note: the window group size equals n_channels (small, bounded), so
there is no skew risk; the shuffle key (series_id, sample_idx) is maximally
fine-grained and AQE coalesces the partitions.
"""
from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _nan_skipping_mean(arr: Column) -> Column:
    """mean of non-NaN elements of an array column; NaN if none survive —
    matching np.nanmean of an empty slice (dsp.kernels.car), NOT NULL:
    the packed kernel path and this relational face must hand downstream
    consumers the same missing-value representation."""
    folded = F.aggregate(
        arr,
        F.struct(F.lit(0.0).alias("s"), F.lit(0).cast("long").alias("c")),
        lambda acc, x: F.when(
            F.isnan(x), acc
        ).otherwise(F.struct((acc["s"] + x).alias("s"),
                             (acc["c"] + F.lit(1).cast("long")).alias("c"))),
    )
    # single-evaluation wrap: the result struct is referenced 3x below;
    # without it Catalyst inlines (and re-runs) the whole fold per
    # reference (see _trimmed_mean_of_collected's note).
    return F.transform(
        F.array(folded),
        lambda s: F.when(s["c"] > 0, s["s"] / s["c"])
        .otherwise(F.lit(float("nan"))),
    )[0]


def _trimmed_mean_of_collected(collected: Column, mean_frac: float) -> Column:
    """Trimmed NaN-skipping mean of a collected value array — the ONE
    Catalyst spelling of the CAR math, shared by the window form
    (car_column) and the groupBy form (car_df) so the two oracled faces
    cannot drift apart. `collected` is collect_list(...) over either a
    window or a group.

    The body is wrapped in transform(array(array_sort(x)), s -> ...)[0]
    so `collected` and its sort each appear ONCE in the expression tree.
    Catalyst inlines every reference of a Column alias: the direct
    spelling referenced the window expression 12x, and because
    ExtractWindowExpressions dedups nothing, the Window node buffered 12
    identical collect_lists and the projection re-sorted the same array
    12x per row (plans/r14/sig_car_subtract_before.txt). A lambda
    variable is a bound value, so references to `s` are free."""
    def tm(arr: Column) -> Column:
        n = F.size(arr)
        n_excl = F.ceil(n * (1.0 - mean_frac) / 2.0).cast("int")
        n_kept = n - 2 * n_excl
        mid = F.slice(arr, n_excl + 1, F.greatest(n_kept, F.lit(0)))
        # the reference's guard (common_referencing.py:38-39), per row
        return F.when(n_kept > 0, _nan_skipping_mean(mid)).otherwise(
            F.raise_error(F.concat(
                F.lit(f"mean_frac={mean_frac} excludes all "),
                n.cast("string"), F.lit(" channels"))))

    return F.transform(F.array(F.array_sort(collected)), tm)[0]


def _nan_safe_value(value_col: str) -> Column:
    # NULL -> NaN so missing channels still count toward n_channels and sort
    # last, exactly like np.sort + nanmean (common_referencing.py:40-41);
    # collect_list would otherwise silently drop NULLs.
    return F.coalesce(F.col(value_col), F.lit(float("nan")))


def car_column(mean_frac: float = 0.95, value_col: str = "value",
               n_channels: int | None = None) -> Column:
    """The CAR as a window expression over (series_id, sample_idx).

    The exclusion-count guard (common_referencing.py:38-39) raises when
    `mean_frac` trims every channel: eagerly on the driver if
    `n_channels` is given, else at run time from inside the expression.
    A timepoint whose channels are all NaN yields NaN (np.nanmean-of-empty
    semantics), not NULL.
    """
    w = Window.partitionBy("series_id", "sample_idx")
    if mean_frac == 1.0:
        # Spark avg ignores NULLs; map NaN->NULL for nanmean semantics, then
        # coalesce an all-NaN timepoint back to NaN so this fast path hands
        # downstream the same representation as _nan_skipping_mean.
        v = F.col(value_col)
        return F.coalesce(F.avg(F.when(~F.isnan(v), v)).over(w),
                          F.lit(float("nan")))

    if n_channels is not None:
        n_exclude = math.ceil(n_channels * (1.0 - mean_frac) / 2.0)
        if 2 * n_exclude >= n_channels:
            raise ValueError(
                f"mean_frac={mean_frac} excludes all {n_channels} channels")

    return _trimmed_mean_of_collected(
        F.collect_list(_nan_safe_value(value_col)).over(w), mean_frac)


def subtract_car(df: DataFrame, mean_frac: float = 0.95,
                 value_col: str = "value",
                 n_channels: int | None = None) -> DataFrame:
    """X - CAR(X) on a long signals DataFrame. Parity: common_referencing.py:45-68."""
    return df.withColumn(
        value_col,
        F.col(value_col) - car_column(mean_frac, value_col, n_channels))


def subtract_car_packed(packed: DataFrame, mean_frac: float = 0.95,
                        precision: str = "single") -> DataFrame:
    """X - CAR(X) on the *packed* layout: the per-series Arrow group map
    (operators/kernel_ops._car_group_map) gathers a series' channels, the
    dense kernel (dsp.kernels.subtract_car, parity
    common_referencing.py:45-68) does the per-timepoint trimmed mean in
    numpy, and rows come back still packed.

    This is the pipeline's physical fast path: the shuffle moves n_channels
    packed rows per series (arrays), not n_time*n_channels long rows — at
    32 ch x 10 s x 1.6 kHz that is 32 rows vs 512k. The relational
    formulation (car_column/car_df above) remains the queryable/oracled
    face of the same operator."""
    from .kernel_ops import PACKED_SCHEMA, _car_group_map, _values_rows

    return _car_group_map(packed, _values_rows(lambda x: x), PACKED_SCHEMA,
                          mean_frac, precision)


def car_df(df: DataFrame, mean_frac: float = 0.95,
           value_col: str = "value") -> DataFrame:
    """The reference itself, one row per (series_id, sample_idx) — the
    groupBy-aggregate formulation (what store_subtract_CAR persists as the
    'CAR' series, common_referencing.py:117-125)."""
    if mean_frac == 1.0:
        v = F.col(value_col)
        return df.groupBy("series_id", "sample_idx").agg(
            F.coalesce(F.avg(F.when(~F.isnan(v), v)), F.lit(float("nan")))
            .alias("car"))
    return df.groupBy("series_id", "sample_idx").agg(
        _trimmed_mean_of_collected(
            F.collect_list(_nan_safe_value(value_col)), mean_frac)
        .alias("car"))
