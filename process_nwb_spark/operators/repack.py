"""Long <-> packed layout conversion for signal DataFrames.

Long (canonical, relational): (series_id, channel, sample_idx, value)
Packed (kernel carrier):      (series_id, channel, values ARRAY<DOUBLE>)

Every spectral kernel needs a channel's full time axis in one task, so the
engine packs once per kernel *stage group* (one shuffle), runs any number of
fused kernels on the packed rows via narrow `mapInArrow` passes, and
unpacks with `posexplode` (narrow). The default pipeline packs once; its
other shuffle is the per-series CAR group (SURVEY.md §3/§7).

Packing is pure Catalyst: collect_list of (sample_idx, value) structs +
array_sort + transform — no Python crossing, stays in the JVM. A NULL
sample packs as NaN at its own index, as in the relational CAR.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .car import _nan_safe_value

KEYS = ("series_id", "channel")


def pack(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Long -> packed. One shuffle on (series_id, channel).

    Time order comes from an explicit repartition on the group keys +
    sortWithinPartitions on (keys, sample_idx), so in the common case
    collect_list of the value column arrives already ordered. That
    arrival order is NOT an API contract, though: ObjectHashAggregate
    falls back to sort-based aggregation past
    spark.sql.objectHashAggregate.sortBased.fallbackThreshold (default 128
    in-memory groups per task — a regime real deployments hit, e.g.
    1000 series x 256 ch over 2000 tasks), and the fallback's external
    row sort is not stable, so within-group order can interleave.

    So the sample_idx list is collected IN THE SAME aggregation (two
    buffers updated and merged over the identical row sequence are
    pairwise-consistent by construction), orderedness is verified with an
    O(n) JVM `forall(zip_with(...))` pass, and only rows whose order was
    actually broken pay the struct array_sort repair (CASE WHEN arms
    evaluate lazily per row). Measured at 64 ch x 192k samples: ~11% over
    the bare primitive collect_list, vs ~60% for the always-sort
    struct formulation — and bitwise-correct with the fallback forced to
    threshold=1 (tests/test_spark_operators.py::
    test_pack_order_survives_sort_based_agg_fallback).

    An Arrow-native pack (mapInArrow over the sorted shuffle output,
    slicing contiguous key-runs with numpy) was built and measured
    STRICTLY worse — 2.6 s vs 0.8 s at 8 series x 32 ch x 320k samples —
    because the packed arrays then pay a full Python round-trip that the
    JVM collect_list avoids entirely; the kernel crossings downstream are
    where Arrow pays off (see operators/kernel_ops._map_values_arrow).
    """
    agg = (
        df.repartition(*KEYS)
        .sortWithinPartitions(*KEYS, "sample_idx")
        .groupBy(*KEYS)
        # NULL -> NaN: collect_list skips a NULL value but would keep its
        # sample_idx, shifting every later sample one index earlier
        .agg(F.collect_list(_nan_safe_value(value_col)).alias("_v"),
             F.collect_list("sample_idx").alias("_i"))
    )
    n = F.size("_i")
    ordered = F.forall(
        F.zip_with(F.slice("_i", 1, n - 1), F.slice("_i", 2, n - 1),
                   lambda a, b: a < b),
        lambda x: x)
    repaired = F.transform(
        F.array_sort(F.arrays_zip(F.col("_i"), F.col("_v"))),
        lambda s: s["_v"])
    return agg.select(
        *KEYS,
        F.when(ordered, F.col("_v")).otherwise(repaired).alias("values"))


def unpack(df: DataFrame, values_col: str = "values",
           value_col: str = "value", extra_keys=()) -> DataFrame:
    """Packed -> long via posexplode (narrow, JVM-side)."""
    keys = [k for k in (*KEYS, *extra_keys) if k in df.columns]
    return df.select(
        *keys, F.posexplode(values_col).alias("sample_idx", value_col)
    ).withColumn("sample_idx", F.col("sample_idx").cast("bigint"))
