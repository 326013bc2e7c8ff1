"""Long <-> packed layout conversion for signal DataFrames.

Long (canonical, relational): (series_id, channel, sample_idx, value)
Packed (kernel carrier):      (series_id, channel, values ARRAY<DOUBLE>)

Every spectral kernel needs a channel's full time axis in one task, so the
engine packs once per kernel *stage group* (one shuffle), runs any number of
fused kernels on the packed rows via narrow `mapInArrow` passes, and
unpacks with `posexplode` (narrow). The default pipeline packs once; its
other shuffle is the per-series CAR group (SURVEY.md §3/§7).

Packing is two halves. `gather` is one `groupBy` that collects each
channel's values and their sample_idx in the same aggregation; it combines
map-side (`partial_collect_list`), so the exchange moves one array pair per
(series, channel, map task), not one row per sample. The arrival order of
collect_list is not a contract, so the time order is restored where the
arrays next cross into Python anyway: the kernel row map
(`kernel_ops._map_values_arrow`) orders each gathered channel with
`order_samples` before its first kernel. A NULL sample packs as NaN at its
own index, as in the relational CAR.
"""
from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .car import _nan_safe_value

KEYS = ("series_id", "channel")


def gather(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Long -> one row per (series_id, channel) holding its values `_v`
    and their sample indices `_i`, in no particular order. Both lists are
    collected in the same aggregation, so they stay pairwise aligned
    through the map-side partials and the merge."""
    return df.groupBy(*KEYS).agg(
        # NULL -> NaN: collect_list skips a NULL value but would keep its
        # sample_idx, shifting every later sample one index earlier
        F.collect_list(_nan_safe_value(value_col)).alias("_v"),
        F.collect_list("sample_idx").alias("_i"))


def order_samples(idx: np.ndarray, x: np.ndarray):
    """(idx, x) sorted by (sample_idx, value): the one ordering rule for
    gathered samples, whole-channel and segmented alike. Input already
    strictly increasing in idx (the common case) is returned as it is,
    after one O(n) check; ties in idx, which only broken input has, are
    ordered by value with NaN last."""
    idx = np.asarray(idx)
    x = np.asarray(x, dtype=np.float64)
    if len(idx) > 1 and not (idx[1:] > idx[:-1]).all():
        order = np.lexsort((x, idx))
        idx, x = idx[order], x[order]
    return idx, x


def pack(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Long -> packed (series_id, channel, values) in sample order: one
    shuffle on (series_id, channel), then the identity row map.

    `gather` shuffles map-side partial arrays, and the row map orders each
    channel in NumPy (`order_samples`). ObjectHashAggregate's sort-based
    fallback (past spark.sql.objectHashAggregate.sortBased.fallbackThreshold,
    128 in-memory groups per task by default) can interleave a group's
    arrival order; the order is restored all the same
    (tests/test_spark_operators.py::
    test_pack_order_survives_sort_based_agg_fallback).

    The pipeline itself does not call this: it hands `gather`'s rows
    straight to its first kernel row map, so the ordering costs no Python
    crossing of its own. That is why an earlier measurement, in which an
    Arrow-side pack cost a full extra round trip of the packed arrays and
    ran 3x slower than the JVM pack, no longer applies."""
    from .kernel_ops import fused_ops_arrow

    return fused_ops_arrow(gather(df, value_col))


def unpack(df: DataFrame, values_col: str = "values",
           value_col: str = "value", extra_keys=(),
           offset_col: str | None = None) -> DataFrame:
    """Packed -> long via posexplode (narrow, JVM-side). With `offset_col`
    each array starts at that row's global sample index (a segment's
    `g0`, operators/segmented.py) instead of 0."""
    keys = [k for k in (*KEYS, *extra_keys) if k in df.columns]
    offset = [offset_col] if offset_col else []
    idx = F.col("sample_idx")
    if offset_col:
        idx = idx + F.col(offset_col)
    return df.select(
        *keys, *offset, F.posexplode(values_col).alias("sample_idx", value_col)
    ).select(*keys, idx.cast("bigint").alias("sample_idx"), value_col)
