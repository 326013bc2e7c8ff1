"""Baseline z-score normalization + band averaging.

The reference tutorial's final stage (SURVEY.md §2A #28;
examples/plot_ECoG_preprocessing_tutorial.py:164-167): per (channel, band),
compute mean/std over a baseline window (first `n_baseline` samples),
normalize the whole trace, then average the bands into one "high gamma"
trace per channel. The default pipeline runs it inside its CAR->wavelet
group map (kernel_ops.car_high_gamma_arrow); this module holds the forms
for band rows that exist on their own.

Long plan shape: conditional window aggregates over (series, channel,
band) — ONE pass, one shuffle. An agg+broadcast-join-back would reference
the non-reusable kernel chain upstream twice, so Spark would execute the
whole pipeline twice — a silent 2x. (It remains the right form when the
facts are a re-scannable table; `sig_zscore_baseline` states it that way.)
"""
from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..dsp import kernels as K
from .kernel_ops import PACKED_SCHEMA, _list_col_to_numpy, _pack_list_array
from .repack import KEYS, unpack


def zscore_baseline(tf: DataFrame, n_baseline: int,
                    value_col: str = "amp") -> DataFrame:
    """(x - mean_baseline) / std_baseline per (series_id, channel, band).

    std is the population std (numpy's default ddof=0, as in the tutorial).
    Baseline stats are conditional aggregates over an unordered window, so
    the upstream plan is evaluated once (no self-join).
    """
    w = Window.partitionBy("series_id", "channel", "band")
    in_base = F.when(F.col("sample_idx") < n_baseline, F.col(value_col))
    mu = F.avg(in_base).over(w)
    sigma = F.stddev_pop(in_base).over(w)
    return tf.withColumn(value_col, (F.col(value_col) - mu) / sigma)


def band_mean(tf: DataFrame, value_col: str = "amp") -> DataFrame:
    """Average over bands -> one trace per (series_id, channel, sample_idx)."""
    return (
        tf.groupBy("series_id", "channel", "sample_idx")
        .agg(F.avg(value_col).alias(value_col))
    )


def high_gamma_packed(wv: DataFrame, n_baseline: int,
                      values_col: str = "amp") -> DataFrame:
    """zscore_baseline + band_mean on PACKED band rows (series_id, channel,
    band, amp ARRAY), e.g. a fuse=False result: one applyInArrow group per
    channel runs K.high_gamma, the fused pipeline's own tail, on its bands
    in band order; the long explode happens once, on the trace."""
    nb = int(n_baseline)

    def fn(table):
        # band order pins the sum order; arrival order is not a contract
        order = np.argsort(table.column("band").to_numpy(
            zero_copy_only=False), kind="stable")
        flat, bounds = _list_col_to_numpy(table.column(values_col))
        hg = K.high_gamma(
            np.stack([flat[bounds[i]:bounds[i + 1]] for i in order]), nb)
        return table.select(KEYS).slice(0, 1).append_column(
            "values", _pack_list_array([hg]))

    per_ch = (wv.select(*KEYS, "band", values_col).groupBy(*KEYS)
              .applyInArrow(fn, PACKED_SCHEMA))
    return unpack(per_ch, value_col=values_col)
