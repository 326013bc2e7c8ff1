"""Baseline z-score normalization + band averaging.

The reference tutorial's final stage (SURVEY.md §2A #28;
examples/plot_ECoG_preprocessing_tutorial.py:164-167): per (channel, band),
compute mean/std over a baseline window (first `n_baseline` samples),
normalize the whole trace, then average the bands into one "high gamma"
trace per channel. The default pipeline runs it inside its CAR->wavelet
group map (kernel_ops.car_high_gamma_arrow); this module holds the
segmented pipeline's streamed form (`high_gamma_segments`) and the forms
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


def high_gamma_segments(bands: DataFrame, n_baseline: int) -> DataFrame:
    """zscore_baseline + band_mean on SEGMENTED band rows (series_id,
    channel, g0, band, amp ARRAY), one row per (segment core, band) as the
    segmented pipeline emits them, in ONE pass: repartition by channel,
    sort each partition by (series_id, channel, g0, band), and stream it
    through one Arrow row map. Per channel the map buffers the leading
    segments until they hold `n_baseline` samples (or the channel ends: a
    trace shorter than the window uses its real length), fixes the
    per-band stats there (K.high_gamma_stats) and then z-scores each later
    segment as it arrives (K.high_gamma_apply) — memory is n_baseline +
    one segment per band, not the channel. Rows out: (series_id, channel,
    g0, values ARRAY), one per segment; unpack with offset_col="g0".
    A channel whose segments do not tile its time axis from 0 fails
    loudly."""
    import pyarrow as pa

    nb = int(n_baseline)
    names = [*KEYS, "g0", "values"]

    def segments(batches):
        """(key, g0, (n_bands, n) block) per segment, from rows sorted by
        (key, g0, band); a segment's bands may span record batches."""
        cur, rows = None, []
        for batch in batches:
            flat, bounds = _list_col_to_numpy(batch.column("amp"))
            sids, chs, g0s = (batch.column(c).to_pylist()
                              for c in (*KEYS, "g0"))
            for j in range(batch.num_rows):
                key = (sids[j], chs[j], g0s[j])
                if key != cur and rows:
                    yield cur[:2], cur[2], np.stack(rows)
                    rows = []
                cur = key
                rows.append(flat[bounds[j]:bounds[j + 1]])
        if rows:
            yield cur[:2], cur[2], np.stack(rows)

    def out(key, g0, trace):
        return pa.RecordBatch.from_arrays(
            [pa.array([key[0]], pa.string()), pa.array([key[1]], pa.int32()),
             pa.array([g0], pa.int64()), _pack_list_array([trace])], names)

    def run(batches):
        key, pending, stats, nxt = None, [], None, 0

        def release():
            # fix the stats from the buffered leading segments (the whole
            # channel when it ends inside the baseline window), emit them
            st = K.high_gamma_stats(np.concatenate(
                [b[:, :nb] for _, b in pending], axis=1), nb)
            return st, [out(key, g, K.high_gamma_apply(b, *st))
                        for g, b in pending]

        for k, g0, block in segments(batches):
            if k != key:
                if pending:
                    yield from release()[1]
                key, pending, stats, nxt = k, [], None, 0
            if g0 != nxt:
                raise ValueError(
                    f"high_gamma_segments: {k[0]!r}/ch{k[1]} has a segment "
                    f"at sample {g0}, expected {nxt}; segments must tile "
                    f"the trace from sample 0")
            nxt = g0 + block.shape[1]
            if stats is not None:
                yield out(key, g0, K.high_gamma_apply(block, *stats))
                continue
            pending.append((g0, block))
            if nxt >= nb:
                stats, done = release()
                pending = []
                yield from done
        if pending:
            yield from release()[1]

    return (bands.select(*KEYS, "g0", "band", "amp")
            .repartition(*KEYS)
            .sortWithinPartitions(*KEYS, "g0", "band")
            .mapInArrow(run, "series_id STRING, channel INT, g0 BIGINT, "
                             "values ARRAY<DOUBLE>"))
