"""Spark operators wrapping the NumPy spectral kernels.

All operate on the *packed* layout (one row per channel, full time axis in
an ARRAY<DOUBLE>) and cross into Python through Arrow only, by two maps:

- the row map (`_map_values_arrow`, `mapInArrow`) — narrow: after the
  single pack shuffle, any chain of these runs pipelined inside one
  stage, one crossing per operator (or one total with `fused_ops_arrow`).
  Fed `repack.gather`'s unordered rows, it first puts each channel in
  sample order, so the pack's ordering costs no crossing of its own;
- the per-series group map (`_car_group_map`, `applyInArrow`) — gathers a
  series' channels (or one segment of them) for the CAR, optionally
  followed by the wavelet.

Both hand channel arrays to an emitter: `_values_rows` (one packed row per
channel), `_band_rows` (the band table, one row per channel x band),
`_high_gamma_rows` (one packed high-gamma trace per channel) or
`segmented.cut_pieces` (a CAR'd segment core cut into the next stage's
segment pieces).
Signal arrays cross as one flat float64 buffer + offsets in both
directions, never as per-row boxed objects.

Scale note (100 TB): parallelism = n_series x n_channels tasks; a channel's
array must fit in one task (~1e8 float64 samples = 800 MB upper bound).
Longer recordings are handled upstream by splitting series into bounded
segments with pad overlap — the same pad/trim machinery these kernels
already use (see SURVEY.md §7 "whole-axis FFT vs partitioned data").
"""
from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..dsp import kernels as K
from .repack import KEYS, order_samples

PACKED_SCHEMA = "series_id STRING, channel INT, values ARRAY<DOUBLE>"
WAVELET_SCHEMA = ("series_id STRING, channel INT, band INT, cf DOUBLE, "
                  "sd DOUBLE, amp ARRAY<DOUBLE>, phase ARRAY<DOUBLE>")


def scale_packed(df: DataFrame, scaling: float) -> DataFrame:
    """Projection x scaling, JVM-side (no Python). Parity: resample.py:186-189."""
    from pyspark.sql import functions as F

    return df.withColumn(
        "values", F.transform("values", lambda v: v * F.lit(float(scaling))))


def _list_col_to_numpy(col):
    """ARRAY<DOUBLE> Arrow column -> (flat float64 ndarray, int64 bounds).

    flatten() respects the array's own offset/slicing; with no null rows
    (signal arrays are never null) it is exactly the in-order concatenation
    of the list elements, so bounds[i]:bounds[i+1] slices row i's values."""
    import pyarrow.compute as pc

    if hasattr(col, "combine_chunks"):  # ChunkedArray (from a pa.Table)
        col = col.combine_chunks()
    flat = col.flatten().to_numpy(zero_copy_only=False)
    lens = pc.list_value_length(col).to_numpy(zero_copy_only=False)
    bounds = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=bounds[1:])
    return flat, bounds


def _pack_list_array(arrays):
    """list of float64 ndarrays -> Arrow list<double> array (2 memcpys).

    Callers must bound the flattened length below 2^31 (Arrow list offsets
    are int32 — the same per-array ceiling Spark's ArrayData has); use
    _bounded_row_groups to split larger outputs across record
    batches/table chunks. Guarded loudly here because an int32 cumsum
    would otherwise WRAP silently into corrupt offsets."""
    import pyarrow as pa

    lens = np.fromiter((len(a) for a in arrays), dtype=np.int64,
                       count=len(arrays))
    total = int(lens.sum())
    if total >= 2 ** 31:
        raise ValueError(
            f"_pack_list_array: {total} flattened elements overflow int32 "
            f"Arrow list offsets; emit in bounded row groups "
            f"(_bounded_row_groups)")
    offsets = np.zeros(len(arrays) + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    flat = (arrays[0] if len(arrays) == 1
            else np.concatenate(arrays) if arrays
            else np.empty(0, dtype=np.float64))
    return pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(flat, type=pa.float64()))


def _bounded_row_groups(arrays, cap=2 ** 30):
    """Yield (lo, hi) row slices whose flattened lengths stay under `cap`,
    so each group's list offsets fit int32 with headroom. A single row
    longer than the cap still gets its own group (Spark itself cannot
    represent an ARRAY past 2^31 elements — that fails loudly above)."""
    lo, n = 0, len(arrays)
    while lo < n:
        hi, tot = lo, 0
        while hi < n and (hi == lo or tot + len(arrays[hi]) < cap):
            tot += len(arrays[hi])
            hi += 1
        yield lo, hi
        lo = hi


def _values_rows(fn):
    """Emitter: channel i (keys row i, array xs[i]) -> one packed row
    `fn(xs[i])` after every key column, in record batches of bounded
    flattened length (an upsampling fn can grow the output past the int32
    offset ceiling)."""
    import pyarrow as pa

    def emit(keys, xs):
        outs = [np.ascontiguousarray(np.asarray(fn(x), dtype=np.float64))
                for x in xs]
        for lo, hi in _bounded_row_groups(outs):
            k = keys.slice(lo, hi - lo)
            yield pa.RecordBatch.from_arrays(
                [*k.columns, _pack_list_array(outs[lo:hi])],
                [*k.schema.names, "values"])

    return emit


def wavelet_bank(rate: float, filters: str, hg_only: bool, abs_only: bool,
                 post_resample_rate: float | None):
    """(cfs, sds) float64 of the wavelet stage, after its argument checks
    (phase must not be resampled; the bank must sit below Nyquist). Pure
    Python on the driver, so a plan can run them before it builds any
    DataFrame (pipelines.preprocess)."""
    if not abs_only and post_resample_rate is not None:
        raise ValueError("Wavelet phase should not be resampled.")
    from ..dsp.filterbank import band_params, check_nyquist

    cfs, sds = (np.asarray(v, dtype=np.float64)
                for v in band_params(filters, hg_only))
    check_nyquist(cfs, rate)
    return cfs, sds


def _wavelet_bands(rate: float, filters: str, hg_only: bool, abs_only: bool,
                   post_resample_rate: float | None, npad, precision: str):
    """(cfs, sds, bands): bands(x) -> channel x's float64 |wavelet| arrays
    in band order, post-resampled, and its np.angle arrays unless abs_only.
    One K.wavelet_transform per channel (wavelet_transform.py:198-207,
    403-424)."""
    cfs, sds = wavelet_bank(rate, filters, hg_only, abs_only,
                            post_resample_rate)

    def bands(x):
        Xh, _, _, _ = K.wavelet_transform(
            x[:, np.newaxis], rate, filters=filters, hg_only=hg_only,
            npad=npad, precision=precision)
        amps, phases = [], []
        for b in range(Xh.shape[2]):
            amp = np.abs(Xh[:, 0, b])
            if post_resample_rate is not None:
                amp = K.resample(amp, post_resample_rate, rate,
                                 precision=precision)
            amps.append(np.ascontiguousarray(amp, dtype=np.float64))
            if not abs_only:
                phases.append(np.angle(Xh[:, 0, b]).astype(np.float64))
        return amps, phases

    return cfs, sds, bands


def _band_rows(rate: float, filters: str, hg_only: bool, abs_only: bool,
               post_resample_rate: float | None, npad, precision: str):
    """Emitter: channel i -> n_bands rows (band, cf, sd, amp, phase), for
    the row map (wavelet_op) and the group map (car_wavelet_arrow).
    `phase` is a null column when abs_only."""
    import pyarrow as pa

    cfs, sds, bands = _wavelet_bands(rate, filters, hg_only, abs_only,
                                     post_resample_rate, npad, precision)
    n_bands = len(cfs)

    def emit(keys, xs):
        amps, phases = [], []
        for a, p in map(bands, xs):
            amps += a
            phases += p
        rows = np.repeat(np.arange(len(xs)), n_bands)
        b_idx = np.tile(np.arange(n_bands, dtype=np.int32), len(xs))
        # a long series x many bands can pass the int32 offset ceiling even
        # when every array fits; amp and phase rows have equal lengths
        for lo, hi in _bounded_row_groups(amps):
            k, b = keys.take(rows[lo:hi]), b_idx[lo:hi]
            yield pa.RecordBatch.from_arrays(
                [k.column(0), k.column(1), pa.array(b), pa.array(cfs[b]),
                 pa.array(sds[b]), _pack_list_array(amps[lo:hi]),
                 pa.nulls(hi - lo, type=pa.list_(pa.float64())) if abs_only
                 else _pack_list_array(phases[lo:hi])],
                [*KEYS, "band", "cf", "sd", "amp", "phase"])

    return emit


def _high_gamma_rows(n_baseline: int, rate: float, filters: str,
                     hg_only: bool, post_resample_rate, npad, precision: str):
    """Emitter: channel i -> one packed row, K.high_gamma of _band_rows'
    own amplitudes — n_bands x fewer arrays back than the band table."""
    _, _, bands = _wavelet_bands(rate, filters, hg_only, True,
                                 post_resample_rate, npad, precision)
    return _values_rows(
        lambda x: K.high_gamma(np.stack(bands(x)[0]), n_baseline))


def _map_values_arrow(df: DataFrame, emit,
                      schema: str = PACKED_SCHEMA) -> DataFrame:
    """The row map: each packed row's array goes to `emit` as a float64
    view of the batch's flat buffer (no per-row copy on the way in).

    It also takes `repack.gather`'s rows (`_v`, `_i` in arrival order) and
    orders each channel by sample_idx (`repack.order_samples`) before
    `emit`, so the pack's ordering rides this crossing instead of a JVM
    sort or array lambda of its own."""
    gathered = "_i" in df.columns
    cols = ("_v", "_i") if gathered else ("values",)

    def run(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            flat, bounds = _list_col_to_numpy(batch.column(cols[0]))
            xs = [flat[bounds[i]:bounds[i + 1]]
                  for i in range(batch.num_rows)]
            if gathered:
                idx, ib = _list_col_to_numpy(batch.column("_i"))
                xs = [order_samples(idx[ib[i]:ib[i + 1]], x)[1]
                      for i, x in enumerate(xs)]
            yield from emit(batch.select(KEYS), xs)

    return df.select(*KEYS, *cols).mapInArrow(run, schema)


def _car_group_map(df: DataFrame, emit, schema: str, mean_frac: float,
                   precision: str, by: tuple[str, ...] = ()) -> DataFrame:
    """The per-series group map: one applyInArrow group gathers a series'
    channels in channel order, K.subtract_car references the
    (n_time x n_channels) block, and the CAR'd channels go to `emit` with
    their keys (series_id, channel, *by).

    `by` adds group keys: the segmented pipeline groups by
    (series_id, seg, g0), so one group is n_channels x one segment core —
    exact, since the CAR is per timepoint and every channel shares the
    segment bounds. Channels of unequal length in a group fail loudly.
    Without `by`, one group = one series' block; for recordings past
    executor memory, use the segmented pipeline."""
    import pyarrow as pa

    cols = [*KEYS, *by]

    def fn(table):
        order = np.argsort(table.column("channel").to_numpy(
            zero_copy_only=False))
        flat, bounds = _list_col_to_numpy(table.column("values"))
        lens = np.diff(bounds)
        if (lens != lens[0]).any():
            key = {c: table.column(c)[0].as_py() for c in ("series_id", *by)}
            raise ValueError(
                f"CAR group {key}: channels hold {sorted(set(lens.tolist()))}"
                f" samples; the per-timepoint CAR needs every channel on "
                f"the same time axis")
        X = np.stack([flat[bounds[i]:bounds[i + 1]] for i in order], axis=1)
        Xc = np.asarray(K.subtract_car(X, mean_frac=mean_frac,
                                       precision=precision),
                        dtype=np.float64)
        keys = table.select(cols).combine_chunks().to_batches()[0]
        return pa.Table.from_batches(list(emit(
            keys.take(order), [Xc[:, i] for i in range(Xc.shape[1])])))

    return df.groupBy("series_id", *by).applyInArrow(fn, schema)


def fused_ops_arrow(df: DataFrame, *fns) -> DataFrame:
    """Chain ndarray->ndarray kernels in ONE Python crossing (the Spark
    analog of the reference's fused notch+CAR stage pipelines.py:114-173 —
    here used for scale+resample+notch, which are adjacent per-channel
    stages)."""

    def chained(x):
        for f in fns:
            x = f(x)
        return x

    return _map_values_arrow(df, _values_rows(chained))


def resample_op(df: DataFrame, new_freq: float, old_freq: float,
                npad="fast", precision: str = "single") -> DataFrame:
    """FFT rational resample of every channel. Parity: resample.py:105-153."""
    return fused_ops_arrow(
        df, lambda x: K.resample(x, new_freq, old_freq, npad=npad,
                                 precision=precision))


def notch_op(df: DataFrame, rate: float, noise_hz: float = 60.0,
             npad="fast", precision: str = "single") -> DataFrame:
    """60 Hz + harmonics notch. Parity: linenoise_notch.py:55-92."""
    return fused_ops_arrow(
        df, lambda x: K.apply_linenoise_notch(x, rate, noise_hz=noise_hz,
                                              npad=npad, precision=precision))


def wavelet_op(df: DataFrame, rate: float, filters: str = "rat",
               hg_only: bool = True, abs_only: bool = True,
               post_resample_rate: float | None = None, npad="fast",
               precision: str = "single") -> DataFrame:
    """Morlet wavelet decomposition on the row map: one input row
    (channel) fans out to n_bands output rows carrying amplitude (and
    optionally phase) arrays. Parity: wavelet_transform.py:238-322,
    325-444."""
    return _map_values_arrow(
        df, _band_rows(rate, filters, hg_only, abs_only, post_resample_rate,
                       npad, precision), WAVELET_SCHEMA)


def car_wavelet_arrow(df: DataFrame, rate: float, mean_frac: float = 0.95,
                      filters: str = "rat", hg_only: bool = True,
                      abs_only: bool = True,
                      post_resample_rate: float | None = None, npad="fast",
                      precision: str = "single") -> DataFrame:
    """Fused CAR -> wavelet in ONE Python crossing: the wavelet is
    per-channel, a subset of the CAR's per-series group, so running it in
    the same group map saves a round-trip of the CAR'd signal and a
    row-map stage. Same K.* calls as subtract_car_packed + wavelet_op.
    Parity: the reference's fused store_linenoise_notch_CAR stage
    (pipelines.py:114-173) applied one stage later."""
    return _car_group_map(
        df, _band_rows(rate, filters, hg_only, abs_only, post_resample_rate,
                       npad, precision), WAVELET_SCHEMA, mean_frac, precision)


def car_high_gamma_arrow(df: DataFrame, rate: float, n_baseline: int,
                         mean_frac: float = 0.95, filters: str = "rat",
                         hg_only: bool = True,
                         post_resample_rate: float | None = None,
                         npad="fast", precision: str = "single") -> DataFrame:
    """car_wavelet_arrow with the tutorial's tail (baseline z-score, band
    mean) in the same crossing: one packed row per channel, no shuffle or
    JVM array lambda of its own."""
    return _car_group_map(
        df, _high_gamma_rows(int(n_baseline), rate, filters, hg_only,
                             post_resample_rate, npad, precision),
        PACKED_SCHEMA, mean_frac, precision)
