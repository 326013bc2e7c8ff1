"""Spark operators wrapping the NumPy spectral kernels.

All operate on the *packed* layout (one row per channel, full time axis in
an ARRAY<DOUBLE>) and cross into Python through Arrow only, by two maps:

- the row map (`_map_values_arrow`, `mapInArrow`) — narrow: after the
  single pack() shuffle, any chain of these runs pipelined inside one
  stage, one crossing per operator (or one total with `fused_ops_arrow`);
- the per-series group map (`_car_group_map`, `applyInArrow`) — gathers a
  series' channels for the CAR, optionally followed by the wavelet.

Both hand channel arrays to an emitter: `_values_rows` (one packed row per
channel) or `_band_rows` (the band table, one row per channel x band).
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
from .repack import KEYS

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
    `fn(xs[i])`, in record batches of bounded flattened length (an
    upsampling fn can grow the output past the int32 offset ceiling)."""
    import pyarrow as pa

    def emit(keys, xs):
        outs = [np.ascontiguousarray(np.asarray(fn(x), dtype=np.float64))
                for x in xs]
        for lo, hi in _bounded_row_groups(outs):
            k = keys.slice(lo, hi - lo)
            yield pa.RecordBatch.from_arrays(
                [k.column(0), k.column(1), _pack_list_array(outs[lo:hi])],
                [*KEYS, "values"])

    return emit


def _band_rows(rate: float, filters: str, hg_only: bool, abs_only: bool,
               post_resample_rate: float | None, npad, precision: str):
    """Emitter: channel i -> n_bands rows (band, cf, sd, amp, phase) — the
    one band-table builder, shared by the row map (wavelet_op) and the
    group map (car_wavelet_arrow).

    Per channel: K.wavelet_transform once (its forward FFT shared across
    the bands — the Spark placement of the reference's per-channel cache,
    wavelet_transform.py:198-207), then |.| and the optional
    post-resample of each band (wavelet_transform.py:403-409). `phase`
    is np.angle as list<double> when abs_only=False, else a null column.
    Phase + resample is rejected as in the reference
    (wavelet_transform.py:423-424). The argument checks run here, on the
    driver at plan time — raising from inside the kernel would launch and
    compute the whole distributed job first."""
    if not abs_only and post_resample_rate is not None:
        raise ValueError("Wavelet phase should not be resampled.")
    import pyarrow as pa

    from ..dsp.filterbank import band_params, check_nyquist

    cfs, sds = band_params(filters, hg_only)
    check_nyquist(np.asarray(cfs), rate)
    cfs = np.asarray(cfs, dtype=np.float64)
    sds = np.asarray(sds, dtype=np.float64)
    n_bands = len(cfs)
    names = [*KEYS, "band", "cf", "sd", "amp", "phase"]

    def emit(keys, xs):
        amps, phases = [], []
        for x in xs:
            Xh, _, _, _ = K.wavelet_transform(
                x[:, np.newaxis], rate, filters=filters, hg_only=hg_only,
                npad=npad, precision=precision)
            for b in range(n_bands):
                amp = np.abs(Xh[:, 0, b])
                if post_resample_rate is not None:
                    amp = K.resample(amp, post_resample_rate, rate,
                                     precision=precision)
                amps.append(np.ascontiguousarray(amp, dtype=np.float64))
                if not abs_only:
                    phases.append(np.angle(Xh[:, 0, b]).astype(np.float64))
        rows = np.repeat(np.arange(len(xs)), n_bands)
        bands = np.tile(np.arange(n_bands, dtype=np.int32), len(xs))
        # a long series x many bands can pass the int32 offset ceiling even
        # when every array fits; amp and phase rows have equal lengths
        for lo, hi in _bounded_row_groups(amps):
            k, b = keys.take(rows[lo:hi]), bands[lo:hi]
            yield pa.RecordBatch.from_arrays(
                [k.column(0), k.column(1), pa.array(b), pa.array(cfs[b]),
                 pa.array(sds[b]), _pack_list_array(amps[lo:hi]),
                 pa.nulls(hi - lo, type=pa.list_(pa.float64())) if abs_only
                 else _pack_list_array(phases[lo:hi])],
                names)

    return emit


def _map_values_arrow(df: DataFrame, emit,
                      schema: str = PACKED_SCHEMA) -> DataFrame:
    """The row map: each packed row's array goes to `emit` as a float64
    view of the batch's flat buffer (no per-row copy on the way in)."""

    def run(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            flat, bounds = _list_col_to_numpy(batch.column(2))
            yield from emit(batch.select(KEYS),
                            [flat[bounds[i]:bounds[i + 1]]
                             for i in range(batch.num_rows)])

    return df.select(*KEYS, "values").mapInArrow(run, schema)


def _car_group_map(df: DataFrame, emit, schema: str, mean_frac: float,
                   precision: str) -> DataFrame:
    """The per-series group map: one applyInArrow group gathers a series'
    channels in channel order, K.subtract_car references the
    (n_time x n_channels) block, and the CAR'd channels go to `emit`.

    Scale bound: one group = one series' block. For recordings past
    executor memory, use the segmented pipeline (CAR is per-timepoint, so
    its window form is exact and bounded)."""
    import pyarrow as pa

    def fn(table):
        order = np.argsort(table.column("channel").to_numpy(
            zero_copy_only=False))
        flat, bounds = _list_col_to_numpy(table.column("values"))
        X = np.stack([flat[bounds[i]:bounds[i + 1]] for i in order], axis=1)
        Xc = np.asarray(K.subtract_car(X, mean_frac=mean_frac,
                                       precision=precision),
                        dtype=np.float64)
        keys = table.select(KEYS).combine_chunks().to_batches()[0]
        return pa.Table.from_batches(list(emit(
            keys.take(order), [Xc[:, i] for i in range(Xc.shape[1])])))

    return df.groupBy("series_id").applyInArrow(fn, schema)


def fused_ops_arrow(df: DataFrame, *fns) -> DataFrame:
    """Chain ndarray->ndarray kernels in ONE Python crossing (the Spark
    analog of the reference's fused notch+CAR stage pipelines.py:114-173 —
    here used for resample+notch, which are adjacent per-channel stages)."""

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
    """Fused CAR -> wavelet in ONE Python crossing: the CAR gather already
    holds a whole series' channel block in one task, and the wavelet is
    per-channel — a strict subset of that grouping — so running it inside
    the same group map saves a full round-trip of the CAR'd signal
    (2 x n_time x n_channels doubles) plus one row-map stage. Same K.*
    calls in the same order as subtract_car_packed followed by wavelet_op;
    the unfused pair remains for `all_steps` lineage materialization.
    Parity: the reference's own fused store_linenoise_notch_CAR stage
    (pipelines.py:114-173) applied one stage later."""
    return _car_group_map(
        df, _band_rows(rate, filters, hg_only, abs_only, post_resample_rate,
                       npad, precision), WAVELET_SCHEMA, mean_frac, precision)
