"""Overlap-segmented spectral kernels — the 100 TB path for recordings too
long for one task (SURVEY.md §7 "whole-axis FFT vs partitioned data").

The whole-channel operators (kernel_ops.py) need a channel's full time axis
in one task. For arbitrarily long recordings this module instead:

1. gathers the long rows ONCE into per-(series_id, channel, seg) arrays:
   every sample joins its core segment plus any segment whose overlap
   window covers it (`explode(sequence(..))`, codegen'd and narrow), then
   one `groupBy` collects the values and their sample_idx — the only step
   that sees per-sample rows; groups are bounded at seg_len + 2*overlap
   samples regardless of recording length;
2. runs the dense kernel per segment array inside one Arrow row map
   (`mapInArrow`), sorts by sample_idx (collect_list arrival order is not
   a contract), and trims each segment's overlap from the output
   (`_segment_output`), emitting one packed row per segment core with its
   global output start `g0`;
3. explodes to long rows with exact global sample indices
   (`repack.unpack(offset_col="g0")`) only when a caller asks for the long
   layout — the segmented pipeline keeps the packed segment rows through
   its CAR, stage-B and high-gamma stages (pipelines._preprocess_segmented).

Numerics: each segment is padded/filtered on its own frequency grid, so
the result is equivalent-but-not-bitwise vs the whole-channel op —
boundary error < ~1% of signal scale with a 1 s overlap, the same
tolerance the reference itself accepts between its chunked and unchunked
wavelet paths (tests/test_pipeline.py:154, rtol=0.01). Exactness rules,
both validated eagerly: `seg_len * ratio` AND `overlap * ratio` must be
integral — the first aligns each segment's output offset with the global
grid, the second aligns the trimmed core start (a fractional
overlap*ratio would shift every interior segment by a sub-sample,
measured 0.109 abs error on a unit tone at the worst-case fixture rates).
Inputs are assumed gapless per (series, channel) starting at sample_idx
0; violations raise inside the kernel instead of silently dropping or
misplacing core samples. A NULL sample gathers as NaN at its own index,
as in `repack.gather`.

Reference analog: the pad/trim machinery (utils.py:106-167) is reused
unchanged inside each segment; the chunked writer
(wavelet_transform.py:142-235) bounded memory the same way — one bounded
block in flight per worker.
"""
from __future__ import annotations

from fractions import Fraction
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..dsp import kernels as K
from .car import _nan_safe_value
from .kernel_ops import _list_col_to_numpy, _pack_list_array
from .repack import KEYS, order_samples, unpack

SEGMENT_SCHEMA = ("series_id STRING, channel INT, seg BIGINT, g0 BIGINT, "
                  "values ARRAY<DOUBLE>")
SEGMENT_BAND_SCHEMA = ("series_id STRING, channel INT, seg BIGINT, "
                       "g0 BIGINT, band INT, amp ARRAY<DOUBLE>")
PIECE_SCHEMA = ("series_id STRING, channel INT, seg BIGINT, start BIGINT, "
                "values ARRAY<DOUBLE>")


def ratio_denominator(new_freq: float, old_freq: float) -> int:
    """Reduced denominator of the exact rate ratio. Floats are exact
    binary rationals, so Fraction(new)/Fraction(old) is the exact ratio;
    x*ratio is integral iff this denominator divides x. E.g.
    3200/12207.03125 = 4096/15625 -> denominator 15625."""
    return (Fraction(new_freq) / Fraction(old_freq)).denominator


def snap_to_ratio(base: int, new_freq: float, old_freq: float,
                  cap: int = 10 ** 7, what: str = "overlap") -> int:
    """Smallest multiple of the reduced rate-ratio denominator >= base —
    the shared snap used for overlaps AND segment lengths (both must make
    x*(new/old) exactly integral, operators/segmented._validate). Raises
    past `cap` (no practical value exists; pick simpler rates or resample
    in two stages)."""
    d = ratio_denominator(new_freq, old_freq)
    snapped = int(-(-int(base) // d) * d)
    if snapped > cap:
        raise ValueError(
            f"no practical {what} makes {what}*({new_freq}/{old_freq}) "
            f"integral (denominator {d}); choose rates with a simpler "
            f"ratio or resample in two stages")
    return snapped


def snap_overlap(overlap: int, new_freq: float, old_freq: float) -> int:
    """Smallest V >= overlap with V * (new/old) exactly integral.
    E.g. the default overlap 4096 at 3200/12207.03125 snaps to 15625."""
    return snap_to_ratio(overlap, new_freq, old_freq, what="overlap")


def _validate(seg_len: int, overlap: int, new_freq: float, old_freq: float):
    if seg_len <= 0 or overlap < 0 or overlap >= seg_len:
        raise ValueError(f"need 0 <= overlap < seg_len, got "
                         f"overlap={overlap} seg_len={seg_len}")
    r = Fraction(new_freq) / Fraction(old_freq)
    if (seg_len * r).denominator != 1:
        raise ValueError(
            f"seg_len * new_freq must be divisible by old_freq so segment "
            f"output offsets are integral; got seg_len={seg_len}, "
            f"ratio={new_freq}/{old_freq}")
    if (overlap * r).denominator != 1:
        raise ValueError(
            f"overlap * new_freq must be divisible by old_freq so each "
            f"segment's trimmed core start is integral (a fractional "
            f"value sub-sample-shifts every interior segment); "
            f"overlap={overlap}, ratio={new_freq}/{old_freq} — use "
            f"snap_overlap({overlap}, {new_freq}, {old_freq}) = "
            f"{snap_overlap(overlap, new_freq, old_freq)}")


def gather_segments(signals: DataFrame, L: int, V: int,
                    meta_cols: tuple[str, ...] = ()) -> DataFrame:
    """Long rows -> one row per (series_id, channel, seg) holding the
    segment's values `_v` and their sample indices `_i`, both collected in
    the same aggregation, as repack.gather does (so the two lists stay
    pairwise aligned; their order is not a contract and the consumer
    sorts). Sample i joins every segment s >= 0 with
    s*L - V <= i < (s+1)*L + V: at most three, since V < L.
    `meta_cols` are per-series-constant columns that ride along (first
    value per group)."""
    i = F.col("sample_idx")
    segs = F.sequence(F.greatest(F.floor((i - V) / L), F.lit(0)),
                      F.floor((i + V) / L))
    return (signals.select(*KEYS, F.explode(segs).alias("seg"), "sample_idx",
                           # NULL -> NaN: collect_list skips a NULL value
                           # but keeps its sample_idx, shifting every later
                           # sample one index earlier
                           _nan_safe_value("value").alias("value"),
                           *meta_cols)
            .groupBy(*KEYS, "seg")
            .agg(F.collect_list("value").alias("_v"),
                 F.collect_list("sample_idx").alias("_i"),
                 *(F.first(c).alias(c) for c in meta_cols)))


def _segment_output(seg: int, idx: np.ndarray, x: np.ndarray, fn, L: int,
                    V: int, r: Fraction, where: str):
    """Run `fn` on one segment's samples and trim to its core's output:
    returns (g0, kept 2-D ndarray (n_kept, n_cols)). `idx`/`x` may arrive
    in any order; they are sorted here by repack.order_samples, the
    whole-channel row map's rule. `where` names the (series, channel) in
    error messages.

    The overlap/core index math lives ONLY here, in EXACT integer
    arithmetic on the rational ratio `r` — float `core * r` can land one
    ulp above a truly-integral product and ceil() would then emit one
    extra output sample, silently shifting every later segment.
    Contiguity and boundary alignment are validated loudly — a gapped
    series or one not starting at sample_idx 0 would otherwise silently
    drop or misplace the core (left_ov would go negative and the kept
    slice could be empty)."""
    num, den = r.numerator, r.denominator
    g0 = seg * L * num // den                # integral by _validate
    if len(idx) != len(x):
        raise ValueError(
            f"segmented kernel: segment {seg} of {where} holds {len(x)} "
            f"values for {len(idx)} sample indices")
    idx, x = order_samples(idx, x)
    # strictly consecutive, not just span==count: a duplicated index
    # would mask a missing one and the kernel would silently run over a
    # misaligned buffer
    if not np.array_equal(idx, np.arange(idx[0], idx[0] + len(idx))):
        raise ValueError(
            f"segmented kernel: sample_idx not contiguous inside segment "
            f"{seg} of {where} (span {int(idx[-1] - idx[0]) + 1}, "
            f"{len(idx)} rows, dups or gaps present); segmented ops "
            f"require gapless input")
    core = int(((idx >= seg * L) & (idx < (seg + 1) * L)).sum())
    if core == 0:
        # overlap-only spill group: this dataset holds a neighboring
        # segment's overlap rows but none of this segment's core (a
        # file-cut boundary in a streaming micro-batch, or a truncated
        # recording end) — the segment contributes nothing here
        return g0, np.empty((0, 1))
    # two legitimate starts for a core-bearing group: the overlap-covered
    # form (seg*L - V) and the bare core boundary (seg*L) — the latter
    # when upstream data for the overlap isn't in this dataset (a
    # streaming micro-batch file cut on a whole-segment boundary,
    # streaming/ops.stream_preprocess_*; the boundary then pays
    # batch-local numerics, same as the batch oracle applied to the same
    # file). Anything else is a misaligned/mid-stream series -> loud.
    allowed = {max(0, seg * L - V), seg * L}
    if int(idx[0]) not in allowed:
        raise ValueError(
            f"segmented kernel: segment {seg} starts at sample "
            f"{int(idx[0])}, expected one of {sorted(allowed)}; series "
            f"must start at sample_idx 0 per (series, channel), or on a "
            f"whole-segment boundary for file-cut micro-batches")
    left_ov = max(0, int(seg * L - idx[0]))  # V, or 0 at a bare boundary
    out = np.asarray(fn(x), dtype=np.float64)
    if out.ndim == 1:
        out = out[:, np.newaxis]
    k0 = left_ov * num // den                # integral by _validate
    n_out = -(-core * num // den)            # exact ceil(core * r)
    if out.shape[0] < k0 + n_out:
        # a kernel whose output grid disagrees with the trim ratio (e.g. a
        # ratio passed as a float whose best rational differs from the
        # kernel's exact one) would otherwise emit a silently-short slice
        raise ValueError(
            f"segmented kernel: segment {seg} produced {out.shape[0]} "
            f"output samples but the trim ratio {num}/{den} requires at "
            f"least {k0 + n_out} (overlap {left_ov} -> {k0}, core {core} "
            f"-> {n_out}); kernel output ratio and declared `ratio` "
            f"disagree")
    return g0, out[k0:k0 + n_out]


def _as_fraction(ratio) -> Fraction:
    """Exact Fraction passes through untouched; a float is rationalized.
    Rate-derived ratios should be passed as Fraction(new)/Fraction(old)
    (exact — floats are binary rationals) so the trim offsets here can
    never disagree with the kernel's own exact grid; _segment_output
    additionally fails loudly on any residual mismatch."""
    if isinstance(ratio, Fraction):
        return ratio
    return Fraction(ratio).limit_denominator(10 ** 9)


def _segment_runner(fn, seg_len: int, overlap: int, ratio,
                    meta_cols: tuple[str, ...], bands: bool):
    """(sid, ch, seg, idx, x, meta) -> one segment's trimmed core as an
    Arrow batch: one `values` row, or with `bands` one `amp` row per
    output column; no rows for an overlap-only spill group. `fn(x)`, or
    `fn(x, meta)` with `meta_cols`."""
    import pyarrow as pa

    L, V = int(seg_len), int(overlap)
    r = _as_fraction(ratio)
    _validate(L, V, r, 1)
    names = [*KEYS, "seg", "g0", *(("band", "amp") if bands else ("values",))]

    def run(sid, ch, seg, idx, x, meta):
        seg_fn = (lambda y: fn(y, meta)) if meta_cols else fn  # noqa: E731
        g0, kept = _segment_output(int(seg), idx, x, seg_fn, L, V, r,
                                   f"{sid!r}/ch{ch}")
        n = (kept.shape[1] if bands else 1) if kept.shape[0] else 0
        cols = [pa.array([sid] * n, pa.string()),
                pa.array([ch] * n, pa.int32()),
                pa.array([seg] * n, pa.int64()),
                pa.array([g0] * n, pa.int64())]
        if bands:
            cols.append(pa.array(np.arange(n, dtype=np.int32)))
        cols.append(_pack_list_array(
            [np.ascontiguousarray(kept[:, b]) for b in range(n)]))
        return pa.RecordBatch.from_arrays(cols, names)

    return run


def segment_arrays(signals: DataFrame,
                   fn: Callable[[np.ndarray], np.ndarray],
                   seg_len: int, overlap: int,
                   ratio: float | Fraction = 1.0,
                   meta_cols: tuple[str, ...] = (),
                   bands: bool = False) -> DataFrame:
    """Long rows -> one packed row per segment core: `gather_segments`,
    then one Arrow row map that runs `fn` on each segment and trims it
    (SEGMENT_SCHEMA, or SEGMENT_BAND_SCHEMA with `bands`). `g0` is the
    core's first global output sample index."""
    run = _segment_runner(fn, seg_len, overlap, ratio, meta_cols, bands)

    def rows(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            v, vb = _list_col_to_numpy(batch.column("_v"))
            i, ib = _list_col_to_numpy(batch.column("_i"))
            sids, chs, segs = (batch.column(c).to_pylist()
                               for c in (*KEYS, "seg"))
            metas = {c: batch.column(c).to_pylist() for c in meta_cols}
            for j in range(batch.num_rows):
                out = run(sids[j], chs[j], segs[j], i[ib[j]:ib[j + 1]],
                          v[vb[j]:vb[j + 1]],
                          {c: m[j] for c, m in metas.items()})
                if out.num_rows:
                    yield out

    return (gather_segments(signals, int(seg_len), int(overlap), meta_cols)
            .mapInArrow(rows, SEGMENT_BAND_SCHEMA if bands
                        else SEGMENT_SCHEMA))


def segment_pieces(pieces: DataFrame,
                   fn: Callable[[np.ndarray], np.ndarray],
                   seg_len: int, overlap: int,
                   ratio: float | Fraction = 1.0,
                   meta_cols: tuple[str, ...] = ()) -> DataFrame:
    """`segment_arrays` with band rows out, for input that is already cut
    into segment pieces (PIECE_SCHEMA): one Arrow group per
    (series_id, channel, seg) joins its few pieces in sample order and
    runs the same trim. A gap or overlap between pieces fails the trim's
    contiguity check."""
    import pyarrow as pa

    run = _segment_runner(fn, seg_len, overlap, ratio, meta_cols, True)

    def group(table):
        starts = table.column("start").to_numpy()
        flat, bounds = _list_col_to_numpy(table.column("values"))
        lens = np.diff(bounds)
        idx = np.concatenate([np.arange(s, s + n)
                              for s, n in zip(starts, lens)])
        first = {c: table.column(c)[0].as_py()
                 for c in (*KEYS, "seg", *meta_cols)}
        out = run(first["series_id"], first["channel"], first["seg"], idx,
                  flat, {c: first[c] for c in meta_cols})
        return pa.Table.from_batches([out])

    return pieces.groupBy(*KEYS, "seg").applyInArrow(group,
                                                     SEGMENT_BAND_SCHEMA)


def cut_pieces(seg_len: int, overlap: int):
    """Emitter for kernel_ops._car_group_map(by=("seg", "g0")): each
    channel's core [g0, g0 + n) is cut into the pieces that the segments
    of the NEXT stage (length `seg_len`, overlap `overlap`) read from it,
    as PIECE_SCHEMA rows whose `seg` is the next stage's segment. Every
    next-stage segment then gathers from at most a few neighbouring cores
    (`segment_pieces`), never from per-sample rows."""
    import pyarrow as pa

    L, V = int(seg_len), int(overlap)

    def emit(keys, xs):
        g0, n = keys.column("g0")[0].as_py(), len(xs[0])
        cuts = [(s, max(g0, s * L - V), min(g0 + n, (s + 1) * L + V))
                for s in range(max(0, (g0 - V) // L), (g0 + n - 1 + V) // L + 1)]
        cuts = [c for c in cuts if c[1] < c[2]]
        k = keys.take(np.repeat(np.arange(len(xs)), len(cuts)))
        yield pa.RecordBatch.from_arrays(
            [k.column(0), k.column(1),
             pa.array([s for s, _, _ in cuts] * len(xs), pa.int64()),
             pa.array([lo for _, lo, _ in cuts] * len(xs), pa.int64()),
             _pack_list_array([x[lo - g0:hi - g0] for x in xs
                               for _, lo, hi in cuts])],
            [*KEYS, "seg", "start", "values"])

    return emit


def segmented_kernel(signals: DataFrame, fn: Callable[[np.ndarray], np.ndarray],
                     seg_len: int, overlap: int,
                     ratio: float | Fraction = 1.0) -> DataFrame:
    """Apply `fn` (1-D ndarray -> 1-D ndarray of len*ratio) per bounded
    segment of each channel; long layout in, long layout out."""
    return unpack(segment_arrays(signals, fn, seg_len, overlap, ratio),
                  offset_col="g0")


def segmented_band_kernel(signals: DataFrame,
                          fn: Callable[[np.ndarray], np.ndarray],
                          seg_len: int, overlap: int,
                          ratio: float | Fraction = 1.0,
                          meta_cols: tuple[str, ...] = ()) -> DataFrame:
    """Fan-out variant of `segmented_kernel`: `fn` maps a 1-D segment to a
    2-D (n_out, n_bands) block (e.g. wavelet amplitudes); output is long
    over (band, sample_idx). Same gather, row map and trim.

    `meta_cols` names extra per-series-constant columns on `signals`
    (e.g. a broadcast-joined catalog length) that ride through the
    segment gather; `fn` is then called `fn(x, meta)` with the group's
    values as a dict. This keeps per-series constants in the PLAN (a
    broadcast join) instead of a driver-collected dict in the kernel
    closure — the closure stays O(1) at millions of series."""
    return unpack(segment_arrays(signals, fn, seg_len, overlap, ratio,
                                 meta_cols=meta_cols, bands=True),
                  values_col="amp", value_col="amp", extra_keys=("band",),
                  offset_col="g0")


def segmented_wavelet_amp(signals: DataFrame, rate: float,
                          filters: str = "rat", hg_only: bool = True,
                          seg_len: int = 2 ** 16, overlap: int = 8192,
                          precision: str = "single",
                          n_time: int | None = None) -> DataFrame:
    """Morlet amplitude decomposition with bounded per-task memory: each
    segment computes all its bands in one kernel call (forward FFT shared,
    like the whole-channel path). Overlap should cover the widest wavelet's
    effective support (low-cf bands have sd ~= cf/8, so IR length ~ rate*8/cf
    samples; hg_only bands at 70+ Hz need well under the default 8192 @
    3.2 kHz). Long (band, sample) rows out — same schema as the unpacked
    whole-channel wavelet stage.

    `n_time` (the series' TOTAL channel length) pins the amplitude scale
    to the whole-channel convention via dense-grid kernel norms
    (K.dense_kernel_norms) — without it each segment normalizes on its own
    grid and amplitudes differ from the whole-channel op by
    ~sqrt(n_dense/n_segment). Pass it whenever comparing against (or
    substituting for) the unsegmented wavelet."""
    _validate(seg_len, overlap, rate, rate)
    norms = (None if n_time is None else
             K.dense_kernel_norms(n_time, rate, filters=filters,
                                  hg_only=hg_only))

    def fn(x: np.ndarray) -> np.ndarray:
        Xh, _, _, _ = K.wavelet_transform(
            x[:, None], rate, filters=filters, hg_only=hg_only,
            precision=precision, kernel_norms=norms)
        return np.abs(Xh[:, 0, :])

    return segmented_band_kernel(signals, fn, seg_len, overlap, ratio=1.0)


def resample_exact(x: np.ndarray, new_freq: float, old_freq: float,
                   precision: str = "single", min_pad: int = 256) -> np.ndarray:
    """Grid-exact FFT resample for SEGMENT use: output sample j lies exactly
    at input time j*old/new — no sub-sample drift, ever.

    The parity kernel (dsp.kernels.resample, reference resample.py:43-102 /
    utils.py:106-138) pads to a "fast" FFT length and then ROUNDS
    `new_len = round(ratio * padded_len)`: whenever padded_len*ratio is not
    integral, the output grid is stretched by up to 0.5/new_len — a
    sub-sample phase drift across the array (inherited from MNE; measured
    ~0.6 samples over the 123574-sample worst-case fixture at ratio 1/4,
    i.e. up to tens of percent pointwise error on near-Nyquist content).
    Harmless-by-convention on a whole channel, but fatal inside a
    segmented pipeline: each segment would drift on its own local grid and
    the stitched output would disagree with itself at every boundary.

    This wrapper removes the rounding instead of reproducing it: both the
    reflect padding and (if needed) a right reflect-extension are chosen
    as multiples of the reduced rate-ratio denominator, so padded*ratio,
    trim offsets, and the output length are all exactly integral. Output
    length: ceil(len(x) * new/old), same contract as the parity kernel."""
    r = Fraction(new_freq) / Fraction(old_freq)
    num, den = r.numerator, r.denominator
    n = int(np.asarray(x).shape[0])
    want = -(-n * num // den)                  # ceil(n*r): caller contract
    extra = (-n) % den
    if extra:
        if extra > n - 1:
            raise ValueError(
                f"resample_exact: segment of {n} samples is too short to "
                f"reflect-extend by {extra} (rate-ratio denominator {den}); "
                f"feed longer segments or choose rates with a simpler ratio")
        pad_width = [(0, extra)] + [(0, 0)] * (np.asarray(x).ndim - 1)
        x = np.pad(x, pad_width, mode="reflect")
    n2 = n + extra
    k = -(-int(min_pad) // den) * den          # per-side pad, multiple of den
    y = K.resample_kernel(x, n2 * num // den, npad=k, precision=precision)
    return y[:want]


def segmented_resample(signals: DataFrame, new_freq: float, old_freq: float,
                       seg_len: int = 2 ** 16, overlap: int = 4096,
                       precision: str = "single") -> DataFrame:
    """FFT rational resample with bounded per-task memory (long -> long).

    The overlap is snapped UP to the nearest value making overlap*ratio
    integral (snap_overlap) — overlap is a numerical-tolerance knob, not
    semantics, so widening it is always safe; seg_len stays the caller's
    contract and is validated, not adjusted. Each segment resamples via
    `resample_exact` (grid-exact), NOT the parity kernel — the parity
    kernel's pad-rounding would sub-sample-drift each segment on its own
    local grid (see resample_exact docstring)."""
    overlap = snap_overlap(overlap, new_freq, old_freq)
    _validate(seg_len, overlap, new_freq, old_freq)
    return segmented_kernel(
        signals,
        lambda x: resample_exact(x, new_freq, old_freq, precision=precision),
        # exact ratio, not the float quotient: trim offsets must agree
        # with resample_exact's own Fraction(new)/Fraction(old) grid
        seg_len, overlap, ratio=Fraction(new_freq) / Fraction(old_freq))


def segmented_notch(signals: DataFrame, rate: float, noise_hz: float = 60.0,
                    seg_len: int = 2 ** 16, overlap: int = 4096,
                    precision: str = "single") -> DataFrame:
    """60 Hz + harmonics notch with bounded per-task memory."""
    _validate(seg_len, overlap, rate, rate)
    return segmented_kernel(
        signals,
        lambda x: K.apply_linenoise_notch(
            x[:, None], rate, noise_hz=noise_hz, precision=precision)[:, 0],
        seg_len, overlap, ratio=1.0)
