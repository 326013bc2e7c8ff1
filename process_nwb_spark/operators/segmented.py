"""Overlap-segmented spectral kernels — the 100 TB path for recordings too
long for one task (SURVEY.md §7 "whole-axis FFT vs partitioned data").

The whole-channel operators (kernel_ops.py) need a channel's full time axis
in one task. For arbitrarily long recordings this operator instead:

1. assigns every long-layout sample to its core segment plus any segment
   whose overlap window covers it (pure Catalyst: a small candidate array,
   filter, explode — narrow);
2. groups by (series_id, channel, seg) — ONE shuffle whose groups are
   bounded at seg_len + 2*overlap samples regardless of recording length;
3. runs the dense kernel per segment inside `applyInPandas`, trims each
   segment's overlap from the output, and emits long rows with exact
   global sample indices (no second shuffle, no reconcatenation pass).

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
misplacing core samples.

Reference analog: the pad/trim machinery (utils.py:106-167) is reused
unchanged inside each segment; the chunked writer
(wavelet_transform.py:142-235) bounded memory the same way — one bounded
block in flight per worker.
"""
from __future__ import annotations

from fractions import Fraction
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..dsp import kernels as K

LONG_SCHEMA = ("series_id STRING, channel INT, sample_idx BIGINT, "
               "value DOUBLE")


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


def _explode_segments(signals: DataFrame, L: int, V: int,
                      extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Assign each sample to its core segment + overlap-covering neighbors
    (narrow: candidate array -> filter -> explode). Shared by both kernel
    shapes so the subtle assignment predicate exists exactly once.
    `extra_cols` ride through unchanged (per-series-constant metadata)."""
    i = F.col("sample_idx")
    s0 = F.floor(i / L).cast("bigint")
    cand = F.array(s0 - 1, s0, s0 + 1)
    segs = F.filter(
        cand, lambda s: (s >= 0) & (i >= s * L - V) & (i < (s + 1) * L + V))
    return signals.select(
        "series_id", "channel", F.explode(segs).alias("seg"),
        "sample_idx", "value", *extra_cols)


def _segment_output(pdf: pd.DataFrame, fn, L: int, V: int, r: Fraction):
    """Run `fn` on one sorted segment group and trim to its core's output:
    returns (meta_row, g0, kept 2-D ndarray (n_kept, n_cols)).

    The overlap/core index math lives ONLY here, in EXACT integer
    arithmetic on the rational ratio `r` — float `core * r` can land one
    ulp above a truly-integral product and ceil() would then emit one
    extra output sample, silently shifting every later segment.
    Contiguity and boundary alignment are validated loudly — a gapped
    series or one not starting at sample_idx 0 would otherwise silently
    drop or misplace the core (left_ov would go negative and the kept
    slice could be empty)."""
    pdf = pdf.sort_values("sample_idx")
    seg = int(pdf["seg"].iloc[0])
    idx = pdf["sample_idx"].to_numpy()
    # strictly consecutive, not just span==count: a duplicated index
    # would mask a missing one and the kernel would silently run over a
    # misaligned buffer
    if not np.array_equal(idx, np.arange(idx[0], idx[0] + len(idx))):
        raise ValueError(
            f"segmented kernel: sample_idx not contiguous inside segment "
            f"{seg} of {pdf['series_id'].iloc[0]!r}"
            f"/ch{int(pdf['channel'].iloc[0])} "
            f"(span {int(idx[-1] - idx[0]) + 1}, {len(idx)} rows, dups or "
            f"gaps present); segmented ops require gapless input")
    core = int(((idx >= seg * L) & (idx < (seg + 1) * L)).sum())
    if core == 0:
        # overlap-only spill group: this dataset holds a neighboring
        # segment's overlap rows but none of this segment's core (a
        # file-cut boundary in a streaming micro-batch, or a truncated
        # recording end) — the segment contributes nothing here
        return ((pdf["series_id"].iloc[0], int(pdf["channel"].iloc[0])),
                seg * L * r.numerator // r.denominator, np.empty((0, 1)))
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
    x = pdf["value"].to_numpy(dtype=np.float64)
    left_ov = max(0, int(seg * L - idx[0]))  # V, or 0 at a bare boundary
    out = np.asarray(fn(x), dtype=np.float64)
    if out.ndim == 1:
        out = out[:, np.newaxis]
    num, den = r.numerator, r.denominator
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
    kept = out[k0:k0 + n_out]
    g0 = seg * L * num // den                # integral by _validate
    return (pdf["series_id"].iloc[0], int(pdf["channel"].iloc[0])), g0, kept


def _as_fraction(ratio) -> Fraction:
    """Exact Fraction passes through untouched; a float is rationalized.
    Rate-derived ratios should be passed as Fraction(new)/Fraction(old)
    (exact — floats are binary rationals) so the trim offsets here can
    never disagree with the kernel's own exact grid; _segment_output
    additionally fails loudly on any residual mismatch."""
    if isinstance(ratio, Fraction):
        return ratio
    return Fraction(ratio).limit_denominator(10 ** 9)


def segmented_kernel(signals: DataFrame, fn: Callable[[np.ndarray], np.ndarray],
                     seg_len: int, overlap: int,
                     ratio: float | Fraction = 1.0) -> DataFrame:
    """Apply `fn` (1-D ndarray -> 1-D ndarray of len*ratio) per bounded
    segment of each channel; long layout in, long layout out."""
    L, V = int(seg_len), int(overlap)
    r = _as_fraction(ratio)
    _validate(L, V, r, 1)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        (sid, ch), g0, kept = _segment_output(pdf, fn, L, V, r)
        return pd.DataFrame({
            "series_id": sid,
            "channel": ch,
            "sample_idx": g0 + np.arange(kept.shape[0], dtype=np.int64),
            "value": kept[:, 0],
        })

    return (_explode_segments(signals, L, V)
            .groupBy("series_id", "channel", "seg")
            .applyInPandas(run, LONG_SCHEMA))


BAND_SCHEMA = ("series_id STRING, channel INT, band INT, "
               "sample_idx BIGINT, amp DOUBLE")


def segmented_band_kernel(signals: DataFrame,
                          fn: Callable[[np.ndarray], np.ndarray],
                          seg_len: int, overlap: int,
                          ratio: float | Fraction = 1.0,
                          meta_cols: tuple[str, ...] = ()) -> DataFrame:
    """Fan-out variant of `segmented_kernel`: `fn` maps a 1-D segment to a
    2-D (n_out, n_bands) block (e.g. wavelet amplitudes); output is long
    over (band, sample_idx). Same bounded-group/one-shuffle layout, same
    shared segment-assignment and core-trim machinery.

    `meta_cols` names extra per-series-constant columns on `signals`
    (e.g. a broadcast-joined catalog length) that ride through the
    segment shuffle; `fn` is then called `fn(x, meta)` with the group's
    first-row values as a dict. This keeps per-series constants in the
    PLAN (a broadcast join) instead of a driver-collected dict in the
    kernel closure — the closure stays O(1) at millions of series."""
    L, V = int(seg_len), int(overlap)
    r = _as_fraction(ratio)
    _validate(L, V, r, 1)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        seg_fn = fn
        if meta_cols:
            meta = {c: pdf[c].iloc[0] for c in meta_cols}
            seg_fn = lambda x: fn(x, meta)  # noqa: E731
        (sid, ch), g0, kept = _segment_output(pdf, seg_fn, L, V, r)
        n_kept, n_bands = kept.shape
        return pd.DataFrame({
            "series_id": sid,
            "channel": ch,
            "band": np.repeat(np.arange(n_bands, dtype=np.int32), n_kept),
            "sample_idx": np.tile(g0 + np.arange(n_kept, dtype=np.int64),
                                  n_bands),
            "amp": kept.T.ravel(),
        })

    return (_explode_segments(signals, L, V, extra_cols=meta_cols)
            .groupBy("series_id", "channel", "seg")
            .applyInPandas(run, BAND_SCHEMA))


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
