"""Pure-NumPy spectral kernels.

These are ndarray -> ndarray functions with the same math as the reference
(fresh implementations on numpy.fft; scipy is unavailable here). They are
invoked per (series_id, channel) row inside the Arrow Spark kernels
(`mapInArrow` / `applyInArrow`, operators/kernel_ops.py), i.e. one task per
channel — which is the distributed replacement for the reference's
per-channel loop (resample.py:142-147) and its `workers=-1` FFT threading
(we deliberately stay single-threaded per task: Spark supplies the
core-level parallelism).

Behavioral parity targets (see SURVEY.md §2A):
- resample: /root/reference/src/process_nwb/resample.py:43-153
  (ceil output length resample.py:140; even-length Nyquist-bin correction
  resample.py:86-88; spectrum scaled by ratio resample.py:89)
- notch: linenoise_notch.py:8-92 (+/-1 Hz Hamming-shaped dip, identity when
  nyquist < noise_hz; the reference's non-FFT firwin2 path has a latent
  last-notch-wins bug and is intentionally NOT replicated)
- wavelet: wavelet_transform.py:238-322 (DC-zeroed Heaviside, per-kernel
  L2 renormalization, X_fft_h reuse across bands of a channel)
"""
from __future__ import annotations

import numpy as np

from ..precision import cast_dtype, complex_dtype, real_dtype
from .padding import pad_plan, smart_pad, trim
from .filterbank import get_filterbank


def resample_num(n_time: int, new_freq: float, old_freq: float) -> int:
    """Output length contract: ceil, not round (resample.py:140)."""
    return int(np.ceil(n_time * float(new_freq) / float(old_freq)))


def resample_kernel(X: np.ndarray, num: int, npad="fast", pad="reflect_limited",
                    real: bool = True, precision: str = "single") -> np.ndarray:
    """FFT rational resampling of axis 0 to `num` samples.

    pad -> rfft -> Nyquist-bin correction (x2 when shortening / x0.5 when
    lengthening, even use_len only) -> scale by ratio -> irfft(n=new_len)
    -> trim. Parity: resample.py:43-102.
    """
    X = np.asarray(X)
    X = X.astype(cast_dtype(X, precision), copy=False)
    n_time = X.shape[0]
    ratio = float(num) / n_time
    npads, to_removes, new_len = pad_plan(n_time, npad, ratio=ratio)
    X = smart_pad(X, npads, pad)

    old_len = len(X)
    shorter = new_len < old_len
    use_len = new_len if shorter else old_len
    if real:
        X_fft = np.fft.rfft(X, axis=0)
        if use_len % 2 == 0:
            nyq = use_len // 2
            X_fft[nyq:nyq + 1] *= 2 if shorter else 0.5
        X_fft *= ratio
        y = np.fft.irfft(X_fft, n=new_len, axis=0)
    else:
        X_fft = np.fft.fft(X, axis=0)
        X_fft[0] *= ratio
        y = np.fft.ifft(X_fft, n=new_len, axis=0).real

    y = trim(y, to_removes)
    return y.astype(real_dtype(precision), copy=False)


def resample(X: np.ndarray, new_freq: float, old_freq: float, real: bool = True,
             npad="fast", precision: str = "single") -> np.ndarray:
    """User-facing resample along axis 0. Parity: resample.py:105-153."""
    num = resample_num(np.asarray(X).shape[0], new_freq, old_freq)
    return resample_kernel(X, num, npad=npad, real=real, precision=precision)


def notch_mask_apply(fd: np.ndarray, fs: np.ndarray, notch: float,
                     delta: float = 1.0) -> None:
    """In-place +/-delta Hz Hamming-shaped dip around `notch` in the rfft
    spectrum `fd` (freq grid `fs`). Parity: linenoise_notch.py:41-44."""
    mask = (fs > notch - delta) & (fs < notch + delta)
    w = np.hamming(int(mask.sum()))
    fd[mask] *= (1.0 - w)[:, np.newaxis] if fd.ndim > 1 else (1.0 - w)


def apply_linenoise_notch(X: np.ndarray, rate: float, noise_hz: float = 60.0,
                          npad="fast", precision: str = "single") -> np.ndarray:
    """Notch at noise_hz and all harmonics below Nyquist; identity when
    nyquist < noise_hz. Parity: linenoise_notch.py:55-92."""
    X = np.asarray(X)
    X = X.astype(cast_dtype(X, precision), copy=False)
    squeeze = X.ndim == 1
    if squeeze:
        X = X[:, np.newaxis]
    nyquist = rate / 2.0
    if nyquist < noise_hz:
        return X[:, 0] if squeeze else X
    notches = np.arange(noise_hz, nyquist, noise_hz)
    npads, to_removes, _ = pad_plan(X.shape[0], npad)
    Xp = smart_pad(X, npads)

    fs = np.fft.rfftfreq(Xp.shape[0], 1.0 / rate)
    fd = np.fft.rfft(Xp, axis=0)
    for notch in notches:
        notch_mask_apply(fd, fs, notch)
    Xp = np.fft.irfft(fd, n=Xp.shape[0], axis=0)
    Xp = trim(Xp, to_removes)
    Xp = Xp.astype(real_dtype(precision), copy=False)
    return Xp[:, 0] if squeeze else Xp


def analytic_fft(X: np.ndarray, precision: str = "single") -> np.ndarray:
    """fft(X) * 2*1[f>0] — the DC-zeroed Heaviside product shared across a
    channel's bands. Parity: wavelet_transform.py:306-311."""
    n_time = X.shape[0]
    freq = np.fft.fftfreq(n_time, 1.0)
    h = np.zeros(len(freq))
    h[freq > 0] = 2.0
    if X.ndim > 1:
        h = h.reshape((-1,) + (1,) * (X.ndim - 1))
    return (np.fft.fft(X, axis=0) * h).astype(complex_dtype(precision), copy=False)


def dense_kernel_norms(n_time: int, rate: float, filters="rat",
                       hg_only: bool = True, npad="fast") -> np.ndarray:
    """||f||2 of each filterbank kernel exactly as `wavelet_transform`
    would normalize it for an n_time-sample input (i.e. on the padded
    grid). Named filtersets only (they are all Gaussian); always float64
    — the norms are scale constants, not data, so no precision knob.

    The unit-L2 normalization (wavelet_transform.py:315 and
    filterbank.gaussian_kernel, `k/||k||`) makes the output AMPLITUDE
    depend on the FFT length: ||k_raw||^2 ~ n*sd/rate, so halving the
    window scales every amplitude by ~sqrt(2). Whole-channel use never
    notices (one n per channel), but any strategy that computes the
    transform on windows of a longer recording — our segmented operators
    — must renormalize against the recording's own dense grid or its
    amplitudes come out ~sqrt(n_dense/n_segment) off (measured 2.24x on
    the worst-case fixture). This returns the RAW (unnormalized)
    dense-grid kernel norms; wavelet_transform(kernel_norms=...) rescales
    its local unit kernels by local_raw/dense_raw so the effective
    transfer function is K(nu)/dense_raw — the whole-channel convention —
    regardless of segment length. O(n_padded) driver-side math from just
    the channel LENGTH, no data pass."""
    from .filterbank import band_params, check_nyquist, gaussian_raw_norm

    npads, _, _ = pad_plan(int(n_time), npad)
    n_padded = int(n_time) + int(npads.sum())
    cfs, sds = band_params(filters, hg_only)
    check_nyquist(np.asarray(cfs), rate)
    return np.array([gaussian_raw_norm(n_padded, rate, cf, sd)
                     for cf, sd in zip(cfs, sds)])


def wavelet_transform(X: np.ndarray, rate: float, filters="rat",
                      hg_only: bool = True, X_fft_h=None, npad="fast",
                      to_removes=None, precision: str = "single",
                      kernel_norms=None):
    """Analytic-signal Morlet decomposition.

    Returns (Xh complex (n_time, ..., n_bands), X_fft_h, cfs, sds).
    Parity: wavelet_transform.py:238-322.

    `kernel_norms` (optional, per-band RAW dense-grid norms from
    dense_kernel_norms) rescales each local unit-L2 kernel by
    local_raw/dense_raw, putting windowed transforms on the whole
    recording's amplitude convention. Requires a named filterset (the
    rescale needs cfs/sds to evaluate the local raw norm).
    """
    if X_fft_h is None:
        X = np.asarray(X)
        X = X.astype(cast_dtype(X, precision), copy=False)
        npads, to_removes, _ = pad_plan(X.shape[0], npad)
        X = smart_pad(X, npads)
        n_time = X.shape[0]
    else:
        n_time = X_fft_h.shape[0]
        X_fft_h = X_fft_h.astype(cast_dtype(X_fft_h, precision), copy=False)

    kernels, cfs, sds = get_filterbank(filters, n_time, rate, hg_only,
                                       precision=precision)
    if X_fft_h is None:
        X_fft_h = analytic_fft(X, precision=precision)
        base_shape = X.shape
    else:
        base_shape = X_fft_h.shape

    local_raw = None
    if kernel_norms is not None:
        if cfs is None:
            raise ValueError(
                "kernel_norms requires a named filterset (need cfs/sds to "
                "evaluate the local raw kernel norms)")
        from .filterbank import gaussian_raw_norm
        local_raw = [gaussian_raw_norm(n_time, rate, cf, sd)
                     for cf, sd in zip(cfs, sds)]

    Xh = np.zeros(base_shape + (len(kernels),),
                  dtype=complex_dtype(precision))
    for ii, f in enumerate(kernels):
        if f is None:
            Xh[..., ii] = np.fft.ifft(X_fft_h, axis=0)
        else:
            f = f / np.linalg.norm(f)
            if kernel_norms is not None:
                # local unit kernel -> dense-grid amplitude convention:
                # K(nu)/||K||_local * (||K||_local/||K||_dense)
                f = f * (local_raw[ii] / float(kernel_norms[ii]))
            fk = f.reshape((-1,) + (1,) * (X_fft_h.ndim - 1))
            Xh[..., ii] = np.fft.ifft(X_fft_h * fk, axis=0)

    Xh = trim(Xh, to_removes)
    return Xh, X_fft_h, cfs, sds


def car(X: np.ndarray, mean_frac: float = 0.95, round_func=np.ceil,
        precision: str = "single") -> np.ndarray:
    """Trimmed-mean common average reference across channels per timepoint.

    NaN-skipping; excludes ceil(n_ch*(1-frac)/2) lowest+highest channels per
    timepoint. Returns (n_time, 1). Parity: common_referencing.py:11-42.
    Used as the NumPy oracle for the Catalyst CAR (operators/car.py).
    """
    X = np.asarray(X)
    X = X.astype(cast_dtype(X, precision), copy=False)
    n_time, n_channels = X.shape
    if mean_frac == 1.0:
        return np.nanmean(X, axis=1, keepdims=True)
    n_exclude = int(round_func(n_channels * (1.0 - mean_frac) / 2.0))
    if 2 * n_exclude >= n_channels:
        raise ValueError(
            f"mean_frac={mean_frac} excludes all {n_channels} channels")
    return np.nanmean(np.sort(X, axis=1)[:, n_exclude:n_channels - n_exclude],
                      axis=1, keepdims=True)


def subtract_car(X: np.ndarray, mean_frac: float = 0.95, round_func=np.ceil,
                 precision: str = "single") -> np.ndarray:
    """X - CAR(X). Parity: common_referencing.py:45-68."""
    X = np.asarray(X)
    X = X.astype(cast_dtype(X, precision), copy=False)
    return X - car(X, mean_frac=mean_frac, round_func=round_func,
                   precision=precision)


def high_gamma_stats(amps: np.ndarray, n_baseline: int):
    """Per-band baseline (mean, population std), each (n_bands, 1), over
    the first `n_baseline` columns of (n_bands, n_time) amplitudes; a
    trace shorter than the window uses its real length."""
    base = np.asarray(amps, dtype=np.float64)[:, :n_baseline]
    return base.mean(axis=1, keepdims=True), base.std(axis=1, keepdims=True)


def high_gamma_apply(amps: np.ndarray, mu: np.ndarray,
                     sd: np.ndarray) -> np.ndarray:
    """z-score (n_bands, n) amplitudes with fixed per-band stats and
    average the bands, summed in row order -> (n,). Column-wise, so a
    trace cut into time blocks gives bitwise the same values per block."""
    return ((np.asarray(amps, dtype=np.float64) - mu) / sd).mean(axis=0)


def high_gamma(amps: np.ndarray, n_baseline: int) -> np.ndarray:
    """The tutorial's tail on one channel: (n_bands, n_time) band
    amplitudes, rows in band order -> the (n_time,) high-gamma trace.
    Each band is z-scored against its first `n_baseline` samples
    (population std, ddof=0; a trace shorter than the window uses its
    real length), then the bands are averaged, summed in row order.
    Always float64.
    Parity: examples/plot_ECoG_preprocessing_tutorial.py:164-167."""
    amps = np.asarray(amps, dtype=np.float64)
    return high_gamma_apply(amps, *high_gamma_stats(amps, n_baseline))
