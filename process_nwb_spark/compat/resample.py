"""Reference-compatible `process_nwb.resample` module surface.

Parity targets: /root/reference/src/process_nwb/resample.py:43-153 (pure
functions, delegated bit-for-bit) and :156-205 (NWB store, env-gated).
"""
from __future__ import annotations

import numpy as np

from ..dsp import kernels as K
from ._gate import require_pynwb

_scaling = 1e6  # V -> uV, resample.py:11


def resample_func(X, num, npad="fast", pad="reflect_limited", real=True,
                  precision="single"):
    """Low-level fixed-output-length resample along axis 0
    (resample.py:43-102)."""
    return K.resample_kernel(np.asarray(X), num, npad=npad, pad=pad,
                             real=real, precision=precision)


def resample(X, new_freq, old_freq, real=True, axis=0, npad="fast",
             precision="single", loop=True):
    """Frequency-ratio resample (resample.py:105-153).

    `axis` is honored via moveaxis (the reference special-cases axis 0 and
    moves otherwise — same result). `loop` is accepted for signature
    compatibility: in the reference it only trades peak memory for a
    per-channel Python loop; outputs are identical either way, and the
    engine's memory bounding happens at task granularity instead
    (operators/segmented.py)."""
    X = np.asarray(X)
    if axis != 0:
        X = np.moveaxis(X, axis, 0)
    out = K.resample(X, new_freq, old_freq, real=real, npad=npad,
                     precision=precision)
    if axis != 0:
        out = np.moveaxis(out, 0, axis)
    return out


def store_resample(elec_series, processing, new_freq, axis=0, scaling=None,
                   npad="fast", precision="single"):
    """NWB store path (resample.py:156-205) — env-gated."""
    require_pynwb(
        "store_resample",
        "pipelines.preprocess(...).stages['downsampled'], persisted with "
        "sources.catalog.SignalCatalog under the 'downsampled_' lineage "
        "name")
