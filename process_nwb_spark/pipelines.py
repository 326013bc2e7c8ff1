"""End-to-end preprocessing pipelines (the engine's flagship dataflow).

Spark-first re-expression of the reference pipeline
(/root/reference/src/process_nwb/pipelines.py:15-111):

    scan -> x1e6 scale -> resample(initial_rate) -> notch(60) ->
    subtract_CAR(0.95) -> wavelet(filters, hg_only) -> |.| ->
    resample(final_rate) [-> z-score -> band mean]

Everything is a lazily-composed DataFrame transformation; Catalyst fuses
the narrow stages. `all_steps=True` materializes named intermediates with
the reference's lineage names (downsampled_X, CAR_ln_X, wvlt_amp_X —
resample.py:196, pipelines.py:148, wavelet_transform.py:389), the catalog
analog of the NWB processing module.

Physical plan (2 shuffles on the packed layout — SURVEY.md §3, improved):
  pack (shuffle 1: long rows -> one array row per channel) ->
  [resample+notch fused kernel, narrow] ->
  packed CAR (shuffle 2: n_channels array rows per series — NOT the long
  rows; the relational window CAR would shuffle n_time*n_channels rows) ->
  wavelet kernel in the same group map (fans out to bands) -> unpack.
`high_gamma_trace` swaps the band emitter for the high-gamma one (baseline
z-score + band mean in NumPy, one row per channel) and unpacks that: the
tutorial's tail adds no shuffle. Both kernel crossings are Arrow-native
(operators/kernel_ops.py). With
`fuse=False` the original 3-shuffle relational-CAR plan runs instead (it
materializes the long intermediates the `all_steps` catalog needs) on the
same Arrow row map.
"""
from __future__ import annotations

from dataclasses import dataclass, field
from functools import partial
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dsp import kernels as K
from .operators.car import subtract_car, subtract_car_packed
from .operators.kernel_ops import (car_high_gamma_arrow, car_wavelet_arrow,
                                   fused_ops_arrow, notch_op, resample_op,
                                   scale_packed, wavelet_op)
from .operators.repack import pack, unpack
from .operators.zscore import (band_mean, high_gamma_packed,
                               high_gamma_segments, zscore_baseline)

SCALING = 1e6  # V -> uV, resample.py:11


@dataclass
class PreprocessResult:
    """Lazily-composed stage DataFrames, lineage-named like the reference."""
    tf: DataFrame                       # long (series_id, channel, band, cf, sd, sample_idx, amp)
    stages: dict = field(default_factory=dict)
    tf_packed: DataFrame | None = None  # (series_id, channel, band, cf, sd, amp ARRAY)
    # n_baseline -> packed high-gamma rows (series_id, channel, values
    # ARRAY), built from the CAR input; set by the fused pipeline only
    high_gamma: Callable[[int], DataFrame] | None = None

    def materialize(self, spark, base_name: str = "ECoG"):
        """`all_steps` analog: register every stage as a temp view with the
        reference's lineage naming (pipelines.py:69-82)."""
        for name, df in self.stages.items():
            df.createOrReplaceTempView(f"{name}_{base_name}")
        return sorted(f"{n}_{base_name}" for n in self.stages)


def preprocess(signals: DataFrame, rate: float,
               initial_resample_rate: float = 3200.0,
               final_resample_rate: float = 400.0,
               filters: str = "rat", hg_only: bool = True,
               mean_frac: float = 0.95, scaling: float = SCALING,
               abs_only: bool = True, precision: str = "single",
               fuse: bool = True,
               segmented: bool = False, seg_len: int | None = None,
               seg_overlap: int = 4096) -> PreprocessResult:
    """The default pipeline on a long signals DataFrame
    (series_id, channel, sample_idx, value). Parity: pipelines.py:15-111.

    The two kernel crossings — resample+notch and CAR->wavelet — run
    through the Arrow operators (mapInArrow / applyInArrow): signal arrays
    cross as flat float64 buffers + offsets in both directions. (An
    Arrow-native pack was also tried and measured STRICTLY worse — 2.6 s
    vs 0.8 s for the JVM collect_list pack — because it pays a full extra
    Python round-trip of the packed arrays.)

    `segmented=True` (or any explicit `seg_len`) routes the whole pipeline
    through the overlap-segmented operators (operators/segmented.py): no
    stage ever holds a full channel in one task, so a channel of 10^8+
    samples processes in bounded memory — the escape hatch SCALE.md's
    "Memory bound" section promises. Numerics are equivalent-but-not-
    bitwise vs this whole-channel path (segment-local FFT grids);
    boundary error is inside the reference's own chunked-vs-dense bound
    (rtol=0.01, reference tests/test_pipeline.py:154), pinned e2e in
    tests/test_pipeline.py. Requires abs_only=True (the final resample
    runs inside the pipeline, and resampled phase is meaningless — the
    same constraint the reference enforces, wavelet_transform.py:389).
    """
    if segmented or seg_len is not None:
        if not abs_only:
            raise ValueError(
                "segmented preprocess always post-resamples, which is "
                "incompatible with phase output; use abs_only=True")
        if not fuse:
            # fuse=False exists to materialize the unfused 'downsampled'
            # lineage stage, which the segmented plan never produces —
            # failing loudly beats a downstream KeyError on res.stages
            raise ValueError(
                "segmented preprocess does not materialize the unfused "
                "(fuse=False) lineage stages; run fuse=True, or run the "
                "whole-channel path for --all_steps-style lineage")
        return _preprocess_segmented(
            signals, rate, initial_resample_rate, final_resample_rate,
            filters=filters, hg_only=hg_only, mean_frac=mean_frac,
            scaling=scaling, precision=precision, seg_len=seg_len,
            seg_overlap=seg_overlap)
    stages: dict[str, DataFrame] = {}

    packed = pack(signals)
    packed = scale_packed(packed, scaling)
    if fuse:
        ds = fused_ops_arrow(
            packed,
            lambda x: K.resample(x, initial_resample_rate, rate,
                                 precision=precision),
            lambda x: K.apply_linenoise_notch(x, initial_resample_rate,
                                              precision=precision),
        )
        # dense CAR on packed rows: shuffle = n_channels array rows/series.
        # The lineage stage stays separately addressable (lazy — only pays
        # if materialized); the pipeline output itself uses the fused
        # CAR->wavelet kernel below (one Python crossing for both).
        repacked = subtract_car_packed(ds, mean_frac=mean_frac,
                                       precision=precision)
        stages["CAR_ln_downsampled"] = unpack(repacked)
        wv = car_wavelet_arrow(ds, initial_resample_rate,
                               mean_frac=mean_frac, filters=filters,
                               hg_only=hg_only, abs_only=abs_only,
                               post_resample_rate=final_resample_rate,
                               precision=precision)
        high_gamma = partial(car_high_gamma_arrow, ds, initial_resample_rate,
                             mean_frac=mean_frac, filters=filters,
                             hg_only=hg_only,
                             post_resample_rate=final_resample_rate,
                             precision=precision)
    else:
        ds = resample_op(packed, initial_resample_rate, rate,
                         precision=precision)
        stages["downsampled"] = unpack(ds)
        ds = notch_op(ds, initial_resample_rate, precision=precision)
        long_ds = unpack(ds)
        car_ln = subtract_car(long_ds, mean_frac=mean_frac)
        stages["CAR_ln_downsampled"] = car_ln
        repacked = pack(car_ln)
        wv = wavelet_op(repacked, initial_resample_rate, filters=filters,
                        hg_only=hg_only, abs_only=abs_only,
                        post_resample_rate=final_resample_rate,
                        precision=precision)
        high_gamma = None
    tf = unpack(wv.drop("phase"), values_col="amp", value_col="amp",
                extra_keys=("band", "cf", "sd"))
    stages["wvlt_amp"] = tf
    if not abs_only:
        # the reference stores phase as its own wvlt_phase_ series
        # (wavelet_transform.py:422-436); dropping it unconditionally
        # would make abs_only=False pay the np.angle computation and then
        # discard the result
        stages["wvlt_phase"] = unpack(
            wv.drop("amp"), values_col="phase", value_col="phase",
            extra_keys=("band", "cf", "sd"))
    return PreprocessResult(tf=tf, stages=stages,
                            tf_packed=wv if not abs_only
                            else wv.drop("phase"),
                            high_gamma=high_gamma)


def _snap_seg_len(base: int, new_freq: float, old_freq: float) -> int:
    """Segment length for one pipeline stage: smallest multiple of the
    reduced rate-ratio denominator >= base (the segmented operators'
    exactness rule — operators/segmented.py:_validate), and at least TWO
    denominators, so a valid overlap (itself forced to a denominator
    multiple by snap_overlap) always fits under the overlap < seg_len
    validation. seg_len is a memory-bound knob, not semantics, so
    snapping UP is always safe."""
    from .operators.segmented import ratio_denominator, snap_to_ratio

    d = ratio_denominator(new_freq, old_freq)
    return snap_to_ratio(max(int(base), 2 * d), new_freq, old_freq,
                         cap=10 ** 8, what="seg_len")


def _preprocess_segmented(signals: DataFrame, rate: float,
                          initial_resample_rate: float,
                          final_resample_rate: float,
                          filters: str = "rat", hg_only: bool = True,
                          mean_frac: float = 0.95, scaling: float = SCALING,
                          precision: str = "single",
                          seg_len: int | None = None,
                          seg_overlap: int = 4096) -> PreprocessResult:
    """The bounded-memory pipeline: the long rows are gathered ONCE into
    per-(series, channel, segment) arrays and every later stage runs on
    packed segment rows, so per-task memory is O(seg_len x n_channels),
    independent of recording length.

    Physical plan — 4 data shuffles, each moving arrays, not samples:
      [scale, narrow] ->
      gather (shuffle 1): explode each sample into its <= 3 covering
             segments, collect per (series, channel, segment) ->
      seg A: fused resample(initial)+notch in one Arrow row map, trimmed
             to each segment's core (`g0` = its global start) ->
      CAR (shuffle 2): one Arrow group per (series, segment) holds
           n_channels cores on one shared time axis — exact per timepoint
           — and cuts each CAR'd core into the stage-B segments' pieces ->
      seg B (shuffle 3): one Arrow group per (series, channel, stage-B
             segment) over its few pieces: wavelet|.| + resample(final),
             band fan-out; `_n_time` is broadcast-joined onto the pieces ->
      high_gamma_trace only (shuffle 4): repartition by channel, sort by
             `g0`, one streaming Arrow map (zscore.high_gamma_segments).
    `tf`, `CAR_ln_downsampled` and the trace explode the packed segment
    rows with their global sample_idx at the end.

    vs the default packed plan (2 shuffles) this pays 1-2 extra shuffles
    and segment-overlap recompute — the price of never materializing a
    whole channel. Use it when n_time * n_bands * 8 B approaches the
    executor task budget (SCALE.md "Memory bound")."""
    f = _segmented_frames(signals, rate, initial_resample_rate,
                          final_resample_rate, filters=filters,
                          hg_only=hg_only, mean_frac=mean_frac,
                          scaling=scaling, precision=precision,
                          seg_len=seg_len, seg_overlap=seg_overlap)
    from .dsp.filterbank import band_params

    cfs, sds = band_params(filters, hg_only)
    cf_arr = F.array(*[F.lit(float(c)) for c in cfs])
    sd_arr = F.array(*[F.lit(float(s)) for s in sds])
    bands = f["bands"]
    tf = unpack(bands.select(
        *bands.columns,
        F.element_at(cf_arr, F.col("band") + 1).alias("cf"),
        F.element_at(sd_arr, F.col("band") + 1).alias("sd")),
        values_col="amp", value_col="amp", extra_keys=("band", "cf", "sd"),
        offset_col="g0")
    return PreprocessResult(
        tf=tf, stages={"CAR_ln_downsampled": f["car"], "wvlt_amp": tf},
        high_gamma=partial(high_gamma_segments, bands))


def _segmented_frames(signals: DataFrame, rate: float,
                      initial_resample_rate: float,
                      final_resample_rate: float, filters: str, hg_only: bool,
                      mean_frac: float, scaling: float, precision: str,
                      seg_len: int | None, seg_overlap: int) -> dict:
    """The segmented pipeline's packed stages (see _preprocess_segmented):
    "cores" (stage-A segment cores), "car" (the CAR'd signal, long),
    "pieces" (stage-B segment pieces) and "bands" (stage-B band rows with
    `g0`), plus the segment geometry."""
    from fractions import Fraction

    import numpy as np

    from .operators.kernel_ops import _car_group_map, _values_rows
    from .operators.segmented import (PIECE_SCHEMA, SEGMENT_SCHEMA,
                                      cut_pieces, resample_exact,
                                      segment_arrays, segment_pieces,
                                      snap_overlap)

    base = int(seg_len) if seg_len is not None else 2 ** 16
    # overlap is a numerics knob (boundary-error tolerance); cap it at a
    # quarter segment so a small explicit seg_len composes with the
    # default overlap instead of tripping the overlap<seg_len validation.
    # Safe against snap_overlap's snap-UP because _snap_seg_len guarantees
    # seg_len >= 2 denominators: snapped overlap <= L/4 + d - 1 < L.
    def _ov(L: int, new: float, old: float) -> int:
        v = snap_overlap(min(int(seg_overlap), max(1, L // 4)), new, old)
        assert v < L, (v, L)   # guaranteed by the 2*d floor in _snap_seg_len
        return v

    # exact rate ratios (floats are binary rationals, so these are the
    # kernels' own grids) — the float quotient's best rational could in
    # principle differ and desync trim offsets from kernel output lengths
    fr1 = Fraction(initial_resample_rate) / Fraction(rate)
    fr2 = Fraction(final_resample_rate) / Fraction(initial_resample_rate)
    seg_a = _snap_seg_len(base, initial_resample_rate, rate)
    ov_a = _ov(seg_a, initial_resample_rate, rate)
    seg_b = _snap_seg_len(base, final_resample_rate, initial_resample_rate)
    ov_b = _ov(seg_b, final_resample_rate, initial_resample_rate)

    # resample_exact, not the parity kernel: inside a segment the parity
    # kernel's pad-rounding would drift the local grid (resample_exact doc)
    def stage_a(x: np.ndarray) -> np.ndarray:
        y = resample_exact(x, initial_resample_rate, rate,
                           precision=precision)
        return K.apply_linenoise_notch(y, initial_resample_rate,
                                       precision=precision)

    scaled = signals.withColumn("value", F.col("value") * float(scaling))
    cores = segment_arrays(scaled, stage_a, seg_a, ov_a, ratio=fr1)

    # The CAR groups (series, segment): n_channels cores sharing one time
    # axis, so per-timepoint semantics make it exact (no boundary error).
    # Double precision: the segmented numerics are pinned to a float64 CAR
    # (perfbench's segment_replay, tests/test_segmented.py's replay).
    def car(emit, schema):
        return _car_group_map(cores, emit, schema, mean_frac, "double",
                              by=("seg", "g0"))

    # The wavelet kernels' unit-L2 normalization depends on the FFT grid
    # length, so a segment-local transform would come out ~sqrt(n/segment)
    # off the whole-channel amplitude convention (K.dense_kernel_norms).
    # Pin each series to its dense-grid constants: one column-pruned
    # metadata aggregate (the per-series length a real catalog would
    # already know) broadcast-JOINED onto the stage-B pieces as `_n_time`
    # — a column of the group, so the kernel closure stays O(1) and
    # nothing is collected to the driver even at millions of series. Each
    # worker derives the norms from its group's length (O(n_padded) math,
    # memoized per distinct length per worker).
    lens = signals.groupBy("series_id").agg(
        (F.max("sample_idx") + 1).cast("bigint").alias("_n_time"))

    _norm_cache: dict[int, "np.ndarray"] = {}

    def stage_b(x: np.ndarray, meta: dict) -> np.ndarray:
        n_time = int(meta["_n_time"])
        norms = _norm_cache.get(n_time)
        if norms is None:
            if len(_norm_cache) >= 16:   # distinct lengths per worker
                _norm_cache.clear()
            norms = _norm_cache.setdefault(n_time, K.dense_kernel_norms(
                -(-n_time * fr1.numerator // fr1.denominator),  # ceil(n*r1)
                initial_resample_rate, filters=filters, hg_only=hg_only))
        Xh, _, _, _ = K.wavelet_transform(x[:, None], initial_resample_rate,
                                          filters=filters, hg_only=hg_only,
                                          precision=precision,
                                          kernel_norms=norms)
        return resample_exact(np.abs(Xh[:, 0, :]), final_resample_rate,
                              initial_resample_rate, precision=precision)

    pieces = car(cut_pieces(seg_b, ov_b), PIECE_SCHEMA)
    bands = segment_pieces(pieces.join(F.broadcast(lens), "series_id"),
                           stage_b, seg_b, ov_b, ratio=fr2,
                           meta_cols=("_n_time",))
    return {"cores": cores, "pieces": pieces, "bands": bands,
            "car": unpack(car(_values_rows(lambda x: x), SEGMENT_SCHEMA),
                          offset_col="g0"),
            "geometry": {"seg_a": seg_a, "ov_a": ov_a, "seg_b": seg_b,
                         "ov_b": ov_b, "fr1": fr1, "fr2": fr2}}


def preprocess_many(signal_dfs: dict[str, DataFrame], rate: float,
                    **kwargs) -> PreprocessResult:
    """The `preprocess_folder` analog (scripts/preprocess_folder:38-54):
    instead of a driver loop over .nwb files, union all series into ONE
    job — series_id is just another group key, so every stage (pack,
    kernels, packed CAR, wavelet) parallelizes across series x channels
    with no outer loop. `signal_dfs` maps series ids to long DataFrames;
    the dict KEY becomes the series_id (any existing series_id column is
    overwritten — pass each recording under its own key; a df that
    already multiplexes several recordings must be passed as-is to
    `preprocess` directly, not through this dict, or its series would be
    collapsed into one)."""
    if not signal_dfs:
        raise ValueError("preprocess_many: empty signal_dfs")
    parts = []
    for sid, df in signal_dfs.items():
        parts.append(df.withColumn("series_id", F.lit(sid)))
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    return preprocess(merged, rate, **kwargs)


def high_gamma_trace(result: PreprocessResult, baseline_seconds: float = 0.25,
                     final_rate: float = 400.0) -> DataFrame:
    """Tutorial tail: z-score against the first `baseline_seconds`, then
    mean over bands (examples/plot_ECoG_preprocessing_tutorial.py:164-167).

    Three paths of one math, picked by what the result carries:
    - `high_gamma`, from either pipeline, unpacked once:
      - fused whole-channel: the CAR->wavelet group map emits one
        high-gamma row per channel — no shuffle of its own
        (operators/kernel_ops.car_high_gamma_arrow);
      - segmented: stage B's band rows are sorted by channel and segment
        start `g0` and streamed through one Arrow map that fixes the
        baseline stats from the leading segments and z-scores the rest
        as they pass — one shuffle, memory n_baseline + one segment
        (operators/zscore.high_gamma_segments); rows carry `g0`;
    - `tf_packed` only (fuse=False, hand-built results): one Arrow group
      per channel over the band rows (operators/zscore.high_gamma_packed);
    - neither: the long window/groupBy formulation (operators/zscore).
    All but the last run dsp.kernels' high-gamma math."""
    n_baseline = int(baseline_seconds * final_rate)
    if result.high_gamma is not None:
        hg = result.high_gamma(n_baseline)
        return unpack(hg, value_col="amp",
                      offset_col="g0" if "g0" in hg.columns else None)
    if result.tf_packed is not None:
        return high_gamma_packed(result.tf_packed, n_baseline,
                                 values_col="amp")
    z = zscore_baseline(result.tf, n_baseline, value_col="amp")
    return band_mean(z, value_col="amp")
