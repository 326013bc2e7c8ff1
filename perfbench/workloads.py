"""The benchmark's workloads: inputs, one pass, the output check, and the
layer-by-layer trace.

Every pass reads its inputs from parquet, so the scan is part of the pass.
Warm passes end in Spark's `noop` sink; the cold pass collects its result
into this process, and the output check compares that result, untimed, with
an independent oracle.
"""
from __future__ import annotations

import os
import time
from fractions import Fraction

import numpy as np
from pyspark.sql import functions as F

import inputs
from spans import seconds
from process_nwb_spark import high_gamma_trace, preprocess
from process_nwb_spark.dsp import kernels as K

RATE, INIT, FINAL = inputs.ECOG_RATE, 1600.0, 400.0
N_BASELINE = int(0.25 * FINAL)
MEAN_FRAC = 0.95


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _file_mb(path: str) -> float:
    if os.path.isfile(path):
        return os.path.getsize(path) / 2 ** 20
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs) / 2 ** 20


def _scan(spark, tracer, path: str, name: str = "scan") -> dict:
    """Read `path` to the noop sink inside a span; the span record (with
    its rows and MB) is returned."""
    with tracer.span(name, path=os.path.basename(path)) as rec:
        noop(spark.read.parquet(path))
    rec["counts"]["rows"] = spark.read.parquet(path).count()
    rec["counts"]["mb"] = _file_mb(path)
    return rec


def _scan_metrics(rec: dict) -> dict:
    return {"scan.s": seconds(rec), "scan.rows": rec["counts"]["rows"],
            "scan.mb": rec["counts"]["mb"]}


class Workload:
    """One named workload. Subclasses set `name`, `why`, `layers` (the
    per-layer metrics only this workload's trace produces) and `scales`."""
    name = why = ""
    layers: tuple[str, ...] = ()
    scales: dict = {}

    def __init__(self, scale: str = "full"):
        self.size = self.scales[scale]

    def prepare(self, root: str, seed: int) -> None:
        raise NotImplementedError

    def warmup(self, spark) -> None:
        """First touch of the inputs (file listing, parquet footers), the
        last step of set-up before a pass can start."""
        raise NotImplementedError

    def run_pass(self, spark, collect: bool, deadline):
        raise NotImplementedError

    def check(self, spark, out) -> str | None:
        """None when the output is correct, else what is wrong. May run
        Spark jobs of its own; it is not timed."""
        raise NotImplementedError

    def trace(self, spark, tracer, deadline) -> dict:
        """Per-layer metrics from spans around each layer's public call;
        includes scan.* and trace.self_sum_s."""
        raise NotImplementedError


# ------------------------------------------------------------------ ECoG
def dense_band_amp(X: np.ndarray, clock: dict | None = None) -> np.ndarray:
    """The pipeline in one process on the dense kernels, single precision:
    band amplitudes (n_out, n_channels, n_bands). When `clock` is given,
    each kernel's seconds are added to it."""
    def timed(key, fn, *a, **kw):
        t = time.perf_counter()
        out = fn(*a, **kw)
        if clock is not None:
            clock[key] = clock.get(key, 0.0) + time.perf_counter() - t
        return out

    Xr = timed("dsp.resample_s", K.resample, X * 1e6, INIT, RATE,
               precision="single")
    Xn = timed("dsp.notch_s", K.apply_linenoise_notch, Xr, INIT,
               precision="single")
    Xc = timed("dsp.car_s", K.subtract_car, Xn, MEAN_FRAC, precision="single")
    amp = timed("dsp.wavelet_s", lambda: np.abs(K.wavelet_transform(
        Xc, INIT, "rat", True, precision="single")[0]))
    return timed("dsp.post_resample_s", lambda: np.stack(
        [np.stack([K.resample(amp[:, c, b], FINAL, INIT, precision="single")
                   for b in range(amp.shape[2])], 1)
         for c in range(amp.shape[1])], 1))


def high_gamma(amp: np.ndarray) -> np.ndarray:
    """Baseline z-score per (channel, band), then the mean over bands."""
    base = amp[:N_BASELINE]
    return ((amp - base.mean(axis=0)) / base.std(axis=0)).mean(axis=2)


def dense_high_gamma(X: np.ndarray, clock: dict | None = None) -> np.ndarray:
    t0 = time.perf_counter()
    hg = high_gamma(dense_band_amp(X, clock))
    if clock is not None:
        clock["dsp.numpy_serial_s"] = (clock.get("dsp.numpy_serial_s", 0.0)
                                       + time.perf_counter() - t0)
    return hg


def _close(got: np.ndarray, want: np.ndarray, rtol: float) -> int:
    """Samples outside rtol of `want`, floored at rtol of its median
    magnitude, since z-scored traces cross zero."""
    tol = rtol * (np.abs(want) + np.median(np.abs(want)))
    return int((np.abs(got - want) > tol).sum())


def _as_blocks(pdf, n_series: int) -> dict[str, np.ndarray]:
    out = {}
    for sid, g in pdf.groupby("series_id"):
        g = g.sort_values(["sample_idx", "channel"])
        out[sid] = g["amp"].to_numpy().reshape(
            g["sample_idx"].nunique(), g["channel"].nunique())
    if len(out) != n_series:
        raise ValueError(f"{len(out)} series in the output, {n_series} in")
    return out


class _Ecog(Workload):
    segmented = False
    rtol = 1e-2      # single precision

    def prepare(self, root, seed):
        self.path = os.path.join(root, "ecog")
        self.blocks = inputs.write_ecog(self.path, self.size, seed)

    def warmup(self, spark):
        spark.read.parquet(self.path)

    def pipeline(self, spark):
        return high_gamma_trace(
            preprocess(spark.read.parquet(self.path), RATE, INIT, FINAL,
                       filters="rat", hg_only=True, segmented=self.segmented),
            0.25, FINAL)

    def run_pass(self, spark, collect, deadline):
        df = self.pipeline(spark)
        if collect:
            return df.toPandas()
        noop(df)
        return None

    def check(self, spark, out):
        got = _as_blocks(out, len(self.blocks))
        for r, X in enumerate(self.blocks):
            want = dense_high_gamma(X)
            g = got.get(f"rec_{r:03d}")
            if g is None or g.shape != want.shape:
                return (f"rec_{r:03d}: shape "
                        f"{None if g is None else g.shape} != {want.shape}")
            bad = _close(g, want, self.rtol)
            if bad:
                return (f"rec_{r:03d}: {bad} of {want.size} samples beyond "
                        f"rtol {self.rtol}")
        return None

    def _dsp_metrics(self, tracer) -> dict:
        clock: dict = {}
        with tracer.span("dsp.replay", recordings=len(self.blocks)):
            for X in self.blocks:
                dense_high_gamma(X, clock)
        return clock

    def _layer(self, spark, tracer, name, build, inp, out_path=None):
        """Time `build(read(inp))` to noop in span `name`; its self time is
        the span minus a scan of the same input. With `out_path`, the
        layer's output is first written there (untimed) as the next
        layer's input."""
        if out_path is not None:
            build(spark.read.parquet(inp)).write.parquet(out_path)
        scan = _scan(spark, tracer, inp, name="scan.input")
        with tracer.span(name) as rec:
            noop(build(spark.read.parquet(inp)))
        return max(0.0, seconds(rec) - seconds(scan))


class EcogFolder(_Ecog):
    name = "ecog_folder"
    why = ("8 recordings x 32 ch through the packed Arrow pipeline and the "
           "packed high-gamma tail: pack shuffle, kernel row map, CAR+wavelet")
    scales = {"full": inputs.EcogShape(8, 32, 2.0),
              "smoke": inputs.EcogShape(2, 4, 1.0)}
    layers = ("repack.pack_s", "repack.rows_shuffled",
              "kernel_ops.resample_notch_s", "kernel_ops.car_wavelet_s",
              "kernel_ops.arrow_mb", "zscore.high_gamma_s")

    def trace(self, spark, tracer, deadline):
        from process_nwb_spark.operators.kernel_ops import (car_wavelet_arrow,
                                                            fused_ops_arrow,
                                                            scale_packed)
        from process_nwb_spark.operators.repack import pack
        from process_nwb_spark.operators.zscore import high_gamma_packed

        work = os.path.dirname(self.path)
        packed, ds, wv = (os.path.join(work, f"layer_{n}")
                          for n in ("packed", "ds", "wv"))
        m = _scan_metrics(_scan(spark, tracer, self.path))
        m["repack.rows_shuffled"] = m["scan.rows"]
        m["repack.pack_s"] = self._layer(spark, tracer, "repack.pack",
                                         pack, self.path, packed)
        deadline.check()

        def resample_notch(df):
            return fused_ops_arrow(
                scale_packed(df, 1e6),
                lambda x: K.resample(x, INIT, RATE, precision="single"),
                lambda x: K.apply_linenoise_notch(x, INIT,
                                                  precision="single"))

        m["kernel_ops.resample_notch_s"] = self._layer(
            spark, tracer, "kernel_ops.resample_notch", resample_notch,
            packed, ds)
        deadline.check()

        def car_wavelet(df):
            return car_wavelet_arrow(df, INIT, mean_frac=MEAN_FRAC,
                                     filters="rat", hg_only=True,
                                     post_resample_rate=FINAL,
                                     precision="single").drop("phase")

        m["kernel_ops.car_wavelet_s"] = self._layer(
            spark, tracer, "kernel_ops.car_wavelet", car_wavelet, ds, wv)
        deadline.check()
        m["zscore.high_gamma_s"] = self._layer(
            spark, tracer, "zscore.high_gamma",
            lambda df: high_gamma_packed(df, N_BASELINE, values_col="amp"),
            wv)

        def doubles(path, col):
            return spark.read.parquet(path).agg(
                F.sum(F.size(col))).first()[0]

        # computed bytes crossing into and out of the two Python kernels
        m["kernel_ops.arrow_mb"] = 8 * (
            doubles(packed, "values") + 2 * doubles(ds, "values")
            + doubles(wv, "amp")) / 2 ** 20
        m.update(self._dsp_metrics(tracer))
        m["trace.self_sum_s"] = m["scan.s"] + sum(m[k] for k in (
            "repack.pack_s", "kernel_ops.resample_notch_s",
            "kernel_ops.car_wavelet_s", "zscore.high_gamma_s"))
        return m


def _processed(n: int, L: int, V: int) -> int:
    """Samples the segmented operators process for a channel of `n`: each
    segment's core plus the overlap it reads on either side."""
    return sum(max(0, min(n, (s + 1) * L + V) - max(0, s * L - V))
               for s in range((n + V) // L + 2))


def _segments(x: np.ndarray, fn, L: int, V: int, r: Fraction) -> np.ndarray:
    """`fn` on each segment's core plus up to V samples of overlap on either
    side, trimmed to the core's share of the output and concatenated."""
    out = []
    for s in range(-(-len(x) // L)):
        lo, hi = max(0, s * L - V), min(len(x), (s + 1) * L + V)
        core = min(len(x), (s + 1) * L) - s * L
        k0 = (s * L - lo) * r.numerator // r.denominator
        y = np.asarray(fn(x[lo:hi]), dtype=np.float64)
        out.append(y[k0:k0 - (-core * r.numerator // r.denominator)])
    return np.concatenate(out)


def segment_replay(X: np.ndarray, g: dict) -> np.ndarray:
    """The segmented pipeline replayed in NumPy on the same segments:
    stage A per channel, the per-timepoint CAR, stage B per channel, then
    the high-gamma tail. (n_out, n_channels)."""
    A = np.stack([_segments(X[:, c] * 1e6, g["stage_a"], g["seg_a"],
                            g["ov_a"], g["fr1"])
                  for c in range(X.shape[1])], axis=1)
    C = K.subtract_car(A, MEAN_FRAC, precision="double")
    B = np.stack([_segments(C[:, c], g["stage_b"], g["seg_b"], g["ov_b"],
                            g["fr2"])
                  for c in range(C.shape[1])], axis=1)   # (time, ch, band)
    return high_gamma(B)


class EcogLongSegmented(_Ecog):
    name = "ecog_long_segmented"
    segmented = True
    why = ("one long recording through preprocess(segmented=True): segment "
           "groups, window CAR and long z-score, no pack and no row map")
    scales = {"full": inputs.EcogShape(1, 4, 60.0),
              "smoke": inputs.EcogShape(1, 4, 10.0)}
    layers = ("segmented.stage_a_s", "segmented.stage_b_s",
              "segmented.overlap_frac", "car.window_s", "zscore.long_s")

    def geometry(self, n: int):
        """The segmented pipeline's stage functions and segment geometry
        (pipelines._preprocess_segmented, default seg_len and overlap) for
        a recording of `n` samples."""
        from process_nwb_spark.operators.segmented import (resample_exact,
                                                           snap_overlap)
        from process_nwb_spark.pipelines import _snap_seg_len

        g = {"fr1": Fraction(INIT) / Fraction(RATE),
             "fr2": Fraction(FINAL) / Fraction(INIT),
             "seg_a": _snap_seg_len(2 ** 16, INIT, RATE),
             "seg_b": _snap_seg_len(2 ** 16, FINAL, INIT)}
        g["ov_a"] = snap_overlap(min(4096, g["seg_a"] // 4), INIT, RATE)
        g["ov_b"] = snap_overlap(min(4096, g["seg_b"] // 4), FINAL, INIT)
        g["n_b"] = -(-n * g["fr1"].numerator // g["fr1"].denominator)
        norms = K.dense_kernel_norms(g["n_b"], INIT, filters="rat",
                                     hg_only=True)

        def stage_a(x):
            return K.apply_linenoise_notch(
                resample_exact(x, INIT, RATE, precision="single"), INIT,
                precision="single")

        def stage_b(x, meta=None):
            Xh = K.wavelet_transform(x[:, None], INIT, filters="rat",
                                     hg_only=True, precision="single",
                                     kernel_norms=norms)[0]
            return resample_exact(np.abs(Xh[:, 0, :]), FINAL, INIT,
                                  precision="single")

        g["stage_a"], g["stage_b"] = stage_a, stage_b
        return g

    def check(self, spark, out):
        """Each segment is transformed on its own FFT grid, so the reference
        is a NumPy replay of the same segments, not the whole-channel one;
        see README.md for how far the two differ at the recording's start."""
        got = _as_blocks(out, len(self.blocks))
        for r, X in enumerate(self.blocks):
            sid = f"rec_{r:03d}"
            want = segment_replay(X, self.geometry(X.shape[0]))
            if sid not in got or got[sid].shape != want.shape:
                return f"{sid}: shape != {want.shape}"
            bad = _close(got[sid], want, self.rtol)
            if bad:
                return (f"{sid}: {bad} of {want.size} samples beyond rtol "
                        f"{self.rtol}")
        return None

    def trace(self, spark, tracer, deadline):
        from process_nwb_spark.dsp.filterbank import band_params
        from process_nwb_spark.operators.car import subtract_car
        from process_nwb_spark.operators.segmented import (
            segmented_band_kernel, segmented_kernel)
        from process_nwb_spark.operators.zscore import (band_mean,
                                                        zscore_baseline)

        n = self.blocks[0].shape[0]
        g = self.geometry(n)
        work = os.path.dirname(self.path)
        seg_out, car_out, bands_out = (os.path.join(work, f"layer_{k}")
                                       for k in ("a", "car", "b"))
        m = _scan_metrics(_scan(spark, tracer, self.path))
        m["segmented.stage_a_s"] = self._layer(
            spark, tracer, "segmented.stage_a",
            lambda df: segmented_kernel(
                df.withColumn("value", F.col("value") * 1e6), g["stage_a"],
                g["seg_a"], g["ov_a"], ratio=g["fr1"]),
            self.path, seg_out)
        deadline.check()
        m["car.window_s"] = self._layer(
            spark, tracer, "car.window",
            lambda df: subtract_car(df, mean_frac=MEAN_FRAC),
            seg_out, car_out)
        deadline.check()
        lens = (spark.read.parquet(self.path).groupBy("series_id")
                .agg((F.max("sample_idx") + 1).cast("bigint")
                     .alias("_n_time")))
        cfs, sds = band_params("rat", True)
        cf_arr = F.array(*[F.lit(float(c)) for c in cfs])
        sd_arr = F.array(*[F.lit(float(s)) for s in sds])
        m["segmented.stage_b_s"] = self._layer(
            spark, tracer, "segmented.stage_b",
            lambda df: segmented_band_kernel(
                df.join(F.broadcast(lens), "series_id"), g["stage_b"],
                g["seg_b"], g["ov_b"], ratio=g["fr2"],
                meta_cols=("_n_time",)).select(
                "series_id", "channel", "band",
                F.element_at(cf_arr, F.col("band") + 1).alias("cf"),
                F.element_at(sd_arr, F.col("band") + 1).alias("sd"),
                "sample_idx", "amp"),
            car_out, bands_out)
        deadline.check()
        m["zscore.long_s"] = self._layer(
            spark, tracer, "zscore.long",
            lambda df: band_mean(zscore_baseline(df, N_BASELINE,
                                                 value_col="amp"),
                                 value_col="amp"),
            bands_out)
        useful = n + g["n_b"]
        m["segmented.overlap_frac"] = (
            _processed(n, g["seg_a"], g["ov_a"])
            + _processed(g["n_b"], g["seg_b"], g["ov_b"]) - useful) / useful
        m.update(self._dsp_metrics(tracer))
        m["trace.self_sum_s"] = m["scan.s"] + sum(m[k] for k in (
            "segmented.stage_a_s", "car.window_s", "segmented.stage_b_s",
            "zscore.long_s"))
        return m


# ------------------------------------------------------------- relational
# bench.HEADLINE as of the benchmark's definition, pinned here so the
# workload stays the same when the harness's list changes. A pass runs every
# second one: all 22 take 9 to 20 s warm and 17 to 40 s cold on a 4-core
# box, too long beside the ECoG layers in a traced run. Every second face
# keeps all five modules.
HEADLINE = (
    "agg_pricing_summary", "join_inner_broadcast", "join_asof",
    "join_sortmerge_large", "agg_trimmed_mean", "win_topk_per_group",
    "win_running_frames", "win_tumbling", "win_session", "dedup_exact",
    "minhash_lsh_candidates", "ngram_jaccard_pairs", "simhash_fingerprints",
    "doc_fingerprint_winnow", "text_quality", "text_token_counts",
    "embed_cosine_topk", "embed_ann_lsh", "embed_ivf_topk",
    "dedup_embed_cosine", "sig_car_subtract", "sig_zscore_baseline",
)
FACES = HEADLINE[::2]
MODULES = ("tpch_core", "event_windows", "llm_ops", "embed_lsh",
           "signal_queries")


def _norm(df):
    """Order-insensitive, exact-value form of a result frame."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if s.dtype == object or str(s.dtype).startswith(("datetime", "times")):
            df[c] = s.astype(str)
        elif s.dtype.kind == "f":
            df[c] = s.astype("float64")
        elif s.dtype.kind in "iub":
            df[c] = s.astype("int64")
    return df.sort_values(list(df.columns), na_position="last").reset_index(
        drop=True)


def frame_digest(df) -> str:
    import hashlib

    import pandas as pd

    h = hashlib.sha256(",".join(df.columns).encode())
    h.update(pd.util.hash_pandas_object(_norm(df), index=False).values
             .tobytes())
    return h.hexdigest()


class FacesHeadline(Workload):
    name = "faces_headline"
    why = ("11 of the 22 headline registry faces, built and run in a fixed "
           "order: many small scan, shuffle, join and window jobs; no dsp")
    scales = {"full": 0.01, "smoke": 0.001}
    layers = (tuple(f"relational.{m}.{k}" for m in MODULES
                    for k in ("build_s", "exec_s"))
              + tuple(f"face.{f}.s" for f in FACES))

    def prepare(self, root, seed):
        from process_nwb_spark.relational.core import all_queries

        self.path = os.path.join(root, "tables")
        inputs.write_relational(self.path, seed, self.size)
        self.registry = all_queries()

    def warmup(self, spark):
        from process_nwb_spark.relational.core import TABLES

        for t in TABLES:
            spark.read.parquet(os.path.join(self.path, f"{t}.parquet"))

    def run_pass(self, spark, collect, deadline):
        from process_nwb_spark.relational.core import clear_persist_slots

        outs = {}
        try:
            for f in FACES:
                deadline.check()
                df = self.registry[f].fn(spark, self.path)
                if collect:
                    outs[f] = df.toPandas()
                else:
                    noop(df)
        finally:
            clear_persist_slots()
        return outs if collect else None

    def check(self, spark, out):
        import duckdb

        from process_nwb_spark.relational.core import TABLES

        con = duckdb.connect()
        try:
            for t in TABLES:
                p = os.path.join(self.path, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{p}')")
            wrong = [f for f in FACES
                     if frame_digest(out[f]) != frame_digest(
                         con.execute(self.registry[f].oracle).df())]
        finally:
            con.close()
        return f"differs from its DuckDB oracle: {wrong}" if wrong else None

    def trace(self, spark, tracer, deadline):
        from process_nwb_spark.relational.core import (TABLES,
                                                       clear_persist_slots)

        m = {"scan.s": 0.0, "scan.rows": 0, "scan.mb": 0.0}
        for t in TABLES:
            rec = _scan(spark, tracer, os.path.join(self.path, f"{t}.parquet"))
            for k, v in _scan_metrics(rec).items():
                m[k] += v
        for k in self.layers:
            m[k] = 0.0
        try:
            for f in FACES:
                deadline.check()
                mod = self.registry[f].fn.__module__.rsplit(".", 1)[-1]
                with tracer.span(f"face.{f}", module=mod) as face:
                    with tracer.span(f"relational.{mod}.build") as build:
                        df = self.registry[f].fn(spark, self.path)
                    with tracer.span(f"relational.{mod}.exec") as ex:
                        noop(df)
                m[f"face.{f}.s"] = seconds(face)
                m[f"relational.{mod}.build_s"] += seconds(build)
                m[f"relational.{mod}.exec_s"] += seconds(ex)
        finally:
            clear_persist_slots()
        m["trace.self_sum_s"] = sum(m[f"face.{f}.s"] for f in FACES)
        return m


# The benchmark's workloads, as BENCHMARK.json lists them. faces_headline
# runs too, but is left out of that list: its passes of many small jobs
# spread by a quarter from run to run on a loaded 4-core box, and its runs
# take 50 to 60 s there. Traced runs still measure its layers.
WORKLOADS = {w.name: w for w in (EcogFolder, EcogLongSegmented)}
ALL = {**WORKLOADS, FacesHeadline.name: FacesHeadline}
