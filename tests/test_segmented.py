"""Overlap-segmented kernels (the bounded-memory 100 TB path) vs the
whole-channel dense oracle — the engine's analog of the reference's
chunked == unchunked equivalence test (tests/test_pipeline.py:102-154,
which accepts rtol=0.01 between the two execution strategies)."""
import numpy as np
import pytest
from pyspark.sql import functions as F

from process_nwb_spark.dsp import kernels as K
from process_nwb_spark.operators.segmented import (segmented_kernel,
                                                   segmented_notch,
                                                   segmented_resample)
from process_nwb_spark.synth import generate_synthetic_data, to_long_df


@pytest.fixture(scope="module")
def fixture(spark):
    X = generate_synthetic_data(8.0, 3, 2000.0, seed=3)  # 16000 x 3
    return X, to_long_df(spark, X)


def _collect_dense(df, n_ch):
    pdf = df.toPandas().sort_values(["sample_idx", "channel"])
    n_time = pdf["sample_idx"].nunique()
    return pdf["value"].to_numpy().reshape(n_time, n_ch)


def _dense_segmented(X, fn, L, V, r=1.0):
    """Driver-side replay of the exact segmentation strategy (the oracle
    for the distributed mechanics)."""
    n = X.shape[0]
    chans = []
    for c in range(X.shape[1]):
        outs, s = [], 0
        while s * L < n:
            start, end = max(0, s * L - V), min(n, (s + 1) * L + V)
            left_ov, core = s * L - start, min(L, n - s * L)
            out = fn(X[start:end, c])
            k0 = int(round(left_ov * r))
            outs.append(out[k0:k0 + int(np.ceil(core * r))])
            s += 1
        chans.append(np.concatenate(outs))
    return np.stack(chans, axis=1)


def test_segmented_notch_exact_vs_dense_oracle(spark, fixture):
    """Distributed segmentation == identical dense segmentation, bitwise-
    tight: proves the Spark mechanics (assignment, overlap trim, global
    re-indexing) add nothing to the kernel math."""
    X, long_df = fixture
    got = _collect_dense(
        segmented_notch(long_df, 2000.0, seg_len=4096, overlap=1024,
                        precision="double"), 3)
    want = _dense_segmented(
        X, lambda x: K.apply_linenoise_notch(
            x[:, None], 2000.0, precision="double")[:, 0], 4096, 1024)
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-12)


def test_segmented_notch_attenuates_line(spark, fixture):
    """Functional equivalence with the whole-channel notch: the 60 Hz line
    is crushed either way. (Numeric equality is not expected — the notch
    dip is built on each segment's frequency grid, so its effective shape
    is length-dependent; the reference accepts the same strategy-dependent
    tolerance between its chunked and unchunked paths.)"""
    X, long_df = fixture
    got = _collect_dense(
        segmented_notch(long_df, 2000.0, seg_len=8192, overlap=2048,
                        precision="double"), 3)
    n = got.shape[0]
    t = np.arange(n) / 2000.0
    probe = np.exp(-2j * np.pi * 60.0 * t)
    for c in range(3):
        before = abs(probe @ X[:n, c]) / n
        after = abs(probe @ got[:, c]) / n
        assert after < 0.1 * before + 1e-6  # >=10x line suppression


def test_segmented_resample_exact_vs_dense_oracle(spark, fixture):
    from process_nwb_spark.operators.segmented import resample_exact

    X, long_df = fixture
    got = _collect_dense(
        segmented_resample(long_df, 1000.0, 2000.0, seg_len=4096,
                           overlap=1024, precision="double"), 3)
    want = _dense_segmented(
        X, lambda x: resample_exact(x, 1000.0, 2000.0, precision="double"),
        4096, 1024, r=0.5)
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-12)


def test_segmented_resample_close_to_whole(spark, fixture):
    """Strategy equivalence with the whole-channel op: same shape, same
    first/second moments, near-unit cosine similarity (boundary error is
    local; tests/test_resample.py:32-56's spectral-preservation invariant)."""
    X, long_df = fixture
    got = _collect_dense(
        segmented_resample(long_df, 1000.0, 2000.0, seg_len=4096,
                           overlap=1024, precision="double"), 3)
    want = K.resample(X, 1000.0, 2000.0, precision="double")
    assert got.shape == want.shape
    for c in range(3):
        a, b = got[:, c], want[:, c]
        cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert cos > 0.995
        assert abs(a.mean() - b.mean()) < 0.01
        assert abs(a.std() - b.std()) < 0.02 * b.std()


def test_segment_indices_contiguous(spark, fixture):
    _, long_df = fixture
    out = segmented_resample(long_df, 1000.0, 2000.0, seg_len=4096,
                             overlap=512)
    per_ch = (out.groupBy("channel")
              .agg(F.count("*").alias("n"), F.min("sample_idx").alias("lo"),
                   F.max("sample_idx").alias("hi"),
                   F.count_distinct("sample_idx").alias("nd"))
              .collect())
    for r in per_ch:
        assert r.lo == 0 and r.n == r.nd == r.hi + 1  # gapless, no dup


def test_validation_guards():
    with pytest.raises(ValueError):
        segmented_resample(None, 3.0, 7.0, seg_len=100, overlap=10)
    with pytest.raises(ValueError):
        segmented_notch(None, 1000.0, seg_len=100, overlap=100)


def test_bounded_group_size(spark, fixture):
    """No gathered segment ever exceeds seg_len + 2*overlap samples — the
    memory bound — and every sample lands in its core segment."""
    from process_nwb_spark.operators.segmented import gather_segments

    _, long_df = fixture
    L, V = 2048, 256
    g = gather_segments(long_df, L, V)
    counts = g.agg(F.max(F.size("_i"))).first()[0]
    assert counts == L + 2 * V
    cores = (g.select("channel", "seg", F.explode("_i").alias("i"))
             .where(F.floor(F.col("i") / L) == F.col("seg")).count())
    assert cores == long_df.count()


def test_segmented_wavelet_exact_vs_dense_oracle(spark, fixture):
    from process_nwb_spark.operators.segmented import segmented_wavelet_amp

    X, long_df = fixture
    got = (segmented_wavelet_amp(long_df, 2000.0, seg_len=4096, overlap=1024,
                                 precision="double")
           .toPandas().sort_values(["channel", "band", "sample_idx"]))

    def fn(x):
        Xh, _, _, _ = K.wavelet_transform(x[:, None], 2000.0, filters="rat",
                                          hg_only=True, precision="double")
        return np.abs(Xh[:, 0, :])

    n_bands = fn(X[:4096, 0]).shape[1]
    assert set(got.band.unique()) == set(range(n_bands))
    # dense replay of the same segmentation for channel 0, band 0
    def fn_band0(x):
        return fn(x)[:, 0]
    want = _dense_segmented(X[:, [0]], fn_band0, 4096, 1024)[:, 0]
    g0 = got[(got.channel == 0) & (got.band == 0)].amp.to_numpy()
    np.testing.assert_allclose(g0, want, rtol=1e-9, atol=1e-12)


def test_segmented_wavelet_close_to_whole(spark, fixture):
    """Amplitude envelopes from segmented vs whole-channel wavelet agree
    to high cosine similarity (hg bands' support << overlap)."""
    from process_nwb_spark.operators.segmented import segmented_wavelet_amp

    X, long_df = fixture
    got = (segmented_wavelet_amp(long_df, 2000.0, seg_len=8192, overlap=2048,
                                 precision="double")
           .toPandas())
    Xh, _, _, _ = K.wavelet_transform(X, 2000.0, filters="rat", hg_only=True,
                                      precision="double")
    whole = np.abs(Xh)  # (n, ch, band)
    for ch, b in [(0, 0), (1, 3), (2, 5)]:
        a = (got[(got.channel == ch) & (got.band == b)]
             .sort_values("sample_idx").amp.to_numpy())
        w = whole[:, ch, b]
        assert a.shape == w.shape
        cos = float(a @ w / (np.linalg.norm(a) * np.linalg.norm(w)))
        assert cos > 0.99, (ch, b, cos)


def test_resample_exact_no_grid_drift():
    """The parity kernel's pad-rounding (utils.py:131 `round(ratio*len)`)
    sub-sample-stretches the output grid whenever padded_len*ratio is not
    integral — up to ~0.6 samples of drift on the worst-case fixture, i.e.
    tens of percent pointwise on near-Nyquist content. resample_exact must
    hold the exact grid at ANY length, including awkward ones."""
    from process_nwb_spark.operators.segmented import resample_exact

    rate, new = 2000.0, 1000.0
    for n in (10934, 2742, 12288, 123574):   # the lengths that broke
        t = np.arange(n) / rate
        x = np.sin(2 * np.pi * 100.0 * t)
        y = resample_exact(x, new, rate, precision="double")
        assert len(y) == int(np.ceil(n * 0.5))
        want = np.sin(2 * np.pi * 100.0 * np.arange(len(y)) * 2 / rate)
        # interior only: the global edges pay reflect-pad transients.
        # Residual ~7e-4 is finite-window reflect-pad numerics (present at
        # ANY length); the grid drift this test pins produced ~0.5.
        m = slice(64, -64)
        np.testing.assert_allclose(y[m], want[m], atol=5e-3)


def test_resample_exact_2d_and_guards():
    from process_nwb_spark.operators.segmented import resample_exact

    x = np.random.default_rng(0).normal(size=(4096, 3))
    y = resample_exact(x, 1000.0, 2000.0, precision="double")
    assert y.shape == (2048, 3)
    # per-column equals 1-D calls
    for c in range(3):
        np.testing.assert_allclose(y[:, c],
                                   resample_exact(x[:, c], 1000.0, 2000.0,
                                                  precision="double"),
                                   rtol=1e-12, atol=1e-12)
    with pytest.raises(ValueError, match="too short"):
        # den=15625 forces a reflect-extension far beyond 100 samples
        resample_exact(np.ones(100), 3200.0, 12207.03125)


def test_dense_kernel_norms_match_padded_grid():
    """dense_kernel_norms(n) must equal the raw gaussian norms on the
    grid wavelet_transform actually uses for an n-sample input (the
    'fast'-padded one)."""
    from process_nwb_spark.dsp.filterbank import (band_params,
                                                  gaussian_raw_norm)
    from process_nwb_spark.dsp.padding import pad_plan

    n, rate = 16000, 2000.0
    norms = K.dense_kernel_norms(n, rate, filters="rat", hg_only=True)
    npads, _, _ = pad_plan(n, "fast")
    n_pad = n + int(npads.sum())
    cfs, sds = band_params("rat", True)
    want = [gaussian_raw_norm(n_pad, rate, cf, sd)
            for cf, sd in zip(cfs, sds)]
    np.testing.assert_allclose(norms, want, rtol=1e-12)
    # and the norm scales ~sqrt(n): doubling n grows every norm
    norms2 = K.dense_kernel_norms(2 * n, rate, filters="rat",
                                  hg_only=True)
    assert (norms2 > norms * 1.3).all()


def test_segmented_wavelet_dense_convention_interior_exact(spark, fixture):
    """With n_time pinned, the segmented wavelet must match the
    WHOLE-CHANNEL transform to near-machine precision away from the
    global edges — not just cosine-close. (Without n_time each segment
    normalizes on its own grid and amplitudes are ~sqrt(n/segment) off —
    the r5 bug this test pins.)"""
    from process_nwb_spark.operators.segmented import segmented_wavelet_amp

    X, long_df = fixture
    n = X.shape[0]
    got = (segmented_wavelet_amp(long_df, 2000.0, seg_len=4096, overlap=1024,
                                 precision="double", n_time=n)
           .toPandas())
    Xh, _, _, _ = K.wavelet_transform(X, 2000.0, filters="rat", hg_only=True,
                                      precision="double")
    whole = np.abs(Xh)  # (n, ch, band)
    for ch, b in [(0, 0), (1, 3), (2, 5)]:
        a = (got[(got.channel == ch) & (got.band == b)]
             .sort_values("sample_idx").amp.to_numpy())
        w = whole[:, ch, b]
        assert a.shape == w.shape
        m = slice(256, -256)
        # interior boundaries stay in: the residual there is the Hilbert
        # step's 1/t tail beyond the overlap (~1e-4 relative), far below
        # the ~2.24x scale error this test exists to catch
        np.testing.assert_allclose(a[m], w[m], rtol=1e-3,
                                   atol=1e-6 * np.abs(w).max())


def test_snap_overlap_integral_ratio():
    from process_nwb_spark.operators.segmented import snap_overlap

    # 3200/12207.03125 reduces to 4096/15625 -> overlap must be a
    # multiple of 15625
    assert snap_overlap(4096, 3200.0, 12207.03125) == 15625
    assert snap_overlap(15625, 3200.0, 12207.03125) == 15625
    assert snap_overlap(15626, 3200.0, 12207.03125) == 31250
    # already-integral ratios pass through (den | overlap)
    assert snap_overlap(100, 1000.0, 2000.0) == 100
    assert snap_overlap(99, 1000.0, 2000.0) == 100


def test_segmented_resample_worst_case_rates(spark):
    """Regression: at the reference worst-case rates (12207.03125 Hz ->
    3200 Hz) the default overlap made overlap*ratio fractional and every
    interior segment came out sub-sample-shifted (~0.1 abs error on a
    unit tone). With the snapped overlap the interior must match the
    whole-signal resample to FFT-boundary tolerance."""
    rate, new = 12207.03125, 3200.0
    # n chosen so total n*ratio is integral (125000 * 4096/15625 = 32768):
    # the whole-signal resample otherwise ceil-respaces its output grid
    # (resample.py:140 semantics) and no segmentation could match it —
    # that inherent tail-respacing is a property of the reference math,
    # not of the segmentation under test here
    n = 125000                                      # 2 full segments
    t = np.arange(n) / rate
    X = np.sin(2 * np.pi * 150.0 * t)[:, None]      # unit 150 Hz tone
    want = K.resample(X[:, 0], new, rate, precision="double")

    got_df = segmented_resample(to_long_df(spark, X), new, rate,
                                seg_len=62500, precision="double")
    got = _collect_dense(got_df, 1)[:, 0]
    assert len(got) == len(want)
    # interior (segment boundaries padded independently -> small edge
    # error is expected and documented; the old bug was ~0.1 EVERYWHERE
    # in interior segments)
    m = len(got) // 8
    assert np.max(np.abs(got[m:-m] - want[m:-m])) < 5e-3


def test_segmented_rejects_fractional_overlap_ratio(spark, fixture):
    _, df = fixture
    with pytest.raises(ValueError, match="overlap"):
        segmented_kernel(df, lambda x: x, seg_len=62500, overlap=4096,
                         ratio=3200.0 / 12207.03125)


def test_segmented_misaligned_start_raises(spark):
    """A series not starting at sample_idx 0 must fail loudly inside the
    kernel, not silently drop its core samples (the old left_ov<0 path)."""
    X = generate_synthetic_data(2.0, 1, 1000.0, seed=0)
    df = (to_long_df(spark, X)
          .withColumn("sample_idx", F.col("sample_idx") + 5000))
    out = segmented_resample(df, 500.0, 1000.0, seg_len=1024, overlap=128)
    with pytest.raises(Exception, match="segmented kernel"):
        out.collect()


def test_segment_gather_keeps_null_at_its_index(spark):
    """A NULL sample gathers as NaN at its own sample_idx (as repack.pack
    does): a bare collect_list would skip it and shift every later sample
    of the segment one index earlier."""
    from process_nwb_spark.operators.segmented import segmented_kernel

    X = np.arange(300, dtype=np.float64)[:, None] + 1.0
    df = to_long_df(spark, X).withColumn(
        "value", F.when(F.col("sample_idx") == 100, F.lit(None))
        .otherwise(F.col("value")))
    got = _collect_dense(segmented_kernel(df, lambda x: x, 128, 32), 1)[:, 0]
    assert np.isnan(got[100])
    want = X[:, 0].copy()
    want[100] = np.nan
    np.testing.assert_array_equal(got, want)


# --- the segmented pipeline on packed segment arrays -----------------------

RATE, INIT, FINAL = 1000.0, 500.0, 250.0


def _replay_pipeline(X, seg_len, n_baseline):
    """NumPy replay of preprocess(segmented=True) + high_gamma_trace at
    double precision on the pipeline's own segments: stage A per channel,
    the per-timepoint CAR, stage B per channel, then K.high_gamma.
    (n_channels, n_out)."""
    from fractions import Fraction

    from process_nwb_spark.operators.segmented import (resample_exact,
                                                       snap_overlap)
    from process_nwb_spark.pipelines import _snap_seg_len

    fr1, fr2 = Fraction(INIT) / Fraction(RATE), Fraction(FINAL) / Fraction(INIT)
    seg_a, seg_b = _snap_seg_len(seg_len, INIT, RATE), _snap_seg_len(
        seg_len, FINAL, INIT)
    ov_a = snap_overlap(min(4096, seg_a // 4), INIT, RATE)
    ov_b = snap_overlap(min(4096, seg_b // 4), FINAL, INIT)
    norms = K.dense_kernel_norms(-(-X.shape[0] * fr1.numerator
                                   // fr1.denominator), INIT)

    def segments(x, fn, L, V, r):
        out = []
        for s in range(-(-len(x) // L)):
            lo, hi = max(0, s * L - V), min(len(x), (s + 1) * L + V)
            core = min(len(x), (s + 1) * L) - s * L
            k0 = (s * L - lo) * r.numerator // r.denominator
            y = np.asarray(fn(x[lo:hi]), dtype=np.float64)
            out.append(y[k0:k0 - (-core * r.numerator // r.denominator)])
        return np.concatenate(out)

    def stage_a(x):
        return K.apply_linenoise_notch(
            resample_exact(x, INIT, RATE, precision="double"), INIT,
            precision="double")

    def stage_b(x):
        Xh = K.wavelet_transform(x[:, None], INIT, precision="double",
                                 kernel_norms=norms)[0]
        return resample_exact(np.abs(Xh[:, 0, :]), FINAL, INIT,
                              precision="double")

    A = np.stack([segments(X[:, c] * 1e6, stage_a, seg_a, ov_a, fr1)
                  for c in range(X.shape[1])], axis=1)
    C = K.subtract_car(A, 0.95, precision="double")
    return np.stack([K.high_gamma(segments(C[:, c], stage_b, seg_b, ov_b,
                                           fr2).T, n_baseline)
                     for c in range(C.shape[1])])


def _hg_segmented(spark, X, seg_len, baseline_s):
    from process_nwb_spark import high_gamma_trace, preprocess

    res = preprocess(to_long_df(spark, X), RATE, INIT, FINAL,
                     precision="double", segmented=True, seg_len=seg_len)
    pdf = (high_gamma_trace(res, baseline_s, FINAL).toPandas()
           .sort_values(["channel", "sample_idx"]))
    n_ch = X.shape[1]
    assert (pdf.groupby("channel").sample_idx.agg(
        lambda s: (s.to_numpy() == np.arange(len(s))).all())).all()
    return pdf.amp.to_numpy().reshape(n_ch, -1)


@pytest.mark.parametrize("secs,seg_len,baseline_s,batch", [
    (8.0, 512, 2.0, None),     # the baseline spans 2+ stage-B segments
    (0.5, 512, 1.0, None),     # a recording shorter than the baseline
    (6.0, 512, 1.5, "1"),      # channel state crosses Arrow batches
], ids=["multi_segment_baseline", "short_recording", "one_row_batches"])
def test_segmented_high_gamma_matches_numpy_replay(spark, secs, seg_len,
                                                   baseline_s, batch):
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    X = generate_synthetic_data(secs, 4, RATE, seed=5)
    if batch:
        spark.conf.set(conf, batch)
    try:
        got = _hg_segmented(spark, X, seg_len, baseline_s)
    finally:
        spark.conf.set(conf, old)
    want = _replay_pipeline(X, seg_len, int(baseline_s * FINAL))
    assert got.shape == want.shape
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-9)


def test_segmented_high_gamma_partition_stable(spark):
    """Bitwise-equal traces at 7 and 64 shuffle partitions: every group
    map orders its input (by sample_idx, channel, piece start, g0/band)
    instead of trusting arrival order."""
    X = generate_synthetic_data(4.0, 4, RATE, seed=6)
    conf = "spark.sql.shuffle.partitions"
    old = spark.conf.get(conf)
    outs = []
    try:
        for n in ("7", "64"):
            spark.conf.set(conf, n)
            outs.append(_hg_segmented(spark, X, 512, 0.5))
    finally:
        spark.conf.set(conf, old)
    np.testing.assert_array_equal(outs[0], outs[1])


def test_segmented_groups_bounded_independent_of_length(spark):
    """The largest Arrow group of every segmented stage is
    O(seg_len x n_channels) and does not grow when the recording doubles:
    the gather (seg_len + 2 overlap), the CAR (n_channels cores), stage B
    (one stage-B segment's pieces) and the tail's segment rows."""
    from process_nwb_spark.operators.segmented import gather_segments
    from process_nwb_spark.pipelines import _segmented_frames

    def sizes(secs):
        X = generate_synthetic_data(secs, 4, RATE, seed=7)
        df = to_long_df(spark, X)
        f = _segmented_frames(df, RATE, INIT, FINAL, "rat", True, 0.95,
                              1e6, "double", 512, 4096)
        g = f["geometry"]
        total = F.sum(F.size("values")).alias("n")
        return g, (
            gather_segments(df, g["seg_a"], g["ov_a"])
            .agg(F.max(F.size("_i"))).first()[0],
            f["cores"].groupBy("series_id", "seg").agg(total)
            .agg(F.max("n")).first()[0],
            f["pieces"].groupBy("series_id", "channel", "seg").agg(total)
            .agg(F.max("n")).first()[0],
            f["bands"].agg(F.max(F.size("amp"))).first()[0])

    g, short = sizes(6.0)
    _, long = sizes(12.0)
    assert short == long, (short, long)
    core_a = g["seg_a"] * g["fr1"]
    assert short[0] <= g["seg_a"] + 2 * g["ov_a"]
    assert short[1] <= 4 * core_a
    assert short[2] <= g["seg_b"] + 2 * g["ov_b"]
    assert short[3] <= g["seg_b"] * g["fr2"]


def test_segmented_car_rejects_ragged_channels(spark):
    """All channels of a (series, segment) CAR group must share one time
    axis; a channel cut short fails loudly instead of being referenced
    against a partial average."""
    from process_nwb_spark import preprocess

    X = generate_synthetic_data(2.0, 3, RATE, seed=8)
    df = to_long_df(spark, X).where(
        (F.col("channel") != 2) | (F.col("sample_idx") < 1500))
    res = preprocess(df, RATE, INIT, FINAL, precision="double",
                     segmented=True, seg_len=512)
    with pytest.raises(Exception, match="CAR group"):
        res.tf.collect()
