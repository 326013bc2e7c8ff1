"""End-to-end pipeline equivalence vs the dense NumPy composition
(mirrors tests/test_pipeline.py:25-154 differential strategy)."""
import numpy as np
import pytest

from process_nwb_spark import high_gamma_trace, preprocess
from process_nwb_spark.dsp import kernels as K
from process_nwb_spark.synth import generate_synthetic_data, to_long_df

RATE = 2000.0
INIT, FINAL = 1000.0, 250.0


@pytest.fixture(scope="module")
def dense():
    return generate_synthetic_data(2.0, 8, RATE, seed=0)


def _dense_pipeline(X, abs_only=True):
    Xs = X * 1e6
    Xr = K.resample(Xs, INIT, RATE, precision="double")
    Xn = K.apply_linenoise_notch(Xr, INIT, precision="double")
    Xc = K.subtract_car(Xn, 0.95, precision="double")
    Xh, _, cfs, sds = K.wavelet_transform(Xc, INIT, "rat", True, precision="double")
    amp = np.abs(Xh)
    out = np.stack([np.stack([K.resample(amp[:, c, b], FINAL, INIT,
                                         precision="double")
                              for b in range(amp.shape[2])], 1)
                    for c in range(amp.shape[1])], 1)
    return out, cfs  # (time, ch, band)


def test_preprocess_matches_dense(spark, dense):
    res = preprocess(to_long_df(spark, dense), RATE, INIT, FINAL,
                     precision="double")
    out = res.tf.toPandas().sort_values(["channel", "band", "sample_idx"])
    want, cfs = _dense_pipeline(dense)
    got = out.amp.to_numpy().reshape(8, len(cfs), -1)
    np.testing.assert_allclose(got, np.transpose(want, (1, 2, 0)),
                               rtol=1e-7, atol=1e-9)


def test_preprocess_unfused_matches_fused(spark, dense):
    a = preprocess(to_long_df(spark, dense), RATE, INIT, FINAL,
                   precision="double", fuse=True).tf.toPandas()
    b = preprocess(to_long_df(spark, dense), RATE, INIT, FINAL,
                   precision="double", fuse=False).tf.toPandas()
    key = ["channel", "band", "sample_idx"]
    a, b = a.sort_values(key), b.sort_values(key)
    np.testing.assert_allclose(a.amp.to_numpy(), b.amp.to_numpy(),
                               rtol=1e-9)


def test_float32_default_within_reference_tolerance(spark, dense):
    """precision='single' (the reference default) agrees with the float64
    path within the reference's own chunked tolerance rtol=0.01
    (tests/test_pipeline.py:154)."""
    got = (preprocess(to_long_df(spark, dense), RATE, INIT, FINAL,
                      precision="single").tf.toPandas()
           .sort_values(["channel", "band", "sample_idx"]).amp.to_numpy())
    want, cfs = _dense_pipeline(dense)
    want = np.transpose(want, (1, 2, 0)).ravel()
    mask = np.abs(want) > 1e-3 * np.abs(want).max()
    rel = np.abs(got[mask] - want[mask]) / np.abs(want[mask])
    assert np.quantile(rel, 0.999) < 0.01


def test_materialize_lineage_names(spark, dense):
    res = preprocess(to_long_df(spark, dense), RATE, INIT, FINAL)
    names = res.materialize(spark, "ECoG")
    assert "CAR_ln_downsampled_ECoG" in names
    assert "wvlt_amp_ECoG" in names
    assert spark.table("wvlt_amp_ECoG").columns == res.tf.columns


def test_high_gamma_trace_shape(spark, dense):
    res = preprocess(to_long_df(spark, dense), RATE, INIT, FINAL,
                     precision="double")
    hg = high_gamma_trace(res, 0.25, FINAL).toPandas()
    n_t = K.resample_num(K.resample_num(int(2.0 * RATE), INIT, RATE), FINAL, INIT)
    assert len(hg) == 8 * n_t
    assert set(hg.columns) == {"series_id", "channel", "sample_idx", "amp"}


def test_multi_series_grouping(spark, dense):
    """Multiple series process independently in one job (the
    preprocess_folder analog: series_id is just another group key)."""
    import pandas as pd

    df1 = to_long_df(spark, dense, "rec_a")
    df2 = to_long_df(spark, dense * 2.0, "rec_b")
    res = preprocess(df1.unionAll(df2), RATE, INIT, FINAL, precision="double")
    pdf = res.tf.toPandas()
    a = pdf[pdf.series_id == "rec_a"].sort_values(["channel", "band", "sample_idx"])
    b = pdf[pdf.series_id == "rec_b"].sort_values(["channel", "band", "sample_idx"])
    assert len(a) == len(b) > 0
    # pipeline is linear up to the wavelet amplitude: 2x input -> 2x amplitude
    np.testing.assert_allclose(b.amp.to_numpy(), 2 * a.amp.to_numpy(), rtol=1e-7)


def test_preprocess_many_is_one_job(spark):
    """Folder-driver analog: N series in one unioned pipeline, each
    matching its individually-processed result."""
    import numpy as np
    from process_nwb_spark.pipelines import preprocess, preprocess_many
    from process_nwb_spark.synth import generate_synthetic_data, to_long_df

    Xa = generate_synthetic_data(1.0, 3, 1000.0, seed=1)
    Xb = generate_synthetic_data(1.0, 3, 1000.0, seed=2)
    many = preprocess_many(
        {"A": to_long_df(spark, Xa, "A"), "B": to_long_df(spark, Xb, "B")},
        1000.0, initial_resample_rate=500.0, final_resample_rate=250.0,
        precision="double")
    got = many.tf.toPandas()
    assert set(got.series_id.unique()) == {"A", "B"}
    solo = preprocess(to_long_df(spark, Xb, "B"), 1000.0, 500.0, 250.0,
                      precision="double").tf.toPandas()
    gb = (got[got.series_id == "B"]
          .sort_values(["channel", "band", "sample_idx"]).amp.to_numpy())
    sb = solo.sort_values(["channel", "band", "sample_idx"]).amp.to_numpy()
    np.testing.assert_allclose(gb, sb, rtol=1e-9)


def test_empty_input_pipeline(spark):
    """Empty signals -> empty tf, no error (plan-time guards still apply)."""
    from process_nwb_spark.pipelines import preprocess

    empty = spark.createDataFrame(
        [], "series_id STRING, channel INT, sample_idx BIGINT, value DOUBLE")
    res = preprocess(empty, 1000.0, 500.0, 250.0)
    assert res.tf.count() == 0


def test_nyquist_guard_raises_at_plan_time(spark):
    """Sub-Nyquist wavelet rate raises ValueError before any job runs
    (wavelet_transform.py:121-125 contract)."""
    import pytest as _pytest
    from process_nwb_spark.pipelines import preprocess
    from process_nwb_spark.synth import generate_synthetic_data, to_long_df

    X = generate_synthetic_data(0.5, 2, 1000.0, seed=0)
    with _pytest.raises(ValueError):
        # rat filterbank max cf 1200 -> needs rate >= 2400
        preprocess(to_long_df(spark, X), 1000.0, 400.0, 200.0, filters="rat",
                   hg_only=False)


def test_assemble_v2_composition(spark):
    """The extended corpus program: output is a subset of curate's keeps,
    every gate honored (no high-repetition doc, no low-LM doc, PII
    patterns absent from clean_text), pack ids dense per source."""
    from pyspark.sql import functions as F
    from process_nwb_spark.llm.curation import assemble_v2, curate
    from process_nwb_spark.relational.core import T

    sf = "/root/testdata/sf0.01"
    docs = T(spark, sf, "documents")
    out = assemble_v2(docs, langs=("en", "de", "fr", "es")).cache()
    n = out.count()
    assert n > 50, n
    kept_ids = {r["doc_id"] for r in
                curate(docs, langs=("en", "de", "fr", "es"))
                .select("doc_id").collect()}
    assert {r["doc_id"] for r in out.select("doc_id").collect()} <= kept_ids
    assert out.filter(F.col("lm_score") < -12.0).count() == 0
    assert out.filter(F.col("clean_text").rlike(
        "[a-z0-9._%+-]+@[a-z0-9.-]+")).count() == 0
    # pack ids start at 0 per source and are contiguous
    packs = (out.groupBy("source")
             .agg(F.min("pack_id").alias("lo"),
                  F.max("pack_id").alias("hi"),
                  F.count_distinct("pack_id").alias("k")).collect())
    for r in packs:
        assert r["lo"] == 0 and r["k"] == r["hi"] + 1, r
    out.unpersist()


def test_high_gamma_packed_equals_long_formulation(spark, dense):
    """The packed fast path (array folds + band zip) must match the long
    window/groupBy formulation numerically — same baseline population std,
    same band mean; only the physical plan differs."""
    import numpy as np

    from process_nwb_spark.pipelines import PreprocessResult

    res = preprocess(to_long_df(spark, dense), RATE, INIT, FINAL,
                     precision="double")
    key = ["channel", "sample_idx"]
    fast = (high_gamma_trace(res, 0.25, FINAL).toPandas()
            .sort_values(key).reset_index(drop=True))
    long_only = PreprocessResult(tf=res.tf)   # tf_packed=None -> long path
    slow = (high_gamma_trace(long_only, 0.25, FINAL).toPandas()
            .sort_values(key).reset_index(drop=True))
    assert list(fast.columns) == list(slow.columns) or \
        set(fast.columns) == set(slow.columns)
    np.testing.assert_allclose(fast.amp.to_numpy(), slow.amp.to_numpy(),
                               rtol=1e-9, atol=1e-12)


def _hg_sorted(hg):
    return (hg.toPandas().sort_values(["sample_idx", "channel"])
            .amp.to_numpy())


@pytest.mark.parametrize("fuse", [True, False], ids=["fused", "unfused"])
def test_high_gamma_trace_matches_dense(spark, dense, fuse):
    """Both packed tails — the fused group map's emitter and
    high_gamma_packed over a fuse=False band table — against the dense
    kernels followed by a NumPy baseline z-score and band mean."""
    res = preprocess(to_long_df(spark, dense), RATE, INIT, FINAL,
                     precision="double", fuse=fuse)
    assert (res.high_gamma is not None) == fuse
    amp, _ = _dense_pipeline(dense)                  # (time, ch, band)
    base = amp[:int(0.25 * FINAL)]
    want = ((amp - base.mean(axis=0)) / base.std(axis=0)).mean(axis=2)
    got = _hg_sorted(high_gamma_trace(res, 0.25, FINAL))
    np.testing.assert_allclose(got.reshape(want.shape), want,
                               rtol=1e-7, atol=1e-7)


def test_high_gamma_short_recording_uses_real_baseline_length(spark):
    """A recording shorter than the baseline window: both packed tails
    z-score against the samples it has, like the long formulation."""
    from process_nwb_spark.pipelines import PreprocessResult

    X = generate_synthetic_data(0.5, 4, RATE, seed=3)   # 125 final samples
    res = preprocess(to_long_df(spark, X), RATE, INIT, FINAL,
                     precision="double")
    want = _hg_sorted(high_gamma_trace(PreprocessResult(tf=res.tf), 1.0,
                                       FINAL))
    assert len(want) == 4 * 125
    for r in (res, PreprocessResult(tf=res.tf, tf_packed=res.tf_packed)):
        np.testing.assert_allclose(
            _hg_sorted(high_gamma_trace(r, 1.0, FINAL)), want,
            rtol=1e-9, atol=1e-12)


def test_high_gamma_trace_partition_stable(spark, dense):
    """Each packed tail sums the bands in band order, so the trace is
    bitwise identical at 7 and 64 shuffle partitions."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    outs = {}
    try:
        for n in (7, 64):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            for fuse in (True, False):
                res = preprocess(to_long_df(spark, dense), RATE, INIT, FINAL,
                                 precision="double", fuse=fuse)
                outs[n, fuse] = _hg_sorted(high_gamma_trace(res, 0.25, FINAL))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    for fuse in (True, False):
        np.testing.assert_array_equal(outs[7, fuse], outs[64, fuse])


@pytest.mark.parametrize("post_resample_rate", [None, 200.0])
def test_reference_worst_case_shapes(spark, post_resample_rate):
    """The reference's own e2e fixture — 64 ch x 10.12324567 s generated at
    12207.03125 Hz, then relabeled 2000 Hz (tests/test_pipeline.py:16-38) —
    through preprocess (initial 500 Hz, rat hg_only, optional 200 Hz
    post-resample) vs the dense kernel replay. Tolerance rtol=0.01 is the
    reference's own chunked-vs-dense bound (tests/test_pipeline.py:154);
    the double path lands far inside it. Exercises the awkward odd-length
    resample/pad shapes (123574 samples -> 30894 -> 12358)."""
    X = generate_synthetic_data(10.12324567, 64, 12207.03125, seed=0)
    rate, init = 2000.0, 500.0

    res = preprocess(to_long_df(spark, X), rate, init, post_resample_rate,
                     precision="double")
    got = (res.tf.select("channel", "band", "sample_idx", "amp").toPandas()
           .sort_values(["channel", "band", "sample_idx"]).amp.to_numpy())

    Xs = X * 1e6
    Xr = K.resample(Xs, init, rate, precision="double")
    Xn = K.apply_linenoise_notch(Xr, init, precision="double")
    Xc = K.subtract_car(Xn, 0.95, precision="double")
    Xh, _, cfs, _ = K.wavelet_transform(Xc, init, "rat", True,
                                        precision="double")
    amp = np.abs(Xh)
    if post_resample_rate is not None:
        want = np.stack([np.stack([K.resample(amp[:, c, b],
                                              post_resample_rate, init,
                                              precision="double")
                                   for b in range(amp.shape[2])], 1)
                         for c in range(amp.shape[1])], 1)
    else:
        want = amp
    want = np.transpose(want, (1, 2, 0)).ravel()  # (ch, band, time) flat
    assert got.shape == want.shape
    np.testing.assert_allclose(got, want, rtol=0.01, atol=1e-9)
    # the double path is actually bitwise-close; pin the real agreement
    rel = np.abs(got - want) / np.maximum(np.abs(want), 1e-12)
    assert np.quantile(rel, 0.999) < 1e-6


def test_segmented_preprocess_e2e_matches_whole(spark):
    """preprocess(segmented=True) vs the default whole-channel path,
    end-to-end on the worst-case fixture shape — the lynchpin of the
    10^8-samples/channel claim (SCALE.md "Memory bound"): no stage of the
    segmented plan ever holds a full channel in one task.

    Fixture length 123448 (the reference worst case 123574 nudged to the
    nearest length where the whole-channel path's pad-rounding produces
    NO sub-sample artifact — utils.py:131 `round(ratio*len)` otherwise
    stretches/offsets the dense output grid by a fraction of a sample,
    which no segmentation could or should reproduce; resample_exact's
    docstring has the details). Rates 2000 -> 1000 -> 500 keep every
    ratio at 1/2 (always artifact-free).

    Agreement contract (measured at default seg_len, 2x headroom):
    identical schema/indices; median rel err < 0.2%, q90 < 1%
    (rtol 1e-2 in the reference's chunked-vs-dense sense,
    tests/test_pipeline.py:154), q99 < 6%; per-(ch,band) cosine > 0.995
    (8 channels make the CAR couple each channel's windowed-notch
    residual into every other; at 16+ channels the measured cosine is
    > 0.999). The residual tail is the segment-windowed notch's edge
    behavior under ~100x line noise (documented in SCALE.md), not
    stitching error — the wavelet/resample stages are interior-exact
    (test_segmented.py)."""
    X = generate_synthetic_data(123448 / 12207.03125, 8, 12207.03125,
                                seed=1)
    rate, init, final = 2000.0, 1000.0, 500.0
    long_df = to_long_df(spark, X)
    key = ["channel", "band", "sample_idx"]
    w = (preprocess(long_df, rate, init, final, precision="double")
         .tf.select(*key, "amp").toPandas().sort_values(key)
         .reset_index(drop=True))
    s = (preprocess(long_df, rate, init, final, precision="double",
                    segmented=True, seg_len=32768)
         .tf.select(*key, "amp").toPandas().sort_values(key)
         .reset_index(drop=True))
    assert len(w) == len(s)
    assert (w[key].values == s[key].values).all()
    a, b = s.amp.to_numpy(), w.amp.to_numpy()
    scale = float(np.median(np.abs(b)))
    rel = np.abs(a - b) / np.maximum(np.abs(b), 0.01 * scale)
    assert np.quantile(rel, 0.5) < 0.002, np.quantile(rel, 0.5)
    assert np.quantile(rel, 0.9) < 0.01, np.quantile(rel, 0.9)
    assert np.quantile(rel, 0.99) < 0.06, np.quantile(rel, 0.99)
    for (ch, band), g in s.assign(b=b).groupby(["channel", "band"]):
        ga, gb = g.amp.to_numpy(), g.b.to_numpy()
        cos = float(ga @ gb / (np.linalg.norm(ga) * np.linalg.norm(gb)))
        assert cos > 0.995, (ch, band, cos)


def test_segmented_preprocess_worst_case_ratio_composes(spark):
    """Regression: at the reference worst-case rates (12207.03125 Hz ->
    3200 Hz, ratio denominator 15625) a small requested seg_len used to
    snap to exactly one denominator while the overlap snapped UP to the
    same value, tripping overlap < seg_len validation with a baffling
    error. The seg_len snap now floors at two denominators, so any
    requested seg_len composes with the default overlap.

    Three channels: the 0.95 CAR needs at least three (with two it trims
    both away and raises, as the whole-channel path and the reference
    do)."""
    from pyspark.sql import functions as F

    X = generate_synthetic_data(2.0, 3, 12207.03125, seed=0)
    res = preprocess(to_long_df(spark, X), 12207.03125, 3200.0, 400.0,
                     precision="double", segmented=True, seg_len=10000)
    pdf = (res.tf.groupBy("band")
           .agg(F.count("*").alias("count"),
                F.sum(F.isnan("amp").cast("int")).alias("nan"))
           .toPandas())
    assert len(pdf) == 6 and (pdf["count"] > 0).all()
    assert (pdf["nan"] == 0).all(), pdf


def test_segmented_preprocess_rejects_phase(spark):
    """Segmented always post-resamples; phase output is invalid there —
    same constraint the reference enforces (wavelet_transform.py:389)."""
    X = generate_synthetic_data(0.5, 2, 2000.0, seed=0)
    with pytest.raises(ValueError, match="abs_only"):
        preprocess(to_long_df(spark, X), 2000.0, 1000.0, 500.0,
                   abs_only=False, segmented=True)


def test_assemble_v2_keeps_zero_bigram_docs(spark):
    """A doc with no space-delimited bigrams (single token) must not be
    silently deleted by the LM-score join — it has no quality evidence,
    not bad quality (regression: inner join dropped it)."""
    import pandas as pd
    from process_nwb_spark.llm.curation import assemble_v2

    # distinct words per doc (the dup-word gate must not fire); doc_ids
    # 100-119 all hash to the train split
    rows = [(100 + i, " ".join(f"w{i}x{j}" for j in range(30)),
             "en", "web", 200) for i in range(20)]
    # doc 101 replaced: 25 \w+ tokens but ONE space-token -> zero bigrams
    rows[1] = (101, ",".join(f"tok{i}" for i in range(25)), "en", "web", 150)
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source",
                                    "n_chars"]))
    out = assemble_v2(docs, langs=("en",), min_tokens=5,
                      min_avg_log2_prob=-20.0)
    kept_ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    scores = {r["doc_id"]: r["lm_score"] for r in out.collect()}
    assert 101 in kept_ids
    assert scores[101] == 0.0         # neutral no-evidence score
    assert len(kept_ids) > 1          # the normal docs survived too


def test_sign_bucket_rejects_wrong_width(spark):
    """A vector of the wrong width must fail loudly, not silently bucket
    to a degenerate key via NULL-padded zip_with."""
    import pandas as pd
    import pytest
    from pyspark.sql import functions as F
    from process_nwb_spark.llm.curation import sign_bucket

    df = spark.createDataFrame(
        pd.DataFrame({"v": [[1.0] * 64]}))   # 64 dims, planes are 16
    with pytest.raises(Exception, match="sign_bucket"):
        df.select(sign_bucket(F.col("v")).alias("b")).collect()


def test_preprocess_phase_surface(spark, dense):
    """abs_only=False surfaces phase (the reference's wvlt_phase_ series,
    wavelet_transform.py:422-436) instead of computing and silently
    dropping it (regression): stages carries wvlt_phase, tf_packed keeps
    the phase column, and the values match the dense np.angle oracle."""
    res = preprocess(to_long_df(spark, dense), RATE, INIT,
                     final_resample_rate=None, abs_only=False,
                     precision="double")
    assert "wvlt_phase" in res.stages
    assert "phase" in res.tf_packed.columns

    got = (res.stages["wvlt_phase"].filter("channel = 2 AND band = 1")
           .toPandas().sort_values("sample_idx").phase.to_numpy())
    Xs = dense * 1e6
    Xr = K.resample(Xs, INIT, RATE, precision="double")
    Xn = K.apply_linenoise_notch(Xr, INIT, precision="double")
    Xc = K.subtract_car(Xn, 0.95, precision="double")
    Xh, _, _, _ = K.wavelet_transform(Xc, INIT, "rat", True,
                                      precision="double")
    want = np.angle(Xh[:, 2, 1])
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-9)

    # default final_resample_rate + phase stays rejected (reference
    # contract: phase must not be resampled)
    with pytest.raises(ValueError, match="phase"):
        preprocess(to_long_df(spark, dense), RATE, INIT, FINAL,
                   abs_only=False).tf_packed.collect()


def test_connectivity_tier_composes_with_pipeline(spark, dense):
    """The round-6 analysis tier must consume the flagship pipeline's own
    outputs directly (grids, column names, keys align) — PAC from the
    phase+amp stages, PLV from the phase stage, epoching+ERP and burst
    detection from the amplitude stage — and the dense NumPy replay of
    PAC on the same arrays must agree to 1e-9."""
    from process_nwb_spark.operators.bursts import detect_bursts
    from process_nwb_spark.operators.epochs import epoch_trials, erp_average
    from process_nwb_spark.operators.pac import (phase_amplitude_coupling,
                                                 phase_locking_value)

    res = preprocess(to_long_df(spark, dense), RATE, INIT,
                     final_resample_rate=None, abs_only=False,
                     precision="double")
    ph = (res.stages["wvlt_phase"].filter("band = 0")
          .select("series_id", "channel", "sample_idx", "phase"))
    amp = (res.stages["wvlt_amp"].filter("band = 5")
           .select("series_id", "channel", "sample_idx", "amp"))

    mi = {r.channel: (r.mi, r.n_samples)
          for r in phase_amplitude_coupling(ph, amp).collect()}
    n_t = int(np.ceil(dense.shape[0] * INIT / RATE))
    assert set(mi) == set(range(8))
    assert all(n == n_t and 0.0 <= m <= 1.0 for m, n in mi.values())

    # dense replay of the same MI for one channel
    Xs = dense * 1e6
    Xr = K.resample(Xs, INIT, RATE, precision="double")
    Xn = K.apply_linenoise_notch(Xr, INIT, precision="double")
    Xc = K.subtract_car(Xn, 0.95, precision="double")
    Xh, _, _, _ = K.wavelet_transform(Xc, INIT, "rat", True,
                                      precision="double")
    phi0, a5 = np.angle(Xh[:, 3, 0]), np.abs(Xh[:, 3, 5])
    want = np.abs(np.mean(a5 * np.exp(1j * phi0))) / a5.mean()
    assert mi[3][0] == pytest.approx(want, abs=1e-9)

    plv = phase_locking_value(ph).collect()
    assert len(plv) == 8 * 7 // 2
    assert all(0.0 <= r.plv <= 1.0 + 1e-12 and r.n_samples == n_t
               for r in plv)

    # epoch + ERP + bursts straight off the amplitude stage
    import pandas as pd
    sid = amp.select("series_id").first()[0]
    markers = spark.createDataFrame(pd.DataFrame({
        "series_id": sid, "trial_id": np.arange(3, dtype=np.int32),
        "onset_sample": np.array([400, 900, 1400], dtype=np.int64)}))
    erp = erp_average(epoch_trials(amp, markers, 50, 100,
                                   value_col="amp"), value_col="amp")
    rows = erp.filter("channel = 0").collect()
    assert len(rows) == 151 and all(r.n_trials == 3 for r in rows)

    bursts = detect_bursts(amp, threshold=1e9, min_duration=1,
                           value_col="amp").count()
    assert bursts == 0          # nothing exceeds an absurd threshold
