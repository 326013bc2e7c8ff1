"""Spark operator layer == NumPy kernel layer (differential tests, the
reference's store_* vs pure-function strategy, tests/test_pipeline.py:25-99)."""
import numpy as np
import pytest

from process_nwb_spark.dsp import kernels as K
from process_nwb_spark.operators.car import (car_df, subtract_car,
                                             subtract_car_packed)
from process_nwb_spark.operators.kernel_ops import (notch_op, resample_op,
                                                    scale_packed, wavelet_op)
from process_nwb_spark.operators.repack import pack, unpack
from process_nwb_spark.operators.zscore import band_mean, zscore_baseline
from process_nwb_spark.synth import (electrodes_df, generate_synthetic_data,
                                     long_to_dense, to_long_df)

RATE = 1000.0


@pytest.fixture(scope="module")
def dense(spark):
    X = generate_synthetic_data(1.5, 6, RATE, seed=3)
    return X


@pytest.fixture(scope="module")
def signals(spark, dense):
    return to_long_df(spark, dense)


def test_pack_unpack_roundtrip(spark, signals, dense):
    rt = long_to_dense(unpack(pack(signals)))
    np.testing.assert_allclose(rt, dense)


def test_pack_sorts_by_sample_idx(spark, dense):
    shuffled = to_long_df(spark, dense).orderBy("value")  # destroy time order
    rt = long_to_dense(unpack(pack(shuffled)))
    np.testing.assert_allclose(rt, dense)


def test_pack_order_survives_sort_based_agg_fallback(spark, dense):
    """pack() relies on collect_list appending in partition-iteration order
    after repartition + sortWithinPartitions. ObjectHashAggregate falls back
    to SORT-based aggregation past
    spark.sql.objectHashAggregate.sortBased.fallbackThreshold (default 128
    in-memory groups per task) — exactly the many-groups-per-task regime a
    large deployment hits — where within-group order instead rests on the
    fallback sort's stability on already-grouped runs. Pin that path
    bitwise by forcing the threshold to 1 so EVERY group takes the
    fallback."""
    conf = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    old = spark.conf.get(conf, None)
    try:
        spark.conf.set(conf, "1")
        shuffled = to_long_df(spark, dense).orderBy("value")
        rt = long_to_dense(unpack(pack(shuffled)))
    finally:
        if old is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old)
    assert (rt == dense).all()   # bitwise, not allclose


def test_scale_packed(spark, signals, dense):
    out = long_to_dense(unpack(scale_packed(pack(signals), 1e6)))
    np.testing.assert_allclose(out, dense * 1e6, rtol=1e-12)


def test_resample_op_matches_kernel(spark, signals, dense):
    got = long_to_dense(unpack(resample_op(pack(signals), 400.0, RATE,
                                           precision="double")))
    want = K.resample(dense, 400.0, RATE, precision="double")
    np.testing.assert_allclose(got, want, rtol=1e-10, atol=1e-12)


def test_notch_op_matches_kernel(spark, signals, dense):
    got = long_to_dense(unpack(notch_op(pack(signals), RATE, precision="double")))
    want = K.apply_linenoise_notch(dense, RATE, precision="double")
    np.testing.assert_allclose(got, want, rtol=1e-10, atol=1e-12)


def test_subtract_car_matches_kernel(spark, signals, dense):
    got = long_to_dense(subtract_car(signals, mean_frac=0.95))
    want = K.subtract_car(dense, 0.95, precision="double")
    np.testing.assert_allclose(got, want, rtol=1e-10, atol=1e-12)
    got = long_to_dense(unpack(subtract_car_packed(pack(signals), 0.95,
                                                   precision="double")))
    np.testing.assert_allclose(got, want, rtol=1e-10, atol=1e-12)


def test_subtract_car_mean1(spark, signals, dense):
    got = long_to_dense(subtract_car(signals, mean_frac=1.0))
    want = K.subtract_car(dense, 1.0, precision="double")
    np.testing.assert_allclose(got, want, rtol=1e-10, atol=1e-12)


def test_car_df_nan_skipping(spark, dense):
    X = dense.copy()
    X[10, 2] = np.nan
    import pandas as pd

    sdf = to_long_df(spark, X)
    got = (car_df(sdf, mean_frac=0.95).toPandas()
           .sort_values("sample_idx")["car"].to_numpy())
    want = K.car(X, 0.95, precision="double")[:, 0]
    np.testing.assert_allclose(got, want, rtol=1e-10, atol=1e-12)


def test_car_without_n_channels_raises_when_all_trimmed(spark, dense):
    """With no `n_channels`, a mean_frac that trims every channel (2 at
    0.95: one excluded per side) fails the job, as the reference and the
    packed kernel do, instead of returning a NaN reference. Three
    channels keep one and still match the kernel."""
    two = to_long_df(spark, dense[:, :2])
    with pytest.raises(Exception, match="excludes all 2 channels"):
        subtract_car(two, mean_frac=0.95).collect()
    with pytest.raises(Exception, match="excludes all 2 channels"):
        car_df(two, mean_frac=0.95).collect()
    with pytest.raises(ValueError):
        K.subtract_car(dense[:, :2], 0.95)
    X = dense[:, :3].copy()
    X[5, :] = np.nan                 # an all-NaN timepoint keeps its NaN
    got = long_to_dense(subtract_car(to_long_df(spark, X), mean_frac=0.95))
    want = K.subtract_car(X, 0.95, precision="double")
    assert np.isnan(got[5]).all()
    np.testing.assert_allclose(got, want, rtol=1e-10, atol=1e-12)


def test_wavelet_op_matches_kernel(spark, signals, dense):
    wv = wavelet_op(pack(signals), RATE, filters="rat", hg_only=True,
                    abs_only=False, precision="double")
    pdf = wv.toPandas().sort_values(["channel", "band"])
    Xh, _, cfs, sds = K.wavelet_transform(dense, RATE, "rat", True,
                                          precision="double")
    for _, row in pdf.iterrows():
        want = Xh[:, row.channel, row.band]
        np.testing.assert_allclose(np.asarray(row.amp), np.abs(want),
                                   rtol=1e-9, atol=1e-12)
        np.testing.assert_allclose(np.asarray(row.phase), np.angle(want),
                                   rtol=1e-9, atol=1e-9)
        assert np.isclose(row.cf, cfs[row.band]) and np.isclose(row.sd, sds[row.band])


def test_wavelet_op_post_resample(spark, signals, dense):
    wv = wavelet_op(pack(signals), RATE, filters="rat", hg_only=True,
                    abs_only=True, post_resample_rate=250.0, precision="double")
    pdf = wv.toPandas().sort_values(["channel", "band"])
    Xh, _, _, _ = K.wavelet_transform(dense, RATE, "rat", True, precision="double")
    n_new = K.resample_num(dense.shape[0], 250.0, RATE)
    row = pdf.iloc[0]
    want = K.resample(np.abs(Xh[:, row.channel, row.band]), 250.0, RATE,
                      precision="double")
    assert len(row.amp) == n_new
    np.testing.assert_allclose(np.asarray(row.amp), want, rtol=1e-9, atol=1e-12)


def test_wavelet_phase_resample_rejected(spark, signals):
    with pytest.raises(ValueError):
        wavelet_op(pack(signals), RATE, abs_only=False, post_resample_rate=100.0)


def test_zscore_and_band_mean(spark):
    rng = np.random.default_rng(0)
    import pandas as pd

    rows = []
    for ch in range(2):
        for b in range(3):
            vals = rng.standard_normal(50) + b
            for i, v in enumerate(vals):
                rows.append(("s", ch, b, i, v))
    pdf = pd.DataFrame(rows, columns=["series_id", "channel", "band",
                                      "sample_idx", "amp"])
    tf = spark.createDataFrame(pdf)
    z = zscore_baseline(tf, n_baseline=20, value_col="amp").toPandas()
    for (ch, b), g in z.groupby(["channel", "band"]):
        base = pdf[(pdf.channel == ch) & (pdf.band == b) & (pdf.sample_idx < 20)]["amp"]
        want = (pdf[(pdf.channel == ch) & (pdf.band == b)]
                .sort_values("sample_idx")["amp"].to_numpy() - base.mean()) / base.std(ddof=0)
        np.testing.assert_allclose(g.sort_values("sample_idx")["amp"].to_numpy(),
                                   want, rtol=1e-10)
    bm = band_mean(zscore_baseline(tf, 20, "amp"), "amp").toPandas()
    assert len(bm) == 2 * 50


def test_electrodes_df(spark):
    pdf = electrodes_df(spark, 4).toPandas()
    assert len(pdf) == 4
    assert (pdf.imp == [-0.0, -1.0, -2.0, -3.0]).all()
    assert (pdf.location == "cortex").all()


def test_bounded_row_groups_split_under_cap():
    """The int32-offset guard of the Arrow emitters, Spark-free: rows split
    into groups whose flattened length stays under `cap`, a row longer
    than the cap gets its own group, and no input yields no group."""
    from process_nwb_spark.operators.kernel_ops import _bounded_row_groups

    arrs = [np.zeros(n) for n in (3, 4, 2, 9, 1, 1)]
    groups = list(_bounded_row_groups(arrs, cap=8))
    assert groups == [(0, 2), (2, 3), (3, 4), (4, 6)]
    assert list(_bounded_row_groups([], cap=8)) == []


def test_pack_null_sample_keeps_its_index(spark):
    """A NULL sample packs as NaN at its own index; collect_list alone
    would drop it and shift every later sample one index earlier."""
    df = spark.createDataFrame(
        [("s", 0, i, None if i == 2 else float(i)) for i in range(6)],
        "series_id STRING, channel INT, sample_idx BIGINT, value DOUBLE")
    vals = np.asarray(pack(df).first()["values"], dtype=np.float64)
    np.testing.assert_array_equal(vals, [0.0, 1.0, np.nan, 3.0, 4.0, 5.0])


def _car_wavelet_dense(dense):
    """Dense replay of car_wavelet_arrow's K.subtract_car ->
    K.wavelet_transform, on the scaled signal."""
    Xc = K.subtract_car(dense * 1e6, 0.95, precision="double")
    Xh, _, cfs, sds = K.wavelet_transform(Xc, RATE, "rat", True,
                                          precision="double")
    return Xh, cfs, sds


def test_fused_ops_arrow_matches_kernel(spark, signals, dense):
    """The fused resample+notch row map == K.resample -> K.apply_linenoise_notch."""
    from process_nwb_spark.operators.kernel_ops import fused_ops_arrow

    ds = fused_ops_arrow(
        scale_packed(pack(signals), 1e6),
        lambda x: K.resample(x, 500.0, RATE, precision="double"),
        lambda x: K.apply_linenoise_notch(x, 500.0, precision="double"))
    got = long_to_dense(unpack(ds))
    want = K.apply_linenoise_notch(
        K.resample(dense * 1e6, 500.0, RATE, precision="double"), 500.0,
        precision="double")
    np.testing.assert_allclose(got, want, rtol=1e-10, atol=1e-9)


def test_car_wavelet_arrow_matches_kernel(spark, signals, dense):
    """The CAR->wavelet group map (amplitude, post-resampled) == the dense
    K.subtract_car -> K.wavelet_transform -> |.| -> K.resample replay,
    with cf/sd per band and a null phase column."""
    from process_nwb_spark.operators.kernel_ops import car_wavelet_arrow

    wv = car_wavelet_arrow(scale_packed(pack(signals), 1e6), RATE,
                           mean_frac=0.95, filters="rat", hg_only=True,
                           abs_only=True, post_resample_rate=250.0,
                           precision="double")
    Xh, cfs, sds = _car_wavelet_dense(dense)
    rows = wv.collect()
    assert len(rows) == Xh.shape[1] * Xh.shape[2]
    for r in rows:
        want = K.resample(np.abs(Xh[:, r.channel, r.band]), 250.0, RATE,
                          precision="double")
        np.testing.assert_allclose(np.asarray(r.amp), want, rtol=1e-9,
                                   atol=1e-9)
        assert r.cf == pytest.approx(cfs[r.band])
        assert r.sd == pytest.approx(sds[r.band])
        assert r.phase is None


def test_car_wavelet_arrow_phase_matches_kernel(spark, signals, dense):
    """abs_only=False: the group map emits phase == np.angle of the dense
    replay, beside the unresampled amplitude."""
    from process_nwb_spark.operators.kernel_ops import car_wavelet_arrow

    wv = car_wavelet_arrow(scale_packed(pack(signals), 1e6), RATE,
                           abs_only=False, precision="double")
    Xh, _, _ = _car_wavelet_dense(dense)
    rows = wv.collect()
    assert len(rows) == Xh.shape[1] * Xh.shape[2]
    for r in rows:
        want = Xh[:, r.channel, r.band]
        np.testing.assert_allclose(np.asarray(r.phase), np.angle(want),
                                   rtol=1e-9, atol=1e-9)
        np.testing.assert_allclose(np.asarray(r.amp), np.abs(want),
                                   rtol=1e-9, atol=1e-9)
