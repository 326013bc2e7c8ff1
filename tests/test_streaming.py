"""Structured Streaming tier: stream results == batch twins on the same
events data (availableNow drain through a real streaming query)."""
import pandas as pd
from pyspark.sql import functions as F
import pytest

from process_nwb_spark.relational.core import T, all_queries
from process_nwb_spark.streaming.ops import (dedup_stream,
                                             enrich_with_customers,
                                             foreach_batch_parquet,
                                             read_events_stream,
                                             run_to_memory, session_counts,
                                             sliding_counts, tumbling_counts)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def events_stream(spark):
    # function-scoped: a streaming source DataFrame reused across several
    # started queries can hit analyzer re-resolution mismatches
    return read_events_stream(spark, SF)


def _norm(pdf, keys):
    pdf = pdf.copy()
    for c in pdf.columns:
        if str(pdf[c].dtype).startswith("datetime"):
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(keys).reset_index(drop=True)


def test_tumbling_stream_equals_batch(spark, events_stream):
    got = run_to_memory(tumbling_counts(events_stream), "t_tumb", spark).toPandas()
    want = all_queries()["win_tumbling"].fn(spark, SF).toPandas()
    got["window_start"] = got["window_start"].astype(str)
    pd.testing.assert_frame_equal(
        _norm(got, ["window_start", "event_type"]),
        _norm(want, ["window_start", "event_type"]),
        check_dtype=False, check_like=True)


def test_sliding_stream_counts(spark, events_stream):
    got = run_to_memory(sliding_counts(events_stream), "t_slide", spark).toPandas()
    assert got.n.sum() == 2 * 1000  # every event in exactly 2 windows


def test_session_stream_equals_batch(spark, events_stream):
    got = run_to_memory(session_counts(events_stream), "t_sess", spark).toPandas()
    want = all_queries()["win_session"].fn(spark, SF).toPandas()
    got["session_start"] = got["session_start"].astype(str).str[:19]
    pd.testing.assert_frame_equal(
        _norm(got, ["user_id", "session_start"]),
        _norm(want, ["user_id", "session_start"]),
        check_dtype=False, check_like=True)


def test_dedup_stream(spark, events_stream):
    n_keys = (T(spark, SF, "events")
              .select("user_id", "event_type").distinct().count())
    exact = run_to_memory(dedup_stream(events_stream, watermark=None),
                          "t_dedup_exact", spark, mode="append").toPandas()
    assert len(exact) == n_keys
    assert exact.groupby(["user_id", "event_type"]).size().max() == 1
    # watermarked variant: bounded state may re-emit evicted keys, never
    # fewer rows than the exact dedup
    wm = run_to_memory(dedup_stream(events_stream, watermark="1 hour"),
                       "t_dedup_wm", spark, mode="append").toPandas()
    assert len(wm) >= n_keys


def test_stream_static_join(spark, events_stream):
    cust = T(spark, SF, "customer")
    got = run_to_memory(enrich_with_customers(events_stream, cust),
                        "t_enrich", spark, mode="append").toPandas()
    ev = T(spark, SF, "events")
    want = ev.join(cust, ev.user_id == cust.c_custkey).count()
    assert len(got) == want


def test_foreach_batch_sink(spark, events_stream, tmp_path):
    out = str(tmp_path / "sink")
    q = (tumbling_counts(events_stream).writeStream
         .outputMode("complete")
         .foreachBatch(foreach_batch_parquet(out))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    written = spark.read.parquet(out)
    assert written.count() > 0
    assert "_batch" in written.columns


def test_stateful_running_totals(spark, events_stream, tmp_path):
    from process_nwb_spark.streaming.ops import running_user_totals

    got = (running_user_totals(events_stream).writeStream
           .format("memory").queryName("t_state")
           .outputMode("update")
           .option("checkpointLocation", str(tmp_path / "ckpt"))
           .trigger(availableNow=True).start())
    got.awaitTermination()
    # last update per user == batch aggregate
    latest = (spark.table("t_state").toPandas()
              .groupby("user_id").last().reset_index())
    want = (T(spark, SF, "events").groupBy("user_id")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("total_value"))
            .toPandas())
    merged = latest.merge(want, on="user_id", suffixes=("_s", "_b"))
    assert len(merged) == len(want)
    assert (merged.n_events_s == merged.n_events_b).all()
    assert (merged.total_value_s - merged.total_value_b).abs().max() < 1e-6


def test_stream_preprocess_signals(spark, tmp_path):
    """Incremental notch pipeline: stream N signal files -> segmented notch
    per micro-batch -> partitioned append; result == batch segmented notch
    over the whole recording (files are cut on segment boundaries)."""
    import numpy as np
    from process_nwb_spark.operators.segmented import segmented_notch
    from process_nwb_spark.streaming.ops import stream_preprocess_signals
    from process_nwb_spark.synth import generate_synthetic_data, to_long_df

    X = generate_synthetic_data(4.0, 2, 2000.0, seed=5)  # 8000 x 2
    long_df = to_long_df(spark, X)
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    # land the recording as 2 files of whole segments (4096 samples each)
    for lo, hi in [(0, 4096), (4096, 8000)]:
        (long_df.filter((F.col("sample_idx") >= lo) & (F.col("sample_idx") < hi))
         .coalesce(1).write.mode("append").parquet(in_dir))

    q = stream_preprocess_signals(spark, in_dir, out_dir, 2000.0,
                                  seg_len=2048, overlap=512)
    q.awaitTermination()

    got = (spark.read.parquet(out_dir)
           .toPandas().sort_values(["channel", "sample_idx"]))
    assert got._batch.nunique() == 2  # really incremental
    # batch oracle with the same per-file segmentation
    parts = []
    for lo, hi in [(0, 4096), (4096, 8000)]:
        piece = long_df.filter((F.col("sample_idx") >= lo)
                               & (F.col("sample_idx") < hi))
        parts.append(segmented_notch(piece, 2000.0, seg_len=2048, overlap=512)
                     .toPandas())
    import pandas as pd
    want = (pd.concat(parts).sort_values(["channel", "sample_idx"]))
    assert len(got) == len(want) == 8000 * 2
    np.testing.assert_allclose(got.value.to_numpy(), want.value.to_numpy(),
                               rtol=1e-9)


def test_transform_with_state_stats(spark, events_stream, tmp_path):
    pytest.importorskip(
        "google.protobuf.descriptor",
        reason="transformWithStateInPandas needs protobuf (not installed)")
    from process_nwb_spark.streaming.ops import user_event_stats_tws

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider")

    q = (user_event_stats_tws(events_stream).writeStream
         .format("memory").queryName("t_tws")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    latest = (spark.table("t_tws").toPandas()
              .groupby("user_id").last().reset_index())
    want = (T(spark, SF, "events").groupBy("user_id")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("total_value"),
                 F.round(F.max("value"), 2).alias("max_value"))
            .toPandas())
    merged = latest.merge(want, on="user_id", suffixes=("_s", "_b"))
    assert len(merged) == len(want)
    assert (merged.n_events_s == merged.n_events_b).all()
    assert (merged.total_value_s - merged.total_value_b).abs().max() < 1e-6
    assert (merged.max_value_s - merged.max_value_b).abs().max() < 1e-6


def test_stream_preprocess_full_pipeline(spark, tmp_path):
    """Full streaming pipeline (notch -> CAR -> wavelet amp): stream 2
    landing files, compare against the batch composition of the same
    per-file segmentation — exact, since it is the same code path and CAR
    is per-timepoint (no cross-batch state needed)."""
    import numpy as np
    import pandas as pd
    from process_nwb_spark.operators.car import subtract_car
    from process_nwb_spark.operators.segmented import (segmented_notch,
                                                       segmented_wavelet_amp)
    from process_nwb_spark.streaming.ops import stream_preprocess_full
    from process_nwb_spark.synth import generate_synthetic_data, to_long_df

    # 3 channels: the default mean_frac=0.95 trims one per side, so 2
    # channels would leave none and the CAR raises
    X = generate_synthetic_data(4.0, 3, 2000.0, seed=7)  # 8000 x 3
    long_df = to_long_df(spark, X)
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    cuts = [(0, 4096), (4096, 8000)]
    for lo, hi in cuts:
        (long_df.filter((F.col("sample_idx") >= lo) & (F.col("sample_idx") < hi))
         .coalesce(1).write.mode("append").parquet(in_dir))

    q = stream_preprocess_full(spark, in_dir, out_dir, 2000.0,
                               seg_len=2048, overlap=512, precision="double")
    q.awaitTermination()

    got = (spark.read.parquet(out_dir).toPandas()
           .sort_values(["channel", "band", "sample_idx"]))
    assert got._batch.nunique() == 2          # really incremental
    assert sorted(got.band.unique()) == [0, 1, 2, 3, 4, 5]  # rat hg_only

    parts = []
    for lo, hi in cuts:
        piece = long_df.filter((F.col("sample_idx") >= lo)
                               & (F.col("sample_idx") < hi))
        notched = segmented_notch(piece, 2000.0, seg_len=2048, overlap=512,
                                  precision="double")
        referenced = subtract_car(notched)
        parts.append(segmented_wavelet_amp(referenced, 2000.0, seg_len=2048,
                                           overlap=512, precision="double")
                     .toPandas())
    want = pd.concat(parts).sort_values(["channel", "band", "sample_idx"])
    assert len(got) == len(want) == 8000 * 3 * 6
    assert not np.isnan(got.amp.to_numpy()).any()
    np.testing.assert_allclose(got.amp.to_numpy(), want.amp.to_numpy(),
                               rtol=1e-9)


def test_stream_stream_join_equals_batch(spark, tmp_path):
    """Stream-stream inner join (clicks x same-user errors within 10 min):
    watermarks + the event-time range bound give bounded join state; the
    availableNow drain must produce exactly the batch twin's rows."""
    from process_nwb_spark.streaming.ops import join_clicks_to_errors

    clicks = read_events_stream(spark, SF).filter(
        F.col("event_type") == "click")
    errors = read_events_stream(spark, SF).filter(
        F.col("event_type") == "error")
    q = (join_clicks_to_errors(clicks, errors).writeStream
         .format("memory").queryName("t_ssj")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.table("t_ssj").toPandas()
    want = (all_queries()["stream_stream_join"].fn(spark, SF).toPandas()
            .rename(columns={"click_time": "click_time",
                             "error_time": "error_time"}))
    pd.testing.assert_frame_equal(
        _norm(got, ["click_id", "error_id"]),
        _norm(want, ["click_id", "error_id"]),
        check_dtype=False, check_like=True)


def test_stream_bursts_stitch_across_file_cut(spark, tmp_path):
    """A burst split by a micro-batch boundary must be emitted ONCE with
    its full extent (state carries the open island); stream == batch
    detect_bursts exactly when the recording ends sub-threshold."""
    import numpy as np
    import pandas as pd
    from process_nwb_spark.operators.bursts import detect_bursts
    from process_nwb_spark.streaming.ops import (SIGNALS_SCHEMA,
                                                 stream_burst_detect)

    n = 3000
    rng = np.random.default_rng(23)
    x = rng.standard_normal(n) * 0.3
    x[980:1060] += 2.0      # burst straddling the cut at 1000
    x[1990:2015] += 2.0     # burst straddling the cut at 2000
    x[300:303] += 3.0       # short burst, killed by min_duration=5
    x[500:520] += 2.5       # interior burst
    x[-1] = 0.0             # end sub-threshold: no open tail island
    long_pdf = pd.DataFrame({
        "series_id": "s0", "channel": np.int32(0),
        "sample_idx": np.arange(n, dtype=np.int64), "value": x})
    df = spark.createDataFrame(long_pdf)

    in_dir = str(tmp_path / "in_bursts")
    for lo, hi in [(0, 1000), (1000, 2000), (2000, 3000)]:
        (df.filter((F.col("sample_idx") >= lo) & (F.col("sample_idx") < hi))
         .coalesce(1).write.mode("append").parquet(in_dir))

    sdf = (spark.readStream.schema(SIGNALS_SCHEMA)
           .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = (stream_burst_detect(sdf, threshold=1.0, min_duration=5)
         .writeStream.format("memory").queryName("t_bursts")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_bursts"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    got = (spark.table("t_bursts").toPandas()
           .sort_values("start_idx").reset_index(drop=True))
    want = (detect_bursts(df, 1.0, min_duration=5).toPandas()
            .sort_values("start_idx").reset_index(drop=True))
    assert len(got) == len(want) >= 3
    # the straddling bursts appear once, full-extent (stitched)
    assert (got.start_idx == want.start_idx).all()
    assert (got.end_idx == want.end_idx).all()
    assert (got.duration == want.duration).all()
    np.testing.assert_allclose(got.peak, want.peak, rtol=0, atol=0)
    np.testing.assert_allclose(got.area, want.area, rtol=1e-9)


def test_stream_peaks_decide_across_file_cut(spark, tmp_path):
    """Peak candidacy at a micro-batch boundary needs the next batch's
    first sample (3-tap stencil), and a refractory island straddling the
    cut must merge across it — both carried in state; stream == batch
    detect_peaks exactly once every island is provably closed."""
    import numpy as np
    import pandas as pd
    from process_nwb_spark.operators.peaks import detect_peaks
    from process_nwb_spark.streaming.ops import (SIGNALS_SCHEMA,
                                                 stream_peak_detect)

    n = 3000
    rng = np.random.default_rng(31)
    x = rng.random(n) * 0.3
    x[999] += 1.5        # peak exactly AT the cut: right neighbor is in
                         # the next file, candidacy must wait for it
    x[1030] += 1.2       # within min_separation of 999: merges ACROSS
                         # the cut into one island (the 1.5 wins)
    x[500] += 2.0        # interior peak
    x[503] += 1.6        # companion -> island_size 2, 500 reported
    x[1995] += 1.8       # island open at the 2000 cut, closed in batch 3
    x[2500] += 1.4
    x[-1] = 0.0          # quiet tail: every island provably closes
    pdf = pd.DataFrame({
        "series_id": "s0", "channel": np.int32(0),
        "sample_idx": np.arange(n, dtype=np.int64), "value": x})
    df = spark.createDataFrame(pdf)

    in_dir = str(tmp_path / "in_peaks")
    for lo, hi in [(0, 1000), (1000, 2000), (2000, 3000)]:
        (df.filter((F.col("sample_idx") >= lo) & (F.col("sample_idx") < hi))
         .coalesce(1).write.mode("append").parquet(in_dir))

    sdf = (spark.readStream.schema(SIGNALS_SCHEMA)
           .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = (stream_peak_detect(sdf, threshold=0.8, min_separation=50)
         .writeStream.format("memory").queryName("t_peaks")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_peaks"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    got = (spark.table("t_peaks").toPandas()
           .sort_values("sample_idx").reset_index(drop=True))
    want = (detect_peaks(df, threshold=0.8, min_separation=50).toPandas()
            .sort_values("sample_idx").reset_index(drop=True))
    assert len(got) == len(want) >= 4
    assert (got.sample_idx.values == want.sample_idx.values).all()
    assert (got.island_size.values == want.island_size.values).all()
    np.testing.assert_allclose(got.peak_value, want.peak_value,
                               rtol=0, atol=0)
    # the cut-straddling island reported once, with the 999 peak winning
    assert 999 in set(got.sample_idx) and 1030 not in set(got.sample_idx)


def test_stream_cusum_equals_batch_across_cuts(spark, tmp_path):
    """The online CUSUM must equal the batch face row-for-row when the
    daily stream is cut mid-baseline (day 4) and mid-fold (day 15) —
    state carries the baseline buffer and the s_hi/s_lo recurrence."""
    import pandas as pd
    from process_nwb_spark.relational.event_windows import ts_cusum_shift
    from process_nwb_spark.streaming.ops import stream_cusum_shift
    from tests.conftest import SF_CORRECT

    ev = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    daily = (ev.groupBy("event_type", F.col("ts").cast("date").alias("d"))
             .agg(F.sum(F.round(F.col("value") * 100.0, 0).cast("bigint"))
                  .cast("bigint").alias("xc")))

    in_dir = str(tmp_path / "in_cusum")
    for lo, hi in [("2024-01-01", "2024-01-05"),
                   ("2024-01-05", "2024-01-16"),
                   ("2024-01-16", "2024-02-01")]:
        (daily.filter((F.col("d") >= lo) & (F.col("d") < hi))
         .coalesce(1).write.mode("append").parquet(in_dir))

    sdf = (spark.readStream
           .schema("event_type string, d date, xc long")
           .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = (stream_cusum_shift(sdf)
         .writeStream.format("memory").queryName("t_cusum")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_cusum"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    got = (spark.table("t_cusum").toPandas()
           .sort_values(["event_type", "day"]).reset_index(drop=True))
    want = (ts_cusum_shift(spark, SF_CORRECT).toPandas()
            .sort_values(["event_type", "day"]).reset_index(drop=True))
    assert len(got) == len(want) > 0
    pd.testing.assert_frame_equal(
        got[["event_type", "day", "x", "cusum_hi", "cusum_lo",
             "shift_flag"]],
        want[["event_type", "day", "x", "cusum_hi", "cusum_lo",
              "shift_flag"]],
        check_dtype=False, check_exact=True)  # bit-for-bit, not rtol
    assert want.shift_flag.sum() > 0  # the detector actually fires


def test_stream_cusum_out_of_order_raises(spark, tmp_path):
    """A day landing at or below the high-water mark must fail loudly
    (silent reordering would corrupt the recurrence), even while the
    series is still buffering its baseline."""
    import pandas as pd
    from py4j.protocol import Py4JJavaError
    from process_nwb_spark.streaming.ops import stream_cusum_shift

    days = (pd.DataFrame({
        "event_type": "t",
        "d": pd.to_datetime(["2024-01-03", "2024-01-04"]).date,
        "xc": [100, 200]}))
    in_dir = str(tmp_path / "in_ooo")
    spark.createDataFrame(days).coalesce(1) \
        .write.mode("append").parquet(in_dir)
    # second file replays an EARLIER day
    late = pd.DataFrame({"event_type": "t",
                         "d": pd.to_datetime(["2024-01-02"]).date,
                         "xc": [50]})
    spark.createDataFrame(late).coalesce(1) \
        .write.mode("append").parquet(in_dir)

    sdf = (spark.readStream
           .schema("event_type string, d date, xc long")
           .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = (stream_cusum_shift(sdf)
         .writeStream.format("memory").queryName("t_cusum_ooo")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_ooo"))
         .trigger(availableNow=True).start())
    import pytest as _pytest
    with _pytest.raises((Py4JJavaError, Exception),
                        match="out-of-order landing"):
        q.awaitTermination()


def test_stream_cusum_short_series_emits_nothing(spark, tmp_path):
    """A series with fewer than 7 total days never leaves the baseline
    buffer (a stream cannot know the series ended), while the batch face
    — which can see the end — emits rows from a shorter baseline. This
    pins the INTENDED asymmetry explicitly so a fixture change that
    introduces a <7-day event type surfaces here, not as a confusing
    len(got)==len(want) failure in the parity test above (whose corpus
    currently contains none)."""
    import pandas as pd
    from process_nwb_spark.streaming.ops import stream_cusum_shift

    days = pd.DataFrame({
        "event_type": "short",
        "d": pd.to_datetime(["2024-01-01", "2024-01-02", "2024-01-03",
                             "2024-01-04", "2024-01-05"]).date,
        "xc": [100, 200, 300, 250, 150]})
    in_dir = str(tmp_path / "in_short")
    spark.createDataFrame(days).coalesce(1) \
        .write.mode("append").parquet(in_dir)

    sdf = (spark.readStream
           .schema("event_type string, d date, xc long")
           .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = (stream_cusum_shift(sdf)
         .writeStream.format("memory").queryName("t_cusum_short")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_short"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert spark.table("t_cusum_short").count() == 0


def test_stream_cusum_knife_edge_rounding_matches_spark_round(spark,
                                                              tmp_path):
    """mu = 2.90 puts BOTH derived parameters on decimal-halfway doubles:
    kappa arg 2.9*0.05 = 0.145 and h arg 2.9*0.25 = 0.725. Spark's
    F.round (shortest-repr HALF_UP) gives 0.15 / 0.73; a
    floor(x*100+0.5)/100 helper gives 0.14 / 0.72(+) — the silent
    batch!=stream divergence class ADVICE flagged. The expected fold is
    replayed here with the JVM's own round() via spark.sql (not the
    stream's Python helper), so the assertion is non-circular."""
    import pandas as pd
    from process_nwb_spark.streaming.ops import stream_cusum_shift

    xcs = [290] * 7 + [400, 50, 320]
    ds = pd.date_range("2024-03-01", periods=len(xcs), freq="D").date
    days = pd.DataFrame({"event_type": "knife", "d": ds, "xc": xcs})
    in_dir = str(tmp_path / "in_knife")
    spark.createDataFrame(days).coalesce(1) \
        .write.mode("append").parquet(in_dir)

    sdf = (spark.readStream
           .schema("event_type string, d date, xc long")
           .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = (stream_cusum_shift(sdf)
         .writeStream.format("memory").queryName("t_cusum_knife")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_knife"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = (spark.table("t_cusum_knife").toPandas()
           .sort_values("day").reset_index(drop=True))
    assert len(got) == len(xcs)

    # JVM-round replay: mu, kappa, h and the seeded max(0, prev+delta)
    # fold, all rounded by Spark SQL round() on literals
    def jround(expr, scale):
        return spark.sql(
            f"SELECT round(CAST({expr} AS DOUBLE), {scale})").first()[0]

    mu = jround("CAST(2.9 AS DOUBLE)", 2)
    kappa = jround(f"CAST({mu!r} AS DOUBLE) * CAST(0.05 AS DOUBLE)", 2)
    h = jround(f"CAST({mu!r} AS DOUBLE) * CAST(0.25 AS DOUBLE)", 2)
    assert (mu, kappa, h) == (2.9, 0.15, 0.73)   # the knife-edge values
    s_hi = s_lo = 0.0
    for i, xc in enumerate(xcs):
        x = xc / 100.0
        s_hi = max(0.0, s_hi + (x - mu - kappa))
        s_lo = max(0.0, s_lo + (mu - kappa - x))
        r_hi = jround(f"CAST({s_hi!r} AS DOUBLE)", 4)
        r_lo = jround(f"CAST({s_lo!r} AS DOUBLE)", 4)
        assert got.loc[i, "cusum_hi"] == r_hi, (i, got.loc[i, "cusum_hi"],
                                                r_hi)
        assert got.loc[i, "cusum_lo"] == r_lo, (i, got.loc[i, "cusum_lo"],
                                                r_lo)
        assert got.loc[i, "shift_flag"] == int(s_hi > h or s_lo > h)


def test_stream_rolling_slope_equals_batch_across_cuts(spark, tmp_path):
    """The streaming 14-day rolling OLS twin must equal the batch face
    row-for-row when the daily stream is cut mid-window (day 10) and
    again at day 20 — state carries the 14-slot buffer across cuts, and
    gapped windows are skipped identically on both sides."""
    import pandas as pd
    from process_nwb_spark.relational.event_windows import \
        win_rolling_regression
    from process_nwb_spark.streaming.ops import stream_rolling_slope
    from tests.conftest import SF_CORRECT

    ev = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    daily = (ev.groupBy("event_type", F.col("ts").cast("date").alias("d"))
             .agg(F.sum(F.round(F.col("value") * 100.0, 0).cast("bigint"))
                  .cast("bigint").alias("yc")))

    in_dir = str(tmp_path / "in_slope")
    for lo, hi in [("2024-01-01", "2024-01-11"),
                   ("2024-01-11", "2024-01-21"),
                   ("2024-01-21", "2024-03-01")]:
        (daily.filter((F.col("d") >= lo) & (F.col("d") < hi))
         .coalesce(1).write.mode("append").parquet(in_dir))

    sdf = (spark.readStream
           .schema("event_type string, d date, yc long")
           .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = (stream_rolling_slope(sdf)
         .writeStream.format("memory").queryName("t_slope")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_slope"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    got = (spark.table("t_slope").toPandas()
           .sort_values(["event_type", "day"]).reset_index(drop=True))
    want = (win_rolling_regression(spark, SF_CORRECT).toPandas()
            .sort_values(["event_type", "day"]).reset_index(drop=True))
    # the batch face covers the whole fixture range; restrict to the
    # streamed date range for the comparison
    want = want[want.day <= got.day.max()].reset_index(drop=True)
    assert len(got) == len(want) > 0
    pd.testing.assert_frame_equal(
        got[["event_type", "day", "slope_cents", "rising"]],
        want[["event_type", "day", "slope_cents", "rising"]],
        check_dtype=False, check_exact=True)  # bit-for-bit


def test_stream_sessionize_equals_batch_across_cuts(spark, tmp_path):
    """The streaming sessionization twin must equal the batch face
    row-for-row on every CLOSED session when the event stream is cut
    into three micro-batches mid-session-history — state carries the
    open session across cuts. The batch face additionally emits each
    user's final still-open session (a stream cannot know it is over):
    those rows are dropped from the expectation, pinning the documented
    asymmetry. total_value is omitted by design (order-sensitive double
    sum — see the twin's docstring)."""
    import pandas as pd
    from process_nwb_spark.relational.core import all_queries
    from process_nwb_spark.streaming.ops import stream_sessionize
    from tests.conftest import SF_CORRECT

    ev = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    ev = (ev.withColumn("ts", F.col("ts").cast("timestamp"))
          .select("user_id", "event_id", "event_type",
                  F.unix_micros("ts").alias("us")))

    in_dir = str(tmp_path / "in_sess")
    # time-ordered cuts (the twin's cross-batch contract is event-time
    # order per user, so cut on event time)
    lo, hi = ev.agg(F.min("us"), F.max("us")).first()
    t1 = lo + (hi - lo) // 3
    t2 = lo + 2 * (hi - lo) // 3
    for pred in [F.col("us") < t1,
                 (F.col("us") >= t1) & (F.col("us") < t2),
                 F.col("us") >= t2]:
        ev.filter(pred).coalesce(1).write.mode("append").parquet(in_dir)

    sdf = (spark.readStream
           .schema("user_id long, event_id long, event_type string, "
                   "us long")
           .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = (stream_sessionize(sdf)
         .writeStream.format("memory").queryName("t_sess")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    got = (spark.table("t_sess").toPandas()
           .sort_values(["user_id", "session_no"]).reset_index(drop=True))
    want_all = (all_queries()["event_sessionize"].fn(spark, SF_CORRECT)
                .toPandas())
    # drop each user's final (still-open) session from the expectation
    last = want_all.groupby("user_id")["session_no"].transform("max")
    want = (want_all[want_all.session_no < last]
            .sort_values(["user_id", "session_no"]).reset_index(drop=True))
    assert len(got) == len(want) > 0
    pd.testing.assert_frame_equal(
        got[["user_id", "session_no", "n_events", "n_types", "duration_s"]],
        want[["user_id", "session_no", "n_events", "n_types", "duration_s"]],
        check_dtype=False, check_exact=True)  # bit-for-bit


def test_foreach_batch_idempotent_replay(spark, tmp_path):
    """A retried micro-batch must REPLACE its own output, not append a
    duplicate: dynamic partition overwrite keyed by batch id. Replaying
    batch 0 with different content converges to the retry's content
    (last-write-wins per batch), and batch 1 lands beside it."""
    from process_nwb_spark.streaming.ops import \
        foreach_batch_parquet_idempotent

    out = str(tmp_path / "idem")
    sink = foreach_batch_parquet_idempotent(out)
    b0 = spark.range(10).withColumnRenamed("id", "v")
    sink(b0, 0)
    sink(b0, 0)                       # verbatim retry: no duplicates
    assert spark.read.parquet(out).count() == 10
    sink(spark.range(7).withColumnRenamed("id", "v"), 0)  # partial retry
    assert spark.read.parquet(out).count() == 7
    sink(spark.range(5).withColumnRenamed("id", "v"), 1)
    got = spark.read.parquet(out)
    assert got.count() == 12
    assert got.filter("_batch = 1").count() == 5


def test_stream_mv_merge_equals_batch(spark, tmp_path):
    """Streamed MV (update-mode running totals upserted per micro-batch)
    must equal the batch rollup after the drain, and a replayed batch
    must leave the MV unchanged (running totals are idempotent where
    increments would double-count)."""
    from process_nwb_spark.streaming.ops import mv_upsert_sink

    ev = spark.read.parquet(f"{SF}/events.parquet")
    ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    in_dir = str(tmp_path / "mv_in")
    for m in range(3):
        (ev.filter(F.month("ts") % 3 == m)
         .coalesce(1).write.mode("append").parquet(in_dir))

    out = str(tmp_path / "mv")
    sdf = (spark.readStream.schema(ev.schema)
           .option("maxFilesPerTrigger", 1).parquet(in_dir))
    agg = (sdf.groupBy("event_type")
           .agg(F.count("*").alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("bigint"))
                .alias("cents")))
    q = (agg.writeStream.outputMode("update")
         .foreachBatch(mv_upsert_sink(out, ["event_type"]))
         .option("checkpointLocation", str(tmp_path / "mv_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    got = spark.read.parquet(out).toPandas() \
        .sort_values("event_type").reset_index(drop=True)
    want = (ev.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.sum(F.round(F.col("value") * 100).cast("bigint"))
                 .alias("cents"))
            .toPandas().sort_values("event_type").reset_index(drop=True))
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    # retry replay: upserting the final totals again changes nothing
    sink = mv_upsert_sink(out, ["event_type"])
    sink(spark.read.parquet(out), 99)
    again = spark.read.parquet(out).toPandas() \
        .sort_values("event_type").reset_index(drop=True)
    pd.testing.assert_frame_equal(again, want, check_dtype=False)


def test_stream_alert_hysteresis_equals_batch_across_cuts(spark, tmp_path):
    """The streaming Schmitt-trigger twin must equal the batch face
    row-for-row when the hourly rollup is cut into three micro-batches —
    the carried on/off state crosses the cuts (a cut landing inside a
    carry run is exactly where a stateless replay would reset to 0)."""
    from process_nwb_spark.relational.core import all_queries
    from process_nwb_spark.streaming.ops import stream_alert_hysteresis
    from tests.conftest import SF_CORRECT

    hourly = (all_queries()["alert_hysteresis_state"].fn(spark, SF_CORRECT)
              .select("hour", "n_events", "n_errors")
              .withColumn("series", F.lit("all")))
    in_dir = str(tmp_path / "hyst_in")
    hrs = sorted(r.hour for r in hourly.select("hour").collect())
    c1, c2 = hrs[len(hrs) // 3], hrs[2 * len(hrs) // 3]
    for pred in [F.col("hour") < c1,
                 (F.col("hour") >= c1) & (F.col("hour") < c2),
                 F.col("hour") >= c2]:
        hourly.filter(pred).coalesce(1).write.mode("append").parquet(in_dir)

    sdf = (spark.readStream
           .schema("hour string, n_events long, n_errors long, "
                   "series string")
           .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = (stream_alert_hysteresis(sdf)
         .writeStream.format("memory").queryName("t_hyst")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "hyst_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    got = (spark.table("t_hyst").toPandas()
           .sort_values("hour").reset_index(drop=True))
    want = (all_queries()["alert_hysteresis_state"].fn(spark, SF_CORRECT)
            .toPandas().sort_values("hour").reset_index(drop=True))
    assert len(got) == len(want) > 0
    cols = ["hour", "n_events", "n_errors", "state", "fired"]
    pd.testing.assert_frame_equal(got[cols], want[cols],
                                  check_dtype=False, check_exact=True)
    # the fixture must actually exercise the hysteresis: both states
    # occur and at least one carry row sits between the thresholds
    assert got.state.nunique() == 2 and got.fired.sum() >= 1


def test_stream_scd2_apply_equals_full_rebuild(spark, tmp_path):
    """Streamed SCD2 history (three date-cut micro-batches through
    scd2_upsert_sink) must equal the batch face's incremental result —
    which is itself oracled against the full rebuild. Then: re-applying
    the last batch leaves the history unchanged (retry idempotence),
    and applying the SAME batches in scrambled order into a fresh
    history converges to the identical rows (backfill safety)."""
    from process_nwb_spark.relational.core import all_queries
    from process_nwb_spark.streaming.ops import scd2_upsert_sink
    from tests.conftest import SF_CORRECT

    o = spark.read.parquet(f"{SF_CORRECT}/orders.parquet")
    daily = (o.groupBy(F.col("o_custkey").alias("custkey"),
                       F.col("o_orderdate").cast("date").alias("d"))
             .agg(F.max_by("o_orderstatus", "o_orderkey").alias("status")))
    in_dir = str(tmp_path / "scd2_in")
    cuts = ["1995-01-01", "1997-07-01"]
    preds = [F.col("d") < cuts[0],
             (F.col("d") >= cuts[0]) & (F.col("d") < cuts[1]),
             F.col("d") >= cuts[1]]
    for p in preds:
        daily.filter(p).coalesce(1).write.mode("append").parquet(in_dir)

    out = str(tmp_path / "scd2_hist")
    sdf = (spark.readStream
           .schema("custkey long, d date, status string")
           .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = (sdf.writeStream.foreachBatch(scd2_upsert_sink(out))
         .option("checkpointLocation", str(tmp_path / "scd2_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    def norm(df):
        pdf = df.toPandas().fillna({"valid_to": ""})
        return (pdf.sort_values(["custkey", "valid_from"])
                .reset_index(drop=True))

    got = norm(spark.read.parquet(out))
    want = norm(all_queries()["scd2_apply_changeset"].fn(spark, SF_CORRECT))
    cols = ["custkey", "status", "valid_from", "valid_to", "is_current"]
    pd.testing.assert_frame_equal(got[cols], want[cols],
                                  check_dtype=False, check_exact=True)

    # retry idempotence: re-apply the final batch verbatim
    sink = scd2_upsert_sink(out)
    sink(daily.filter(preds[2]), 99)
    pd.testing.assert_frame_equal(
        norm(spark.read.parquet(out))[cols], want[cols],
        check_dtype=False, check_exact=True)

    # backfill safety: scrambled batch order into a fresh history
    out2 = str(tmp_path / "scd2_hist2")
    sink2 = scd2_upsert_sink(out2)
    for i in (2, 0, 1):
        sink2(daily.filter(preds[i]), i)
    pd.testing.assert_frame_equal(
        norm(spark.read.parquet(out2))[cols], want[cols],
        check_dtype=False, check_exact=True)


def test_stream_scd2_splice_into_samestatus_run(spark, tmp_path):
    """Adversarial backfill: a late out-of-order event lands INSIDE a
    collapsed same-status run. An interval-only re-derivation (change
    points drop the no-change day3 observation) would produce [A, B]
    with B current; the truth, re-derived from the full point set the
    sink persists in its sidecar, is [A, B, A] with A current. This is
    the case where valid_to / is_current silently corrupt — pin it."""
    from process_nwb_spark.streaming.ops import scd2_upsert_sink

    out = str(tmp_path / "hist")
    sink = scd2_upsert_sink(out)
    mk = lambda rows: spark.createDataFrame(
        [(k, pd.Timestamp(d).date(), s) for k, d, s in rows],
        "custkey long, d date, status string")
    # batch 1: same status A on day 1 and day 3 (one collapsed run)
    sink(mk([(7, "2024-01-01", "A"), (7, "2024-01-03", "A")]), 0)
    # late batch 2: day 2 flips to B, splicing inside the run
    sink(mk([(7, "2024-01-02", "B")]), 1)

    got = (spark.read.parquet(out)
           .orderBy("valid_from")
           .select("custkey", "status", "valid_from", "valid_to",
                   "is_current")
           .toPandas().fillna({"valid_to": ""}))
    want = pd.DataFrame(
        [(7, "A", "2024-01-01", "2024-01-02", 0),
         (7, "B", "2024-01-02", "2024-01-03", 0),
         (7, "A", "2024-01-03", "", 1)],
        columns=["custkey", "status", "valid_from", "valid_to",
                 "is_current"])
    pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                  check_exact=True)
    # and a retry of the late batch leaves it unchanged
    sink(mk([(7, "2024-01-02", "B")]), 1)
    got2 = (spark.read.parquet(out).orderBy("valid_from")
            .select("custkey", "status", "valid_from", "valid_to",
                    "is_current")
            .toPandas().fillna({"valid_to": ""}))
    pd.testing.assert_frame_equal(got2, want, check_dtype=False,
                                  check_exact=True)


def test_stream_scd2_sidecar_migration_preserves_history(spark, tmp_path):
    """Upgrade path (r10 fix): an interval history WITHOUT a `__points`
    sidecar (any pre-sidecar deployment, or a lost sidecar) must not
    lose touched keys' history on the first post-upgrade batch. The
    sink seeds the point set from the history's change-points; the
    pre-r10 fallback rebuilt changed keys from the batch alone —
    here that would yield a single current-B row, silently dropping
    the stored A interval."""
    import os
    import shutil

    from process_nwb_spark.streaming.ops import scd2_upsert_sink

    out = str(tmp_path / "hist")
    sink = scd2_upsert_sink(out)
    mk = lambda rows: spark.createDataFrame(
        [(k, pd.Timestamp(d).date(), s) for k, d, s in rows],
        "custkey long, d date, status string")
    # build a two-interval history for key 7 and one for untouched key 8,
    # then simulate a pre-sidecar deployment by deleting the sidecar
    sink(mk([(7, "2024-01-01", "A"), (7, "2024-02-01", "B"),
             (8, "2024-01-15", "X")]), 0)
    pts_dir = out.rstrip("/") + "__points"
    assert os.path.exists(pts_dir)
    shutil.rmtree(pts_dir)

    # first post-upgrade batch touches key 7 with a later status change
    sink(mk([(7, "2024-03-01", "C")]), 1)

    got = (spark.read.parquet(out)
           .orderBy("custkey", "valid_from")
           .select("custkey", "status", "valid_from", "valid_to",
                   "is_current")
           .toPandas().fillna({"valid_to": ""}))
    want = pd.DataFrame(
        [(7, "A", "2024-01-01", "2024-02-01", 0),
         (7, "B", "2024-02-01", "2024-03-01", 0),
         (7, "C", "2024-03-01", "", 1),
         (8, "X", "2024-01-15", "", 1)],
        columns=["custkey", "status", "valid_from", "valid_to",
                 "is_current"])
    pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                  check_exact=True)
    # the sidecar was rebuilt from history ∪ batch: a later splice into
    # the migrated keys now works point-set-grade again
    assert os.path.exists(pts_dir)
    sink(mk([(7, "2024-01-20", "B")]), 2)
    got2 = (spark.read.parquet(out).filter("custkey = 7")
            .orderBy("valid_from")
            .select("status", "valid_from").toPandas())
    # 01-20 B joins the 02-01 B into one run starting at the splice
    assert list(got2.status) == ["A", "B", "C"]
    assert list(got2.valid_from) == ["2024-01-01", "2024-01-20",
                                     "2024-03-01"]


def test_stream_dedup_keeplist_orderfree_and_idempotent(spark, tmp_path):
    """The streaming keep-list sink must converge to the batch face's
    global min-doc_id keeper per fingerprint under BOTH a scrambled
    batch order and a verbatim retry — the min-fold is idempotent and
    commutative, so no ordering contract is needed at all."""
    from process_nwb_spark.relational.core import all_queries
    from process_nwb_spark.streaming.ops import dedup_keeplist_sink
    from tests.conftest import SF_CORRECT

    base = (spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
            .select("doc_id", "text"))
    # the fixture corpus has no exact-dup texts; inject copies with
    # HIGHER ids that land in a DIFFERENT (and earlier-applied) batch
    # than their originals, so the min-fold must reach across batches
    copies = (base.filter(F.col("doc_id") % 10 == 0)
              .select((F.col("doc_id") + 10_000).alias("doc_id"), "text"))
    docs = base.unionByName(copies)
    thirds = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    out = str(tmp_path / "keep")
    sink = dedup_keeplist_sink(out)
    for i in (2, 0, 1):          # scrambled order
        sink(thirds[i], i)
    sink(thirds[0], 0)           # verbatim retry

    got = (spark.read.parquet(out).toPandas()
           .sort_values("fp").reset_index(drop=True))
    fp = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    want = (docs.select(fp.alias("fp"), "doc_id")
            .groupBy("fp").agg(F.min("doc_id").alias("keep_doc_id"))
            .toPandas().sort_values("fp").reset_index(drop=True))
    assert len(got) == len(want) > 0
    pd.testing.assert_frame_equal(got[["fp", "keep_doc_id"]],
                                  want[["fp", "keep_doc_id"]],
                                  check_dtype=False, check_exact=True)
    # every injected copy collapsed onto its lower-id original
    assert len(got) < docs.count()
    assert not (got.keep_doc_id >= 10_000).any()


def test_stream_psi_drift_equals_batch_face(spark, tmp_path):
    """psi_drift_sink parity contract: after streaming the CURRENT
    period through the sink (static baseline frozen at construction),
    the psi table must be BIT-IDENTICAL to the batch face run on the
    same events — plus retry idempotence (a replayed batch overwrites
    its own counts partition) and order freedom (scrambled batch order
    converges to the same table; integer counts commute)."""
    from process_nwb_spark.relational.dataprep import _PSI_CUT
    from process_nwb_spark.streaming.ops import psi_drift_sink
    from tests.conftest import SF_CORRECT

    ev = (T(spark, SF_CORRECT, "events")
          .select("event_type", "value",
                  F.col("ts").cast("date").alias("d")))
    base = ev.filter(F.col("d") < F.lit(_PSI_CUT).cast("date"))
    cur = ev.filter(F.col("d") >= F.lit(_PSI_CUT).cast("date"))

    # three date-cut micro-batches of the current period
    cuts = ["2024-01-21", "2024-01-26"]
    preds = [F.col("d") < cuts[0],
             (F.col("d") >= cuts[0]) & (F.col("d") < cuts[1]),
             F.col("d") >= cuts[1]]
    in_dir = str(tmp_path / "psi_in")
    for p in preds:
        (cur.filter(p).select("event_type", "value")
         .coalesce(1).write.mode("append").parquet(in_dir))

    out = str(tmp_path / "psi_out")
    sdf = (spark.readStream.schema("event_type string, value double")
           .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = (sdf.writeStream.foreachBatch(psi_drift_sink(base, out))
         .option("checkpointLocation", str(tmp_path / "psi_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    def norm(df):
        return (df.toPandas()
                .sort_values("event_type").reset_index(drop=True))

    cols = ["event_type", "n_base", "n_cur", "psi"]
    got = norm(spark.read.parquet(out + "/psi"))
    want = norm(all_queries()["dq_psi_drift"].fn(spark, SF_CORRECT))
    pd.testing.assert_frame_equal(got[cols], want[cols],
                                  check_dtype=False, check_exact=True)

    # retry idempotence: re-apply the final batch verbatim
    sink = psi_drift_sink(base, out)
    sink(cur.filter(preds[2]).select("event_type", "value"), 2)
    pd.testing.assert_frame_equal(
        norm(spark.read.parquet(out + "/psi"))[cols], want[cols],
        check_dtype=False, check_exact=True)

    # order freedom: scrambled batch order into a fresh sink
    out2 = str(tmp_path / "psi_out2")
    sink2 = psi_drift_sink(base, out2)
    for i in (2, 0, 1):
        sink2(cur.filter(preds[i]).select("event_type", "value"), i)
    pd.testing.assert_frame_equal(
        norm(spark.read.parquet(out2 + "/psi"))[cols], want[cols],
        check_dtype=False, check_exact=True)

    # EMPTY FIRST BATCH (r11, was a crash): an all-empty batch writes no
    # partition under cur_counts, so the read-back must fall back to
    # cc=0 instead of failing schema inference and killing the query;
    # subsequent real batches then converge to the same table
    out3 = str(tmp_path / "psi_out3")
    sink3 = psi_drift_sink(base, out3)
    sink3(cur.filter(F.lit(False)).select("event_type", "value"), 0)
    zero = norm(spark.read.parquet(out3 + "/psi"))
    assert (zero["n_cur"] == 0).all()   # PSI folded over zero counts
    for i in (0, 1, 2):
        sink3(cur.filter(preds[i]).select("event_type", "value"), i + 1)
    pd.testing.assert_frame_equal(
        norm(spark.read.parquet(out3 + "/psi"))[cols], want[cols],
        check_dtype=False, check_exact=True)


def test_stream_lsh_candidates_equals_batch_face(spark, tmp_path):
    """lsh_candidates_sink contract: after streaming the corpus in
    micro-batches, the UNION of the batch-partitioned pairs tables is
    exactly minhash_lsh_candidates' candidate set on the full corpus —
    each pair emitted by the unique batch where its later member
    arrived. Plus retry idempotence (the probe excludes the current
    batch's own bands partition, so a verbatim retry recomputes the
    same pairs) and order freedom (scrambled batch order converges to
    the same set)."""
    from process_nwb_spark.streaming.ops import lsh_candidates_sink
    from tests.conftest import SF_CORRECT

    docs = (T(spark, SF_CORRECT, "documents")
            .select("doc_id", "text").localCheckpoint())
    cuts = [170, 340]
    preds = [F.col("doc_id") < cuts[0],
             (F.col("doc_id") >= cuts[0]) & (F.col("doc_id") < cuts[1]),
             F.col("doc_id") >= cuts[1]]
    in_dir = str(tmp_path / "lsh_in")
    for p in preds:
        docs.filter(p).coalesce(1).write.mode("append").parquet(in_dir)

    out = str(tmp_path / "lsh_out")
    sdf = (spark.readStream.schema("doc_id long, text string")
           .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = (sdf.writeStream.foreachBatch(lsh_candidates_sink(out))
         .option("checkpointLocation", str(tmp_path / "lsh_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    def norm(df):
        return (df.select("doc_a", "doc_b").distinct().toPandas()
                .sort_values(["doc_a", "doc_b"]).reset_index(drop=True))

    want = norm(all_queries()["minhash_lsh_candidates"].fn(spark,
                                                           SF_CORRECT))
    got = norm(spark.read.parquet(out + "/pairs"))
    assert len(want) > 0
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # no pair is emitted twice across batch partitions (set algebra:
    # exactly the second-arrival batch owns it)
    raw = spark.read.parquet(out + "/pairs").select("doc_a", "doc_b")
    assert raw.count() == raw.distinct().count()

    # retry idempotence: re-apply the final batch verbatim
    sink = lsh_candidates_sink(out)
    sink(docs.filter(preds[2]), 2)
    pd.testing.assert_frame_equal(norm(spark.read.parquet(out + "/pairs")),
                                  want, check_dtype=False)

    # order freedom: scrambled application into a fresh sink
    out2 = str(tmp_path / "lsh_out2")
    sink2 = lsh_candidates_sink(out2)
    for i in (1, 2, 0):
        sink2(docs.filter(preds[i]), i)
    pd.testing.assert_frame_equal(norm(spark.read.parquet(out2 + "/pairs")),
                                  want, check_dtype=False)

    # DELAYED verbatim retry (r11, was a double-emit): re-applying batch
    # 0 AFTER later batches ran, the probe now sees their bands and
    # would re-emit cross pairs those batches already own — the
    # anti-join against other partitions' pairs must keep every pair in
    # exactly ONE partition and the union unchanged
    for victim in (0, 1):
        sink2(docs.filter(preds[victim]), victim)
        raw2 = spark.read.parquet(out2 + "/pairs").select("doc_a", "doc_b")
        assert raw2.count() == raw2.distinct().count(), (
            f"delayed retry of batch {victim} double-emitted pairs")
        pd.testing.assert_frame_equal(
            norm(spark.read.parquet(out2 + "/pairs")), want,
            check_dtype=False)


def test_stream_epoch_pack_equals_batch_face(spark, tmp_path):
    """epoch_pack_sink contract: consuming mix_epoch_shuffle's order as
    contiguous position-range micro-batches (the `WHERE position >
    checkpoint` resume story) and packing incrementally with carry
    state must reproduce mix_pack_epoch_stream's global pack ids
    BIT-IDENTICALLY — plus retry idempotence (immediate AND delayed:
    state folds only from snapshots with batch_id < own), and the
    high-water-mark contract (a NEW batch at-or-below an epoch's
    watermark raises instead of silently mis-packing)."""
    import pytest

    from process_nwb_spark.relational.dataprep import _PACK_CAPACITY
    from process_nwb_spark.streaming.ops import epoch_pack_sink
    from tests.conftest import SF_CORRECT

    want_df = all_queries()["mix_pack_epoch_stream"].fn(spark, SF_CORRECT)
    stream_in = (want_df.select("epoch", "position", "doc_id", "n_tokens")
                 .localCheckpoint())

    n_pos = stream_in.agg(F.max("position")).first()[0]
    cuts = [n_pos // 4, n_pos // 2, (3 * n_pos) // 4]
    bounds = [0, *cuts, n_pos]
    segs = [stream_in.filter((F.col("position") > lo)
                             & (F.col("position") <= hi))
            for lo, hi in zip(bounds[:-1], bounds[1:])]

    in_dir = str(tmp_path / "pack_in")
    for s in segs:
        s.coalesce(1).write.mode("append").parquet(in_dir)
    out = str(tmp_path / "pack_out")
    sdf = (spark.readStream
           .schema("epoch long, position long, doc_id long, n_tokens long")
           .option("maxFilesPerTrigger", 1)
           .option("latestFirst", "false").parquet(in_dir))
    q = (sdf.writeStream
         .foreachBatch(epoch_pack_sink(out, _PACK_CAPACITY))
         .option("checkpointLocation", str(tmp_path / "pack_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    def norm(df):
        return (df.select("epoch", "position", "doc_id", "n_tokens",
                          "pack_id").toPandas()
                .sort_values(["epoch", "position"]).reset_index(drop=True))

    want = norm(want_df)
    assert want["pack_id"].max() > 0   # capacity actually splits packs
    got = norm(spark.read.parquet(out + "/packs"))
    pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                  check_exact=True)

    # retry idempotence — immediate (last batch) and DELAYED (batch 0
    # re-applied after all later batches): state reads only snapshots
    # with batch_id < own, so both replay bit-identically
    sink = epoch_pack_sink(out, _PACK_CAPACITY)
    for victim in (len(segs) - 1, 0, 1):
        sink(segs[victim], victim)
        pd.testing.assert_frame_equal(
            norm(spark.read.parquet(out + "/packs")), want,
            check_dtype=False, check_exact=True)

    # contract: a NEW batch (fresh id) at-or-below the high-water mark
    # must raise, not silently double-pack
    with pytest.raises(ValueError, match="high-water mark"):
        sink(segs[0], len(segs) + 7)


def test_stream_contamination_equals_batch_face(spark, tmp_path):
    """contamination_sink contract: after streaming the TRAIN split in
    micro-batches, <out>/contamination is bit-identical to the batch
    face split_contamination on the full corpus; matched pairs live in
    exactly one batch partition (raw == distinct); verbatim retries —
    immediate and DELAYED — and scrambled batch order all converge to
    the same tables; and the before-any-match report is all-zero, not
    a crash (the empty-partition read-back guard)."""
    from process_nwb_spark.relational.dataprep import _with_split
    from process_nwb_spark.streaming.ops import contamination_sink
    from tests.conftest import SF_CORRECT

    docs = (_with_split(T(spark, SF_CORRECT, "documents"))
            .select("doc_id", "text", "split").localCheckpoint())
    test_docs = docs.filter(F.col("split") == "test")
    train = docs.filter(F.col("split") == "train")
    cuts = train.approxQuantile("doc_id", [0.33, 0.66], 0.0)
    preds = [F.col("doc_id") < cuts[0],
             (F.col("doc_id") >= cuts[0]) & (F.col("doc_id") < cuts[1]),
             F.col("doc_id") >= cuts[1]]

    in_dir = str(tmp_path / "cont_in")
    for p in preds:
        (train.filter(p).select("doc_id", "text")
         .coalesce(1).write.mode("append").parquet(in_dir))

    out = str(tmp_path / "cont_out")
    sdf = (spark.readStream.schema("doc_id long, text string")
           .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = (sdf.writeStream.foreachBatch(contamination_sink(test_docs, out))
         .option("checkpointLocation", str(tmp_path / "cont_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    def norm(df):
        return (df.select("doc_id", "n_shingles", "n_shared",
                          "contamination").toPandas()
                .sort_values("doc_id").reset_index(drop=True))

    want_df = all_queries()["split_contamination"].fn(spark, SF_CORRECT)
    want = norm(want_df)
    assert want["n_shared"].sum() > 0   # the audit actually fires
    got = norm(spark.read.parquet(out + "/contamination"))
    pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                  check_exact=True)
    raw = spark.read.parquet(out + "/matched").select("doc_id", "sh")
    assert raw.count() == raw.distinct().count()

    # retry idempotence: immediate (last batch) and DELAYED (batch 0
    # after all later batches) — partitions stay disjoint, report fixed
    sink = contamination_sink(test_docs, out)
    for victim in (2, 0):
        sink(train.filter(preds[victim]).select("doc_id", "text"), victim)
        raw = spark.read.parquet(out + "/matched").select("doc_id", "sh")
        assert raw.count() == raw.distinct().count(), (
            f"retry of batch {victim} double-emitted matched pairs")
        pd.testing.assert_frame_equal(
            norm(spark.read.parquet(out + "/contamination")), want,
            check_dtype=False, check_exact=True)

    # order freedom + empty-first-batch guard: a fresh sink fed an
    # EMPTY batch first must report all zeros (not crash), then the
    # scrambled order converges to the same tables
    out2 = str(tmp_path / "cont_out2")
    sink2 = contamination_sink(test_docs, out2)
    sink2(train.filter(F.lit(False)).select("doc_id", "text"), 0)
    zero = norm(spark.read.parquet(out2 + "/contamination"))
    assert (zero["n_shared"] == 0).all()
    assert (zero["contamination"] == 0.0).all()
    for i in (2, 1, 0):
        sink2(train.filter(preds[i]).select("doc_id", "text"), i + 1)
    pd.testing.assert_frame_equal(
        norm(spark.read.parquet(out2 + "/contamination")), want,
        check_dtype=False, check_exact=True)


def test_stream_doremi_weights_equals_batch_face(spark, tmp_path):
    """doremi_weights_sink parity contract: after streaming the corpus
    through the sink, the weights table must be BIT-IDENTICAL to
    mix_doremi_weights run on the same documents — the twin shares
    doremi_domain_counts + doremi_fold verbatim, and this pin is what
    makes that sharing a contract. Plus retry idempotence (a replayed
    batch overwrites its own counts partition), order freedom (integer
    count sums commute), and the empty-first-batch guard."""
    from process_nwb_spark.streaming.ops import doremi_weights_sink
    from tests.conftest import SF_CORRECT

    docs = T(spark, SF_CORRECT, "documents").select(
        "doc_id", "source", "text")
    preds = [F.col("doc_id") % 3 == i for i in range(3)]

    in_dir = str(tmp_path / "dw_in")
    for p in preds:
        docs.filter(p).coalesce(1).write.mode("append").parquet(in_dir)

    out = str(tmp_path / "dw_out")
    sdf = (spark.readStream
           .schema("doc_id bigint, source string, text string")
           .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = (sdf.writeStream.foreachBatch(doremi_weights_sink(out))
         .option("checkpointLocation", str(tmp_path / "dw_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    def norm(df):
        return df.toPandas().sort_values("source").reset_index(drop=True)

    cols = ["source", "n_docs", "n_tokens", "token_share",
            "excess_loss", "doremi_weight"]
    got = norm(spark.read.parquet(out + "/weights"))
    want = norm(all_queries()["mix_doremi_weights"].fn(spark, SF_CORRECT))
    pd.testing.assert_frame_equal(got[cols], want[cols],
                                  check_dtype=False, check_exact=True)

    # retry idempotence: re-apply a middle batch verbatim
    sink = doremi_weights_sink(out)
    sink(docs.filter(preds[1]), 1)
    pd.testing.assert_frame_equal(
        norm(spark.read.parquet(out + "/weights"))[cols], want[cols],
        check_dtype=False, check_exact=True)

    # order freedom + empty first batch into a fresh sink
    out2 = str(tmp_path / "dw_out2")
    sink2 = doremi_weights_sink(out2)
    sink2(docs.filter(F.lit(False)), 0)   # all-empty: no weights yet
    import os
    assert not os.path.exists(out2 + "/weights")
    for i in (2, 0, 1):
        sink2(docs.filter(preds[i]), i + 1)
    pd.testing.assert_frame_equal(
        norm(spark.read.parquet(out2 + "/weights"))[cols], want[cols],
        check_dtype=False, check_exact=True)

    # mid-stream state is itself the batch face of the streamed prefix:
    # after only batches {2, 0}, weights == batch face on those docs
    out3 = str(tmp_path / "dw_out3")
    sink3 = doremi_weights_sink(out3)
    sink3(docs.filter(preds[2]), 0)
    sink3(docs.filter(preds[0]), 1)
    from process_nwb_spark.relational.dataprep import (
        doremi_domain_counts, doremi_fold)
    part = doremi_fold(doremi_domain_counts(
        docs.filter(preds[2] | preds[0])).cache())
    pd.testing.assert_frame_equal(
        norm(spark.read.parquet(out3 + "/weights"))[cols],
        norm(part)[cols], check_dtype=False, check_exact=True)


def test_stream_survival_curve_equals_batch_face(spark, tmp_path):
    """survival_curve_sink parity: after streaming the corpus, the
    curve table must be BIT-IDENTICAL to quality_survival_curve on the
    same documents (shared survival_bucket_rollup + survival_fold),
    including under a verbatim retry and scrambled order."""
    from process_nwb_spark.streaming.ops import survival_curve_sink
    from tests.conftest import SF_CORRECT

    docs = T(spark, SF_CORRECT, "documents").select("doc_id", "text")
    preds = [F.col("doc_id") % 3 == i for i in range(3)]

    in_dir = str(tmp_path / "sc_in")
    for p in preds:
        docs.filter(p).coalesce(1).write.mode("append").parquet(in_dir)

    out = str(tmp_path / "sc_out")
    sdf = (spark.readStream.schema("doc_id bigint, text string")
           .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = (sdf.writeStream.foreachBatch(survival_curve_sink(out))
         .option("checkpointLocation", str(tmp_path / "sc_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    def norm(df):
        return (df.toPandas().sort_values("threshold")
                .reset_index(drop=True))

    cols = ["threshold", "n_docs_kept", "n_tokens_kept", "token_survival"]
    got = norm(spark.read.parquet(out + "/curve"))
    want = norm(all_queries()["quality_survival_curve"]
                .fn(spark, SF_CORRECT))
    pd.testing.assert_frame_equal(got[cols], want[cols],
                                  check_dtype=False, check_exact=True)

    # verbatim retry then scrambled order into a fresh sink
    sink = survival_curve_sink(out)
    sink(docs.filter(preds[0]), 0)
    pd.testing.assert_frame_equal(
        norm(spark.read.parquet(out + "/curve"))[cols], want[cols],
        check_dtype=False, check_exact=True)
    out2 = str(tmp_path / "sc_out2")
    sink2 = survival_curve_sink(out2)
    for i in (1, 2, 0):
        sink2(docs.filter(preds[i]), i)
    pd.testing.assert_frame_equal(
        norm(spark.read.parquet(out2 + "/curve"))[cols], want[cols],
        check_dtype=False, check_exact=True)


def test_stream_cluster_stats_equals_batch_face(spark, tmp_path):
    """cluster_stats_sink parity: the histogram after streaming a
    corpus WITH duplicates that straddle batch boundaries must be
    bit-identical to dedup_cluster_stats on the same docs — the
    cross-batch fingerprint SUM is the whole point (a per-batch
    histogram would undercount straddling clusters). Plus retry and
    scrambled order."""
    from process_nwb_spark.streaming.ops import cluster_stats_sink
    from tests.conftest import SF_CORRECT

    base = (spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
            .select("doc_id", "text"))
    # inject copies of doc 0 (x2) and doc 1 (x1) with HIGH ids so the
    # %3 batch split separates originals from copies
    copies = (base.filter(F.col("doc_id") == 0)
              .select((F.col("doc_id") + 10_000).alias("doc_id"), "text")
              .unionAll(base.filter(F.col("doc_id") == 0)
                        .select((F.col("doc_id") + 10_001).alias("doc_id"),
                                "text"))
              .unionAll(base.filter(F.col("doc_id") == 1)
                        .select((F.col("doc_id") + 10_002).alias("doc_id"),
                                "text")))
    docs = base.unionAll(copies).localCheckpoint()
    d = str(tmp_path / "cs_corpus")
    docs.write.parquet(f"{d}/documents.parquet")
    want = (all_queries()["dedup_cluster_stats"].fn(spark, d)
            .toPandas().sort_values("cluster_size")
            .reset_index(drop=True))
    assert set(want.cluster_size) == {1, 2, 3}   # straddling clusters real

    preds = [F.col("doc_id") % 3 == i for i in range(3)]
    cols = ["cluster_size", "n_clusters", "n_docs", "n_redundant",
            "doc_share"]

    def norm(df):
        return (df.toPandas().sort_values("cluster_size")
                .reset_index(drop=True))

    out = str(tmp_path / "cs_out")
    sink = cluster_stats_sink(out)
    for i in (1, 2, 0):                      # scrambled order
        sink(docs.filter(preds[i]), i)
        if i == 2:
            sink(docs.filter(preds[i]), i)   # verbatim retry mid-stream
    got = norm(spark.read.parquet(out + "/stats"))
    pd.testing.assert_frame_equal(got[cols], want[cols],
                                  check_dtype=False, check_exact=True)
