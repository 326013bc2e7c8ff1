"""Sources/sinks: signal catalog round-trips with partition pruning,
lineage drop (copy_strip analog), NWB boundary gating."""
import numpy as np
import pytest
from pyspark.sql import functions as F

from process_nwb_spark import preprocess
from process_nwb_spark.plans.inspect import formatted_plan
from process_nwb_spark.sources.catalog import (SignalCatalog,
                                               save_preprocess_result)
from process_nwb_spark.sources.nwb import (HAVE_PYNWB, read_nwb_series,
                                           series_to_long)
from process_nwb_spark.synth import generate_synthetic_data, to_long_df


@pytest.fixture(scope="module")
def catalog(spark, tmp_path_factory):
    return SignalCatalog(spark, str(tmp_path_factory.mktemp("catalog")))


@pytest.fixture(scope="module")
def signals(spark):
    X = generate_synthetic_data(1.0, 4, 1000.0, seed=0)
    return to_long_df(spark, X)


def test_partitioned_roundtrip(spark, catalog, signals):
    catalog.write(signals, "raw_ECoG")
    back = catalog.read("raw_ECoG")
    assert back.count() == signals.count()
    # schema preserved up to partition-column ordering/typing
    assert set(back.columns) == set(signals.columns)


def test_partition_pruning(spark, catalog, signals):
    catalog.write(signals, "raw_pruned")
    one = catalog.read("raw_pruned").filter(F.col("channel") == 2)
    plan = formatted_plan(one)
    # channel is a partition column: the filter must prune directories,
    # not scan-and-filter
    assert "PartitionFilters" in plan and "channel" in plan.split(
        "PartitionFilters", 1)[1].split("]", 1)[0]
    assert one.count() == signals.filter("channel = 2").count()


def test_lineage_save_and_strip(spark, catalog, signals):
    res = preprocess(signals, 1000.0, 500.0, 250.0)
    written = save_preprocess_result(catalog, res, base_name="T1")
    assert any(k.startswith("CAR_ln_downsampled") for k in written)
    assert any(k.startswith("wvlt_amp") for k in written)
    # derived tables dropped, raw kept (scripts/copy_strip semantics)
    dropped = catalog.drop_derived()
    assert set(dropped) == set(written)
    assert "raw_ECoG" in catalog.tables()


def test_tf_table_partitioned_by_band(spark, catalog, signals):
    res = preprocess(signals, 1000.0, 500.0, 250.0)
    save_preprocess_result(catalog, res, base_name="T2")
    tf = catalog.read("wvlt_amp_T2")
    one_band = tf.filter(F.col("band") == 0)
    assert "PartitionFilters" in formatted_plan(one_band)
    assert one_band.select("band").distinct().count() == 1
    catalog.drop_derived()


def test_nwb_gated(spark):
    if not HAVE_PYNWB:
        with pytest.raises(NotImplementedError):
            read_nwb_series(spark, "/nonexistent.nwb")


def test_series_to_long_event_time(spark):
    X = np.ones((10, 2))
    df = series_to_long(spark, X, "s1", rate=100.0, starting_time=5.0)
    row = df.filter("sample_idx = 3 and channel = 0").first()
    assert abs(row["t"] - 5.03) < 1e-9


def test_bucketed_join_no_shuffle(spark, catalog):
    """Bucketed-by-key tables join without any Exchange: the co-located
    join strategy for repeatedly-joined big facts."""
    from process_nwb_spark.plans.inspect import count_exchanges
    from process_nwb_spark.relational.core import T

    SFD = "/root/testdata/sf0.001"
    catalog.write_bucketed(
        T(spark, SFD, "orders").select("o_orderkey", "o_orderpriority"),
        "b_orders", "o_orderkey")
    catalog.write_bucketed(
        T(spark, SFD, "lineitem").select("l_orderkey", "l_quantity"),
        "b_lineitem", "l_orderkey")
    j = (spark.table("b_lineitem")
         .join(spark.table("b_orders"),
               F.col("l_orderkey") == F.col("o_orderkey")))
    assert count_exchanges(j) == 0
    assert j.count() > 0
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_scratch_faces_built_concurrently_read_their_own_files(spark):
    """Scratch-writing faces write at build time and return a DataFrame
    that reads the files back lazily. Two threads each build two such
    faces before either runs an action; each call writes to its own
    directory (and the bucketed face to its own tables), so every result
    is still correct."""
    import os
    import threading

    from conftest import SF_SMOKE as SFD
    from process_nwb_spark.relational.core import all_queries, scratch_dir

    reg = all_queries()
    faces = ("source_csv_roundtrip", "join_bucketed_colocated")
    want = {f: sorted(reg[f].fn(spark, SFD).collect()) for f in faces}
    barrier = threading.Barrier(2, timeout=300)
    got: dict[int, dict] = {}
    errors: list[Exception] = []

    def run(tid: int) -> None:
        try:
            dfs = {f: reg[f].fn(spark, SFD) for f in faces}
            barrier.wait()      # both threads have written; now read back
            got[tid] = {f: sorted(df.collect()) for f, df in dfs.items()}
        except Exception as e:       # surfaced by the asserts below
            errors.append(e)
            barrier.abort()

    threads = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
        assert not t.is_alive()
    assert not errors, errors
    assert got[0] == got[1] == want
    a, b = scratch_dir("probe"), scratch_dir("probe")
    assert a != b and os.path.isdir(a) and os.path.isdir(b)


# ---------------------------------------------------------------------------
# Custom Python DataSource (ecog_synth)
# ---------------------------------------------------------------------------
def _register_ecog(spark):
    from process_nwb_spark.sources.ecog_datasource import EcogSynthDataSource
    spark.dataSource.register(EcogSynthDataSource)


def test_ecog_datasource_batch_matches_synth(spark):
    """spark.read.format('ecog_synth') == to_long_df(generate_synthetic_data):
    the custom source is a partitioned, seed-exact acquisition reader."""
    import numpy as np
    from process_nwb_spark.synth import generate_synthetic_data, to_long_df

    _register_ecog(spark)
    df = (spark.read.format("ecog_synth").option("duration", 1.0)
          .option("nchannels", 4).option("rate", 500.0).option("seed", 3)
          .load())
    assert df.rdd.getNumPartitions() == 4  # one task per channel
    got = df.toPandas().sort_values(["channel", "sample_idx"])
    X = generate_synthetic_data(1.0, 4, 500.0, seed=3)
    want = (to_long_df(spark, X).toPandas()
            .sort_values(["channel", "sample_idx"]))
    assert len(got) == len(want) == 2000
    np.testing.assert_allclose(got.value.to_numpy(), want.value.to_numpy(),
                               rtol=1e-12)


def test_ecog_datasource_filter_prunes_partitions(spark):
    """EqualTo/In pushdown on `channel` prunes source partitions at plan
    time — the custom-source analog of parquet partition pruning."""
    _register_ecog(spark)
    df = (spark.read.format("ecog_synth").option("duration", 1.0)
          .option("nchannels", 4).option("rate", 500.0).load())
    one = df.filter(df.channel == 2)
    assert one.rdd.getNumPartitions() == 1
    assert one.count() == 500
    two = df.filter(df.channel.isin(1, 3))
    assert two.rdd.getNumPartitions() == 2
    assert two.count() == 1000


def test_ecog_datasource_stream_replay(spark):
    """Streaming face: micro-batch replay by sample-block offset, exact vs
    the dense generator across all batches."""
    import time

    import numpy as np
    from process_nwb_spark.synth import generate_synthetic_data

    _register_ecog(spark)
    sdf = (spark.readStream.format("ecog_synth").option("duration", 1.0)
           .option("nchannels", 2).option("rate", 500.0)
           .option("block_len", 200).load())
    q = (sdf.writeStream.format("memory").queryName("ecog_stream_t")
         .outputMode("append").start())
    deadline = time.time() + 120
    while time.time() < deadline and spark.table("ecog_stream_t").count() < 1000:
        time.sleep(1)
    q.stop()
    tab = (spark.table("ecog_stream_t").toPandas()
           .sort_values(["channel", "sample_idx"]))
    assert len(tab) == 1000
    X = generate_synthetic_data(1.0, 2, 500.0, seed=0)
    want = np.concatenate([X[:, 0], X[:, 1]])
    np.testing.assert_allclose(tab.value.to_numpy(), want, rtol=1e-12)


def test_binary_assets_ingest_and_features(spark, tmp_path):
    """binaryFile ingest: glob pruning at listing time, modality from
    extension, payload bytes identical to the files on disk, and the
    multimodal feature kernel runs unchanged on the adapted frame."""
    import numpy as np
    from process_nwb_spark.sources.binary_assets import (
        assets_to_multimodal, read_binary_assets)
    from process_nwb_spark.llm.multimodal import extract_image_features

    blobs = {"a.png": b"\x89PNG-fake-bytes-0", "b.jpg": b"\xff\xd8jpeg!",
             "c.wav": b"RIFFfake", "d.bin": b"\x00\x01\x02"}
    for name, data in blobs.items():
        (tmp_path / name).write_bytes(data)

    assets = read_binary_assets(spark, str(tmp_path)).toPandas()
    assert len(assets) == 4
    got = {row["path"].rsplit("/", 1)[-1]: row for _, row in assets.iterrows()}
    assert bytes(got["a.png"]["payload"]) == blobs["a.png"]
    assert got["a.png"]["modality"] == "image"
    assert got["b.jpg"]["modality"] == "image"
    assert got["c.wav"]["modality"] == "audio"
    assert got["d.bin"]["modality"] == "binary"
    assert int(got["c.wav"]["length"]) == len(blobs["c.wav"])
    assert assets["asset_id"].nunique() == 4

    # listing-time glob prune: only *.png survives
    only_png = read_binary_assets(spark, str(tmp_path), glob="*.png")
    assert only_png.count() == 1

    # kernels accept the adapted schema; features deterministic in payload
    mm = assets_to_multimodal(
        read_binary_assets(spark, str(tmp_path), glob="*.{png,jpg}"))
    feats = extract_image_features(mm).toPandas()
    assert len(feats) == 2
    assert all(len(f) == 16 for f in feats["features"])
    again = extract_image_features(mm).toPandas()
    for a, b in zip(feats.sort_values("doc_id")["features"],
                    again.sort_values("doc_id")["features"]):
        np.testing.assert_array_equal(np.asarray(a), np.asarray(b))
