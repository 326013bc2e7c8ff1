"""CLI parity: scripts/preprocess_folder.py + scripts/copy_strip.py — the
engine analogs of the reference's two shipped scripts
(/root/reference/scripts/preprocess_folder, /root/reference/scripts/copy_strip)."""
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))

from process_nwb_spark.sources.catalog import SignalCatalog
from process_nwb_spark.synth import generate_synthetic_data, to_long_df

import copy_strip
import preprocess_folder
from conftest import SF_SMOKE


@pytest.fixture()
def catalog_root(spark, tmp_path):
    root = str(tmp_path / "cat")
    cat = SignalCatalog(spark, root)
    for name, seed in (("ECoG_a", 0), ("ECoG_b", 1)):
        X = generate_synthetic_data(1.0, 4, 1000.0, seed=seed)
        cat.write(to_long_df(spark, X, name), name)
    return root


def test_preprocess_folder_one_job_all_series(spark, catalog_root):
    written = preprocess_folder.main(
        [catalog_root, "--rate", "1000", "--initial_resample_rate", "500",
         "--final_resample_rate", "250"], spark=spark)
    assert list(written) == ["wvlt_amp_ECoG"]          # hg-only default
    cat = SignalCatalog(spark, catalog_root)
    tf = cat.read("wvlt_amp_ECoG")
    sids = {r["series_id"] for r in tf.select("series_id").distinct().collect()}
    # series ids are namespaced "<table>:<inner id>" so two tables that
    # share the default landing series_id stay distinct recordings
    assert sids == {"ECoG_a:ECoG_a", "ECoG_b:ECoG_b"}
    n_bands = tf.select("band").distinct().count()
    assert n_bands == 6                                # rat / hg_only
    # 2 series x 4 ch x 6 bands x 250 samples
    assert tf.count() == 2 * 4 * 6 * 250


def test_preprocess_folder_segmented(spark, catalog_root):
    """--seg_len routes through the bounded-memory segmented plan; output
    shape matches the whole-channel run and --all_steps is refused."""
    written = preprocess_folder.main(
        [catalog_root, "--rate", "1000", "--initial_resample_rate", "500",
         "--final_resample_rate", "250", "--seg_len", "256"], spark=spark)
    assert "wvlt_amp_ECoG" in written
    cat = SignalCatalog(spark, catalog_root)
    tf = cat.read("wvlt_amp_ECoG")
    assert tf.count() == 2 * 4 * 6 * 250
    with pytest.raises(SystemExit, match="seg_len"):
        preprocess_folder.main(
            [catalog_root, "--rate", "1000", "--seg_len", "256",
             "--all_steps"], spark=spark)


def test_preprocess_folder_all_steps_and_guards(spark, catalog_root):
    written = preprocess_folder.main(
        [catalog_root, "--rate", "1000", "--initial_resample_rate", "500",
         "--final_resample_rate", "250", "--all_steps"], spark=spark)
    # all_steps stores EVERY intermediate (the reference's
    # store-everything mode), including the resampled series
    assert set(written) == {"wvlt_amp_ECoG", "CAR_ln_downsampled_ECoG",
                            "downsampled_ECoG"}
    with pytest.raises(SystemExit):
        preprocess_folder.main(
            [os.path.join(catalog_root, "ECoG_a") + "/x.parquet",
             "--rate", "1000"], spark=spark)
    with pytest.raises(SystemExit):                    # no raw tables
        preprocess_folder.main(
            [catalog_root, "--rate", "1000", "--acq_name", "Nope"],
            spark=spark)


def test_copy_strip_in_place_and_to_dst(spark, catalog_root, tmp_path):
    preprocess_folder.main(
        [catalog_root, "--rate", "1000", "--initial_resample_rate", "500",
         "--final_resample_rate", "250"], spark=spark)
    cat = SignalCatalog(spark, catalog_root)
    assert "wvlt_amp_ECoG" in cat.tables()

    dst = str(tmp_path / "stripped_copy")
    copied = copy_strip.main([catalog_root, dst])
    assert sorted(copied) == ["ECoG_a", "ECoG_b"]
    assert sorted(os.listdir(dst)) == ["ECoG_a", "ECoG_b"]
    assert "wvlt_amp_ECoG" in cat.tables()             # src untouched

    dropped = copy_strip.main([catalog_root])
    assert dropped == ["wvlt_amp_ECoG"]
    assert cat.tables() == ["ECoG_a", "ECoG_b"]


def test_copy_strip_handles_bucketed_form(tmp_path):
    """_bucketed_<lineage> directories (write_bucketed's storage form) are
    derived and must be stripped / excluded from a raw-only copy; a
    bucketed RAW table stays raw (pure-filesystem test, no Spark)."""
    src = tmp_path / "cat2"
    for d in ("ECoG_raw", "_bucketed_ECoG_raw",
              "wvlt_amp_ECoG", "_bucketed_wvlt_amp_ECoG"):
        (src / d).mkdir(parents=True)
        (src / d / "part-0.parquet").write_bytes(b"x")

    dst = tmp_path / "rawcopy"
    copied = copy_strip.main([str(src), str(dst)])
    assert sorted(copied) == ["ECoG_raw", "_bucketed_ECoG_raw"]
    assert sorted(os.listdir(dst)) == ["ECoG_raw", "_bucketed_ECoG_raw"]

    dropped = copy_strip.main([str(src)])
    assert sorted(dropped) == ["_bucketed_wvlt_amp_ECoG", "wvlt_amp_ECoG"]
    assert sorted(os.listdir(src)) == ["ECoG_raw", "_bucketed_ECoG_raw"]


def _run_script(args, **env):
    """Run a script in its own interpreter and JVM, as from a shell."""
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g",
               SPARK_GRAFT_BENCH_DRIVER_MEM="1g",
               SPARK_GRAFT_SF_DIR=SF_SMOKE, **env)
    r = subprocess.run([sys.executable, *args], cwd=repo, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-2000:]
    return r.stdout


def test_time_faces_prints_median_min_all():
    import json

    out = _run_script(["scripts/time_faces.py", "agg_pricing_summary"],
                      SPARK_GRAFT_BENCH_RUNS="2")
    rec = json.loads(out.strip().splitlines()[-1])
    assert list(rec) == ["agg_pricing_summary"]
    t = rec["agg_pricing_summary"]
    assert set(t) == {"median", "min", "all"}
    assert len(t["all"]) == 2 and t["min"] == min(t["all"]) > 0


def test_audit_plans_writes_plan_node_counts(tmp_path):
    import json

    from process_nwb_spark.plans.inspect import PLAN_NODES

    _run_script(["scripts/audit_plans.py", str(tmp_path / "audit"),
                 "agg_pricing_summary", "join_inner_broadcast"])
    with open(tmp_path / "audit" / "AUDIT.json") as f:
        faces = json.load(f)["faces"]
    assert set(faces) == {"agg_pricing_summary", "join_inner_broadcast"}
    for counts in faces.values():
        assert set(counts) == set(PLAN_NODES) | {"global_window"}
    assert faces["agg_pricing_summary"]["exchange"] >= 1
    assert faces["join_inner_broadcast"]["bhj"] >= 1
