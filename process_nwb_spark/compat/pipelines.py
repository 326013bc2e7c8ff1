"""Reference-compatible `process_nwb.pipelines` module surface.

Parity: /root/reference/src/process_nwb/pipelines.py:15-111
(preprocess_block) and :114-173 (fused notch+CAR store) — both take NWB
files/objects, so both are env-gated here with the Spark-native dataflow
spelled out.
"""
from __future__ import annotations

import numpy as np

from ._gate import require_pynwb


def preprocess_block(nwb_path, acq_name="ECoG", initial_resample_rate=3200.,
                     final_resample_rate=400., filters="rat", hg_only=True,
                     all_steps=False, logger=None):
    """The reference's default per-file pipeline (pipelines.py:15-111) —
    env-gated: it reads/writes NWB HDF5 in place. The engine's form of the
    same dataflow is pipelines.preprocess (one recording) /
    pipelines.preprocess_many + scripts/preprocess_folder.py (a whole
    folder as ONE Spark job), with `all_steps` as
    PreprocessResult.stages + SignalCatalog lineage writes."""
    require_pynwb(
        "preprocess_block",
        "pipelines.preprocess(to_long_df(spark, X), rate, "
        "initial_resample_rate, final_resample_rate, filters=..., "
        "hg_only=...) — or scripts/preprocess_folder.py over a parquet "
        "landing of the recordings")


def store_linenoise_notch_CAR(elec_series, processing, mean_frac=.95,
                              round_func=np.ceil, precision="single"):
    """Fused notch+CAR store (pipelines.py:114-173) — env-gated; the
    engine's fused form is operators.kernel_ops.car_wavelet_arrow one
    stage later (and fused_ops_arrow for resample+notch)."""
    require_pynwb(
        "store_linenoise_notch_CAR",
        "operators.kernel_ops.fused_ops_arrow(notch) + operators.car."
        "subtract_car_packed, persisted via sources.catalog.SignalCatalog "
        "under the 'CAR_ln_' lineage name")
