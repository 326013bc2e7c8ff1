#!/usr/bin/env python
"""Preprocess every raw recording in a signal-catalog folder — the engine's
analog of the reference CLI (/root/reference/scripts/preprocess_folder:1-54),
re-expressed for the Spark data model: instead of a serial Python loop over
.nwb files, all recordings are unioned into ONE Spark job (series_id is
just another group key), so every stage parallelizes across
series x channels — see pipelines.preprocess_many.

Input layout: a SignalCatalog root — one parquet directory per raw
recording, long layout (series_id, channel, sample_idx, value). NWB/HDF5
ingestion is environment-gated (sources/nwb.py documents the parquet
landing workaround); unlike NWB files, parquet tables carry no sampling
rate attribute, so --rate is an explicit argument here.

Performs the reference's steps:
  1) resample to --initial_resample_rate,
  2) remove 60 Hz noise and subtract the CAR, and
  3) wavelet-decompose (amplitudes resampled to --final_resample_rate),
storing the result under the reference's lineage names (wvlt_amp_<name>,
plus every intermediate with --all_steps).
"""
import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        description=__doc__,
        formatter_class=argparse.ArgumentDefaultsHelpFormatter)
    p.add_argument("folder", type=str,
                   help="SignalCatalog root containing raw recording tables")
    p.add_argument("--rate", type=float, required=True,
                   help="Sampling rate (Hz) of the raw recordings (NWB "
                        "carries this as metadata; parquet landing does not)")
    p.add_argument("--initial_resample_rate", type=float, default=3200.,
                   help="Frequency to resample to before the wavelet "
                        "transform.")
    p.add_argument("--final_resample_rate", type=float, default=400.,
                   help="Frequency to resample wavelet amplitudes to.")
    p.add_argument("--filters", type=str, default="rat",
                   choices=["rat", "human", "changlab"],
                   help="Filter bank for the wavelets.")
    p.add_argument("--all_filters", action="store_true",
                   help="Store all filters rather than only high gamma.")
    p.add_argument("--all_steps", action="store_true",
                   help="Store output from all preprocessing steps.")
    p.add_argument("--acq_name", type=str, default="ECoG",
                   help="Raw table name prefix to treat as acquisitions "
                        "(lineage-derived tables are always skipped).")
    p.add_argument("--seg_len", type=int, default=None,
                   help="Route the pipeline through the bounded-memory "
                        "segmented operators with this segment length "
                        "(samples at the raw rate; snapped up to the "
                        "rate-ratio denominator). Use when a single "
                        "channel's samples exceed one executor task's "
                        "memory budget — see SCALE.md 'Memory bound'. "
                        "Incompatible with --all_steps: the segmented plan "
                        "has no 'downsampled' stage.")
    return p


def main(argv=None, spark=None) -> dict:
    from process_nwb_spark.sources.catalog import (LINEAGE_PREFIXES,
                                                   SignalCatalog,
                                                   save_preprocess_result)

    args = build_parser().parse_args(argv)
    if args.folder.endswith(".parquet"):
        raise SystemExit("Please specify the catalog FOLDER containing the "
                         "recording tables, not a table itself")

    owns_spark = spark is None
    if owns_spark:
        from process_nwb_spark.session import get_spark
        spark = get_spark("preprocess_folder")

    cat = SignalCatalog(spark, args.folder)
    raw = [t for t in cat.tables()
           if t.startswith(args.acq_name)
           and not t.startswith(LINEAGE_PREFIXES)]
    if not raw:
        raise SystemExit("No raw recording tables in folder "
                         "or invalid folder path")

    # ONE job over every recording — not a loop (preprocess_folder:45-54
    # loops; here series_id is a group key and the cluster does the loop).
    # Series ids are NAMESPACED per table ("<table>:<series_id>", or just
    # "<table>" when the table carries no series_id column): a raw table
    # may itself multiplex several recordings, and the dict form of
    # preprocess_many would overwrite them all with the table name —
    # collapsing distinct recordings into one interleaved signal. Two
    # single-series tables may also share the same inner series_id (the
    # default landing name), so the table prefix is what keeps them apart.
    from dataclasses import replace

    from pyspark.sql import functions as F

    from process_nwb_spark.pipelines import preprocess

    print(f"Processing {len(raw)} recording table(s) in one job: {raw}")
    parts = []
    for t in raw:
        df = cat.read(t)
        sid = (F.concat(F.lit(t), F.lit(":"), F.col("series_id"))
               if "series_id" in df.columns else F.lit(t))
        parts.append(df.withColumn("series_id", sid))
    merged = parts[0]
    for pdf_ in parts[1:]:
        merged = merged.unionByName(pdf_)
    # --all_steps mirrors the reference's store-everything mode
    # (pipelines.py:69-80 stores the resampled series too): every lineage
    # stage of the whole-channel plan is written, 'downsampled' included.
    # Each stage is built on first access, so only a stored one is planned
    # and computed.
    if args.seg_len is not None and args.all_steps:
        raise SystemExit("--seg_len routes through the segmented plan, "
                         "which has no 'downsampled' stage for "
                         "--all_steps to store; pick one")
    res = preprocess(merged, args.rate,
                     initial_resample_rate=args.initial_resample_rate,
                     final_resample_rate=args.final_resample_rate,
                     filters=args.filters,
                     hg_only=not args.all_filters,
                     segmented=args.seg_len is not None,
                     seg_len=args.seg_len)
    if not args.all_steps:
        # store only the wavelet amplitudes; names are picked before any
        # stage is built, so the other stages are never planned
        res = replace(res, stages={k: res.stages[k] for k in res.stages
                                   if k.startswith("wvlt_amp")})
    written = save_preprocess_result(cat, res, base_name=args.acq_name)
    for name, path in sorted(written.items()):
        print(f"stored {name} -> {path}")
    if owns_spark:
        spark.stop()
    return written


if __name__ == "__main__":
    main()
