"""Time named registry faces on the bench headline's basis.

Usage: python scripts/time_faces.py <name> [name ...]
  SPARK_GRAFT_SF_DIR      input dir (default: bench.py's, the sf0.1 tables)
  SPARK_GRAFT_BENCH_RUNS  interleaved passes (default 5)

Replicates bench.py's headline loop as the driver runs it: one fresh JVM
on bench's session, its generic warm-up only (no per-face warm pass), then
N interleaved passes over the faces, each timed by bench._timed_face with
clear_persist_slots() between faces. Prints one JSON line:
{name: {"median", "min", "all"}}. Each invocation is one cold sample, so
A/Bs alternate invocations rather than compare within one session.
"""
from __future__ import annotations

import json
import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    names = sys.argv[1:]
    if not names:
        sys.exit(__doc__)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5")))

    import bench
    from process_nwb_spark.relational.core import (all_queries,
                                                   clear_persist_slots)

    spark = bench.bench_session("time-faces")
    registry = all_queries()
    bench.warm_session(spark, sf_dir)
    samples: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(runs):
        for name in names:
            samples[name].append(
                bench._timed_face(registry, name, spark, sf_dir))
            clear_persist_slots()
    print(json.dumps({n: {"median": round(statistics.median(v), 3),
                          "min": round(min(v), 3),
                          "all": [round(x, 3) for x in v]}
                      for n, v in samples.items()}))
    spark.stop()


if __name__ == "__main__":
    main()
