"""Capture .explain("formatted") for named registry faces into a directory.

Usage: python scripts/capture_plans.py <out_dir> <suffix> [name ...]
  out_dir: e.g. plans/r15; created if missing
  suffix : 'before' or 'after' — file becomes <out_dir>/<name>_<suffix>.txt
  names  : default = the bench HEADLINE list.

The plan is captured at the default sf0.1 input (SPARK_GRAFT_SF_DIR
overrides), with the same session confs the bench uses, so the committed
plan text is what the bench actually executes (initial AQE plan;
isFinalPlan=false is expected — what matters is the shape: Exchange count,
join strategy, PushedFilters, BatchEvalPython/ArrowEvalPython nodes).
CAPTURE_EXEC=1 also runs each face and appends its AQE-final plan.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from process_nwb_spark.plans.inspect import formatted_plan
    from process_nwb_spark.relational.core import all_queries, clear_persist_slots
    from process_nwb_spark.session import get_spark

    spark = get_spark("capture-plans")
    registry = all_queries()
    if not names:
        import bench

        names = list(bench.HEADLINE)
    os.makedirs(out_dir, exist_ok=True)
    exec_final = os.environ.get("CAPTURE_EXEC") == "1"
    for name in names:
        df = registry[name].fn(spark, sf_dir)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(formatted_plan(df) + "\n")
            if exec_final:
                # run the query, then append the AQE-FINAL plan: runtime
                # decisions (cached-plan partitioning reuse, coalesced /
                # elided exchanges, join-strategy rewrites) are invisible
                # in the static plan above
                df.write.format("noop").mode("overwrite").save()
                f.write("\n\n== AQE-final executed plan "
                        "(isFinalPlan=true) ==\n")
                f.write(df._jdf.queryExecution().executedPlan().toString())
        clear_persist_slots()
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
