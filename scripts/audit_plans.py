"""Registry-wide physical-plan audit -> <out_dir>/AUDIT.json.

For every registry face, build the DataFrame at SPARK_GRAFT_SF_DIR
(default sf0.01 - plan SHAPE is scale-invariant; building at the small
SF keeps faces with eager metadata steps cheap) and count the node
classes of `process_nwb_spark.plans.inspect.PLAN_NODES` plus
`global_window` (a Window with an empty partition spec).

Usage: python scripts/audit_plans.py <out_dir> [name ...]
  (default: all faces; e.g. out_dir = plans/r16)
Faces whose plan cannot be built (env-gated, streaming-only) record an
"err" string instead of counts. The JSON is committed so audit claims
can be checked without running Spark.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    out_dir, names = sys.argv[1], sys.argv[2:]
    from process_nwb_spark.plans.inspect import node_counts
    from process_nwb_spark.relational.core import all_queries, clear_persist_slots
    from process_nwb_spark.session import get_spark

    spark = get_spark("audit-plans")
    registry = all_queries()
    todo = names or list(registry)
    results: dict[str, dict] = {}
    for i, n in enumerate(todo):
        t0 = time.perf_counter()
        try:
            results[n] = node_counts(registry[n].fn(spark, SF))
        except Exception as e:  # env-gated faces etc.
            results[n] = {"err": str(e)[:200]}
        finally:
            clear_persist_slots()
        dt = time.perf_counter() - t0
        if dt > 5:
            print(f"  slow plan build: {n} {dt:.1f}s", flush=True)
        if (i + 1) % 50 == 0:
            print(f"{i + 1}/{len(todo)}", flush=True)
    spark.stop()

    os.makedirs(out_dir, exist_ok=True)
    out_path = os.path.join(out_dir, "AUDIT.json")
    with open(out_path, "w") as f:
        json.dump({"sf_dir": SF, "n_faces": len(results),
                   "faces": results}, f, indent=1, sort_keys=True)
    print(f"wrote {out_path} ({len(results)} faces)")


if __name__ == "__main__":
    main()
