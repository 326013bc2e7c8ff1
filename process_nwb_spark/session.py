"""SparkSession factory with the engine's tuned defaults.

Local testing runs on local[N]; the confs below are the ones that matter at
cluster scale too (AQE, Arrow batching, shuffle partition sizing) — see
SURVEY.md §4 for the rationale.
"""
from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """24 GiB, capped at half of physical memory. In local mode the driver
    heap holds every task's data; a cap above what the machine has lets
    the JVM grow past physical memory, and the kernel's OOM killer then
    ends it mid-job (seen on a 16 GiB, 4-core host: the JVM reached
    15 GiB resident and every later test failed on a dead gateway)."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):   # no sysconf here
        return "24g"
    return f"{max(1024, min(24 * 1024, phys // 2 ** 21))}m"


def get_spark(app_name: str = "process-nwb-spark", master: str | None = None,
              shuffle_partitions: int | None = None, **extra) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing of shuffle partitions + skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # r14 optimization, r15 re-adjudicated: AQE inside cached-plan
        # materialization (default false wraps every InMemoryRelation in
        # an AQE plan whose own stages are NOT adaptively optimized).
        # r14's warm min-of-6 showed wins (minhash_lsh_candidates
        # 0.83 -> 0.50 s), but the r14 driver's COLD median-of-5 showed
        # the two most cache-dependent faces at 0.50-0.51x — the conf
        # adds adaptive stage planning per cache build, a fixed cost a
        # cold JVM pays in full at sub-second scale. The r15 cold-JVM
        # A/B (fresh process per run, both orders — see
        # OPTIMIZATION_r15.md) settles it under the driver's own
        # conditions; SPARK_GRAFT_CACHED_PLAN_AQE=1/0 overrides either
        # way so the cluster-scale setting stays parameterised.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "false" if os.environ.get(
                    "SPARK_GRAFT_CACHED_PLAN_AQE", "1") == "0" else "true")
        # Arrow is the JVM<->Python interchange for every kernel.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Reference semantics are non-ANSI (e.g. silent casts); pin it.
        # SPARK_GRAFT_ANSI=1 flips it on for the ANSI audit gate
        # (tests/run_oracle_check.py run under Spark 4's default mode;
        # results + irreducible non-ANSI dependencies in SCALE.md).
        .config("spark.sql.ansi.enabled",
                "true" if os.environ.get("SPARK_GRAFT_ANSI") == "1"
                else "false")
        # guard: if a source ever carries parquet TIMESTAMP(NANOS), read it as
        # int64 ns instead of erroring; relational/core.py T() converts. The
        # driver testdata events.ts is timestamp[us] (reads as TIMESTAMP_NTZ,
        # also handled in T()) so this conf is inert there.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # let custom Python data sources (sources/ecog_datasource.py)
        # receive pushed filters for partition pruning
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in extra.items():
        b = b.config(k, v)
    return b.getOrCreate()
