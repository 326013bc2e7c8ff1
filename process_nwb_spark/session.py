"""SparkSession factory with the engine's tuned defaults.

Local testing runs on local[N]; the runtime confs in ENGINE_CONFS are the
ones that matter at cluster scale too (AQE, Arrow batching, shuffle
partition sizing) — see SURVEY.md §4 for the rationale.
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


# The engine's runtime SQL confs. get_spark applies them at launch and
# __spark_entry__._configure applies them to the driver's own session, so
# tests, bench.py, perfbench and the driver's oracle check all run one
# identically configured engine. engine_confs() adds the two entries that
# depend on the session: shuffle partitions and ANSI mode.
ENGINE_CONFS = {
    # AQE: runtime coalescing of shuffle partitions + skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE inside cached-plan materialization (false wraps every
    # InMemoryRelation in an AQE plan whose own stages are not adaptively
    # optimized). r14's warm passes showed wins (minhash_lsh_candidates
    # 0.83 -> 0.50 s); the r15 cold-JVM A/B, fresh process per run, both
    # orders, confirmed it under the driver's conditions
    # (OPTIMIZATION_r15.md).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Arrow is the JVM<->Python interchange for every kernel.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # guard: if a source ever carries parquet TIMESTAMP(NANOS), read it as
    # int64 ns instead of erroring; relational/core.py T() converts. The
    # driver testdata events.ts is timestamp[us] (reads as TIMESTAMP_NTZ,
    # also handled in T()) so this conf is inert there.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # let custom Python data sources (sources/ecog_datasource.py)
    # receive pushed filters for partition pruning
    "spark.sql.python.filterPushdown.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
}


def engine_confs(shuffle_partitions: int) -> dict[str, str]:
    """ENGINE_CONFS plus the per-session entries: `shuffle_partitions`
    (one per core) and ANSI mode. Reference semantics are non-ANSI (e.g.
    silent casts), so ANSI is pinned off; SPARK_GRAFT_ANSI=1 turns it on
    for the ANSI audit gate (tests/run_oracle_check.py under Spark 4's
    default mode; results + irreducible non-ANSI dependencies in
    SCALE.md)."""
    return {**ENGINE_CONFS,
            "spark.sql.shuffle.partitions": str(shuffle_partitions),
            "spark.sql.ansi.enabled":
                "true" if os.environ.get("SPARK_GRAFT_ANSI") == "1"
                else "false"}


def get_spark(app_name: str = "process-nwb-spark", master: str | None = None,
              shuffle_partitions: int | None = None, **extra) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32
    confs = {
        **engine_confs(shuffle_partitions),
        # launch-only confs: the driver's session is already running
        "spark.driver.memory": os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()),
        # Parallel GC, not the JVM's default G1. G1 sizes its young
        # generation adaptively and reclaims old and humongous regions
        # (arrays of >= half a region, e.g. one 65536-sample segment) only
        # after a concurrent cycle, so how much of the heap a job touches,
        # and the JVM's resident size with it, depends on GC timing: the
        # same segmented run peaked anywhere from 2.3 to 2.9 GB on a 2 GB
        # fixed heap (4 cores, 16 GB host). Parallel GC's generations have
        # fixed bounds on a fixed heap; the same runs peaked at 1.8 to
        # 1.86 GB. Set as the default options, so a caller's
        # spark.driver.extraJavaOptions adds to it instead of replacing it.
        "spark.driver.defaultJavaOptions": "-XX:+UseParallelGC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        **extra,
    }
    b = SparkSession.builder.appName(app_name).master(master)
    for k, v in confs.items():
        b = b.config(k, v)
    return b.getOrCreate()
