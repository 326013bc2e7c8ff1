"""Query registry: every declared operator (SURVEY.md §2C) is a named entry
pairing a Spark DataFrame program with an equivalent ANSI-SQL oracle that
DuckDB runs on the same parquet tables.

Cross-engine determinism rules (SURVEY.md §2C normalization):
- alias every computed column identically on both sides;
- round float aggregates (reorder noise differs between engines);
- never SUM integers raw (DuckDB widens to HUGEINT) — cast to DOUBLE/BIGINT;
- render timestamps as strings at second precision (parquet ns vs us);
- total ORDER BY before any LIMIT (tie-broken), though the driver's
  value-hash is order-insensitive.
"""
from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F

        dt = dict(df.dtypes).get("ts")
        if dt == "bigint":
            # TIMESTAMP(NANOS) data read under nanosAsLong: int64 ns -> us.
            # Integer-divide (double math loses precision past 2^53).
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif dt == "timestamp_ntz":
            # parquet timestamp[us] with isAdjustedToUTC=false reads as
            # TIMESTAMP_NTZ; session tz is pinned to UTC (session.py) so the
            # cast to TIMESTAMP is wall-clock identity, and downstream
            # unix_micros()/window() (LTZ-only) work.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# size cache for dim_broadcast: (parquet path, its mtime) -> bytes. Pure
# file metadata (parquet footers), never query results; keyed on the
# path's mtime so a table regenerated in place (benchdata.gen_scaled_dir)
# is re-sized instead of keeping a stale gate decision.
_TABLE_BYTES: dict = {}


def _table_bytes(sf_dir: str, name: str) -> int:
    """Uncompressed size of a parquet table (a file, or a directory of
    part files): the sum of its row groups' `total_byte_size` from the
    footers — what the data occupies once decoded, which is what a
    broadcast has to hold, not its compressed size on disk."""
    import os

    import pyarrow.parquet as pq

    path = f"{sf_dir}/{name}.parquet"
    try:
        key = (path, os.stat(path).st_mtime_ns)
    except OSError:
        return 0
    if key not in _TABLE_BYTES:
        files = ([os.path.join(root, f) for root, _dirs, fs in os.walk(path)
                  for f in fs if f.endswith(".parquet")
                  and not f.startswith((".", "_"))]
                 if os.path.isdir(path) else [path])
        total = 0
        for f in files:
            try:
                md = pq.ParquetFile(f).metadata
            except (OSError, ValueError):   # unreadable: counts as empty
                continue
            total += sum(md.row_group(i).total_byte_size
                         for i in range(md.num_row_groups))
        _TABLE_BYTES[key] = total
    return _TABLE_BYTES[key]


def dim_broadcast(df: DataFrame, sf_dir: str, *tables: str) -> DataFrame:
    """Size-gated broadcast hint for scale-factor-growing dimension tables
    (customer/part/supplier tier). `F.broadcast` ignores size and Spark
    HARD-FAILS a broadcast relation past 8 GB / 512 M rows (guide §3.1),
    so an unconditional hint on an SF-growing table turns 100 TB inputs
    into a planner error. This helper hints only while the named source
    tables' UNCOMPRESSED parquet size under sf_dir (row-group
    `total_byte_size` from the footers, _table_bytes) sums below the gate
    (SPARK_GRAFT_BCAST_GATE_MB, default 512 MB, well under the 8 GB cap);
    gating on compressed file size would let a highly compressible table
    expand past the cap. Above the gate the frame is returned unhinted and
    AQE picks the strategy from runtime sizes. The decision is file
    metadata only (no Spark job), deterministic per input dir, and at
    every benched SF the gated tables are <3 MB, so benched plans are
    byte-identical to the old unconditional hint. Fixed-cardinality tables (nation/region,
    1-row scalars, k-bounded codebooks) keep their plain F.broadcast —
    they do not grow with SF.

    `df` may be any projection/filter/join derived from the named
    tables: the size of the full sources is a conservative upper bound
    for any row/column subset of them."""
    import os

    gate_mb = float(os.environ.get("SPARK_GRAFT_BCAST_GATE_MB", "512"))
    total = sum(_table_bytes(sf_dir, t) for t in tables)
    if total <= gate_mb * 1024 * 1024:
        from pyspark.sql import functions as F

        return F.broadcast(df)
    return df


def spread(df: DataFrame, n: int | None = None) -> DataFrame:
    """Round-robin repartition a *small* input that fans out heavily
    downstream (shingle explosion, per-bit explode, plane dot products).

    The driver testdata tables are single-file parquet -> a 1-split scan, so
    without this every fan-out runs on one core of local[32]. The shuffle
    moves only the small pre-explosion rows. At 100 TB inputs arrive in many
    splits and this becomes a near-no-op (repartition to the cluster's
    default parallelism is then dominated by the scan anyway), and every
    downstream op here is order-insensitive, so the round-robin placement
    does not affect results."""
    return df.repartition(n or df.sparkSession.sparkContext.defaultParallelism)


# single-slot persist registry: faces whose plan references an intermediate
# MORE THAN ONCE persist it here, because Spark plans no ReusedExchange
# across a DeduplicateRelations split (measured on the embedding near-dup
# self-join and the triangle wedge join — every reference re-executed the
# whole subtree). The slot drops the PREVIOUS call's cache on entry, so
# (a) repeated invocations hold at most one copy per slot and (b) each run
# recomputes from the scan — min-of-N bench passes are never flattered by
# a warm cache.
_PERSIST_SLOTS: dict = {}


def fresh_persist(slot: str, df: DataFrame) -> DataFrame:
    prev = _PERSIST_SLOTS.pop(slot, None)
    if prev is not None:
        try:
            prev.unpersist(False)
        except Exception:
            pass
    df = df.persist()
    _PERSIST_SLOTS[slot] = df
    return df


def clear_persist_slots() -> None:
    """Drop EVERY registered persist slot. Bench isolation: a face's
    persisted intermediate (tiles, gram table, triangle edge sets)
    must not squeeze the executor memory the NEXT face's timing runs
    in — measured on graph_triangles at sf1, whose time flapped 37 ->
    67 s when the preceding face's sf1-sized cache was still resident.
    Production pipelines don't interleave unrelated faces in one JVM,
    so clearing between timings is the honest steady-state."""
    for slot in list(_PERSIST_SLOTS):
        df = _PERSIST_SLOTS.pop(slot)
        try:
            df.unpersist(False)
        except Exception:
            pass


def register_views(spark: SparkSession, sf_dir: str) -> None:
    for t in TABLES:
        T(spark, sf_dir, t).createOrReplaceTempView(t)


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # ANSI SQL for DuckDB; None -> rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: Optional[str], doc: str = ""):
    """Decorator registering a (spark_fn, oracle_sql) pair."""

    def deco(fn):
        REGISTRY[name] = QuerySpec(name, fn, oracle, doc)
        return fn

    return deco


def all_queries() -> dict[str, QuerySpec]:
    # import side-effect modules exactly once
    from . import tpch_core  # noqa: F401
    from . import llm_ops  # noqa: F401
    from . import embed_lsh  # noqa: F401
    from . import event_windows  # noqa: F401
    from . import signal_queries  # noqa: F401
    from . import sources_queries  # noqa: F401
    from . import udf_queries  # noqa: F401
    from . import dataprep  # noqa: F401
    from . import fn_extra  # noqa: F401
    from . import sql_surface  # noqa: F401
    from . import graph_ops  # noqa: F401
    return REGISTRY
