"""Source/sink coverage as checkable queries (SURVEY.md §2C Scans/sources):
`spark.range` generator scan, exact percentiles, and CSV/JSON round-trips
(write a projection of `documents` to a scratch dir, read it back through
the text source, aggregate — the oracle replays the aggregate on the
original parquet, so a lossy round-trip would hash-mismatch).

Round-trip scratch space is a new driver-local temp directory per call
(core.scratch_dir). At scale the same write/read is a distributed
partitioned write — the queries here pin a single output partition only
to keep the smoke-sized round-trip cheap.
"""
from __future__ import annotations

import os

from pyspark.sql import functions as F

from .core import T, query, scratch_dir


@query(
    "scan_range",
    """
    SELECT i AS n,
           CAST(i * i AS BIGINT) AS n_sq,
           CAST(i % 7 AS BIGINT) AS n_mod7
    FROM RANGE(0, 1000) t(i)
    """,
    doc="generator scan: spark.range is a zero-I/O distributed source "
        "(splits the [start,end) interval across partitions); DuckDB RANGE() "
        "replays it",
)
def scan_range(spark, sf_dir):
    return spark.range(0, 1000).select(
        F.col("id").alias("n"),
        (F.col("id") * F.col("id")).alias("n_sq"),
        (F.col("id") % 7).alias("n_mod7"),
    )


@query(
    "agg_percentiles",
    """
    SELECT l_returnflag,
           ROUND(QUANTILE_CONT(CAST(l_extendedprice AS DOUBLE), 0.5), 4)
             AS p50_price,
           ROUND(QUANTILE_CONT(CAST(l_extendedprice AS DOUBLE), 0.9), 4)
             AS p90_price,
           ROUND(QUANTILE_CONT(CAST(l_quantity AS DOUBLE), 0.25), 4)
             AS p25_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="exact interpolated percentiles per group (Spark `percentile` == "
        "DuckDB QUANTILE_CONT, both linear interpolation). The approximate "
        "sketch variant (percentile_approx/KLL) is the 100 TB path — "
        "mergeable partial sketches, no global sort — covered rows-only by "
        "agg_approx_count_distinct's pattern",
)
def agg_percentiles(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("double")
    qty = F.col("l_quantity").cast("double")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile(price, F.lit(0.5)), 4).alias("p50_price"),
        F.round(F.percentile(price, F.lit(0.9)), 4).alias("p90_price"),
        F.round(F.percentile(qty, F.lit(0.25)), 4).alias("p25_qty"),
    )


_ROUNDTRIP_ORACLE = """
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars,
           MIN(doc_id) AS first_doc
    FROM documents
    GROUP BY lang, source
"""


def _roundtrip_agg(df):
    return df.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_chars").cast("bigint")).alias("total_chars"),
        F.min("doc_id").alias("first_doc"),
    )


@query(
    "source_csv_roundtrip",
    _ROUNDTRIP_ORACLE,
    doc="CSV sink + source: documents (numeric/categorical projection) -> "
        "csv with header -> read back with explicit schema -> aggregate. "
        "Hash-matches the same aggregate on the original parquet, proving "
        "the round-trip is lossless",
)
def source_csv_roundtrip(spark, sf_dir):
    out = scratch_dir("roundtrip_csv")
    (T(spark, sf_dir, "documents")
     .select("doc_id", "lang", "source", "n_chars")
     .coalesce(1)
     .write.mode("overwrite").option("header", True).csv(out))
    back = spark.read.option("header", True).schema(
        "doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT").csv(out)
    return _roundtrip_agg(back)


@query(
    "source_json_roundtrip",
    _ROUNDTRIP_ORACLE,
    doc="JSON-lines sink + source: same round-trip through the json reader "
        "(schema given explicitly; inference would widen types)",
)
def source_json_roundtrip(spark, sf_dir):
    out = scratch_dir("roundtrip_json")
    (T(spark, sf_dir, "documents")
     .select("doc_id", "lang", "source", "n_chars")
     .coalesce(1)
     .write.mode("overwrite").json(out))
    back = spark.read.schema(
        "doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT").json(out)
    return _roundtrip_agg(back)


@query(
    "source_file_lineage",
    """
    SELECT 'documents.parquet' AS file_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(doc_id) AS BIGINT) AS min_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_id
    FROM documents
    """,
    doc="row-to-file lineage via Spark's hidden _metadata struct (file "
        "path/name/size exposed per row by the parquet reader): rows per "
        "physical file with id ranges — the observability query behind "
        "'which file produced this bad row' incident triage and "
        "small-file compaction planning. The metadata column is "
        "generated at scan time (no extra I/O, no join against a file "
        "listing); grouping by file name makes the whole thing one "
        "partial-aggregable pass. The driver testdata is one file per "
        "table so the oracle pins the degenerate single-row case; at "
        "100 TB the same query profiles millions of files and its "
        "output IS the compaction planner's input",
)
def source_file_lineage(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", F.col("_metadata.file_name").alias("file_name"))
    return (d.groupBy("file_name")
            .agg(F.count("*").cast("bigint").alias("n_rows"),
                 F.min("doc_id").cast("bigint").alias("min_id"),
                 F.max("doc_id").cast("bigint").alias("max_id"))
            .orderBy("file_name"))


@query(
    "source_schema_evolution",
    """
    WITH v1 AS (SELECT doc_id, lang FROM documents WHERE doc_id % 2 = 0),
         v2 AS (SELECT doc_id, lang, n_chars FROM documents
                WHERE doc_id % 2 = 1)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(n_chars) AS BIGINT) AS n_with_chars,
           CAST(SUM(COALESCE(n_chars, 0)) AS BIGINT) AS total_chars
    FROM (SELECT doc_id, lang, NULL::BIGINT AS n_chars FROM v1
          UNION ALL SELECT doc_id, lang, n_chars FROM v2)
    GROUP BY lang ORDER BY lang
    """,
    doc="schema evolution across file generations: an old writer emitted "
        "(doc_id, lang), a newer one added n_chars; mergeSchema=true "
        "reads both generations as ONE table with NULLs where the old "
        "files lack the column — the additive-column migration every "
        "long-lived lake table goes through, with no rewrite of old "
        "data. The face writes the two generations to scratch parquet, "
        "reads them back merged, and aggregates with COUNT(col) / "
        "COALESCE to show the NULL semantics; the oracle replays the "
        "same union-with-NULL shape. At 100 TB the merged-schema scan "
        "costs a footer read per file (schema union happens at planning "
        "time), and per-generation row counts out of this face are the "
        "backfill progress monitor",
)
def source_schema_evolution(spark, sf_dir):
    out = scratch_dir("roundtrip_evolve")
    d = T(spark, sf_dir, "documents")
    (d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang")
     .write.mode("overwrite").parquet(os.path.join(out, "gen=1")))
    (d.filter(F.col("doc_id") % 2 == 1).select("doc_id", "lang", "n_chars")
     .write.mode("overwrite").parquet(os.path.join(out, "gen=2")))
    back = (spark.read.option("mergeSchema", "true")
            .parquet(os.path.join(out, "gen=1"),
                     os.path.join(out, "gen=2")))
    return (back.groupBy("lang")
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.count("n_chars").cast("bigint").alias("n_with_chars"),
                 F.sum(F.coalesce("n_chars", F.lit(0))).cast("bigint")
                 .alias("total_chars"))
            .orderBy("lang"))
