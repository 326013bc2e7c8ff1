"""Extended scalar-function / window-function / source coverage
(SURVEY.md §2C "Scalar fns", "Window functions", "Scans/sources" rows):
interval date arithmetic, string-edit functions, value-distribution
window functions, and the ORC columnar round-trip.

All JVM built-ins — no UDFs — so every query stays inside whole-stage
codegen and partial aggregation / window shuffles behave exactly like the
core §2C entries at 100 TB.
"""
from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .core import T, query, scratch_dir


# --------------------------------------------------------------------------
# Interval / calendar arithmetic
# --------------------------------------------------------------------------
@query(
    "fn_interval_datetime",
    """
    SELECT o_orderkey,
           STRFTIME(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY,
                    '%Y-%m-%d') AS plus30d,
           STRFTIME(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH,
                    '%Y-%m-%d') AS plus3m,
           STRFTIME(LAST_DAY(CAST(o_orderdate AS DATE)),
                    '%Y-%m-%d') AS month_end,
           CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS order_q,
           CAST(EXTRACT(doy FROM o_orderdate) AS INT) AS order_doy,
           STRFTIME(MAKE_DATE(CAST(EXTRACT(year FROM o_orderdate) AS INT),
                              1, 1), '%Y-%m-%d') AS year_start
    FROM orders
    """,
    doc="calendar arithmetic: day/month interval add (month add clamps to "
        "month end in both engines), last_day, quarter, day-of-year, "
        "make_date. Dates rendered as strings (cross-engine date encodings "
        "differ); pure narrow projection",
)
def fn_interval_datetime(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    fmt = "yyyy-MM-dd"
    return o.select(
        "o_orderkey",
        F.date_format(F.date_add(d, 30), fmt).alias("plus30d"),
        F.date_format(F.add_months(d, 3), fmt).alias("plus3m"),
        F.date_format(F.last_day(d), fmt).alias("month_end"),
        F.quarter(d).alias("order_q"),
        F.dayofyear(d).alias("order_doy"),
        F.date_format(F.make_date(F.year(d), F.lit(1), F.lit(1)), fmt)
        .alias("year_start"),
    )


# --------------------------------------------------------------------------
# String-edit functions
# --------------------------------------------------------------------------
@query(
    "fn_string_extra",
    """
    SELECT p_partkey,
           LPAD(CAST(p_partkey AS VARCHAR), 10, '0') AS padded_key,
           REVERSE(p_name) AS rev_name,
           REPEAT(LEFT(p_name, 2), 3) AS rep_head,
           TRANSLATE(p_name, 'aeiou', 'AEIOU') AS vowels_up,
           LEVENSHTEIN(LEFT(p_name, 5), 'steel') AS lev_steel,
           CAST(STRPOS(p_name, 'e') AS INT) AS first_e,
           RIGHT(p_name, 4) AS tail4
    FROM part
    """,
    doc="string-edit surface: lpad, reverse, repeat, translate, "
        "levenshtein edit distance (the fuzzy-matching primitive), "
        "instr/strpos, left/right slicing — all codegen'd JVM built-ins",
)
def fn_string_extra(spark, sf_dir):
    p = T(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("padded_key"),
        F.reverse("p_name").alias("rev_name"),
        F.repeat(F.left("p_name", F.lit(2)), 3).alias("rep_head"),
        F.translate("p_name", "aeiou", "AEIOU").alias("vowels_up"),
        F.levenshtein(F.left("p_name", F.lit(5)), F.lit("steel"))
        .alias("lev_steel"),
        F.instr("p_name", "e").alias("first_e"),
        F.right("p_name", F.lit(4)).alias("tail4"),
    )


# --------------------------------------------------------------------------
# Distribution window functions
# --------------------------------------------------------------------------
@query(
    "win_distribution",
    """
    SELECT l_returnflag, l_orderkey, l_linenumber,
           NTILE(4) OVER w AS qtile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pr,
           ROUND(CUME_DIST() OVER w, 6) AS cd,
           FIRST_VALUE(l_orderkey) OVER w AS first_key,
           LAST_VALUE(l_orderkey) OVER wf AS last_key,
           NTH_VALUE(l_orderkey, 3) OVER wf AS third_key
    FROM lineitem
    WHERE l_orderkey % 11 = 0
    WINDOW w AS (PARTITION BY l_returnflag
                 ORDER BY l_orderkey, l_linenumber),
           wf AS (PARTITION BY l_returnflag
                  ORDER BY l_orderkey, l_linenumber
                  ROWS BETWEEN UNBOUNDED PRECEDING
                           AND UNBOUNDED FOLLOWING)
    """,
    doc="distribution window functions: ntile, percent_rank, cume_dist, "
        "first/last/nth_value over an explicit full frame. Order key "
        "(l_orderkey, l_linenumber) is unique per partition, so every "
        "function is deterministic; one window shuffle total (same "
        "partition+order for all)",
)
def win_distribution(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 11 == 0)
    w = Window.partitionBy("l_returnflag").orderBy("l_orderkey", "l_linenumber")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return li.select(
        "l_returnflag", "l_orderkey", "l_linenumber",
        F.ntile(4).over(w).alias("qtile"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.first("l_orderkey").over(w).alias("first_key"),
        F.last("l_orderkey").over(wf).alias("last_key"),
        F.nth_value("l_orderkey", 3).over(wf).alias("third_key"),
    )


# --------------------------------------------------------------------------
# ORC round-trip (third columnar source format)
# --------------------------------------------------------------------------
_ROUNDTRIP_ORACLE = """
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars,
           MIN(doc_id) AS first_doc
    FROM documents
    GROUP BY lang, source
"""


@query(
    "source_orc_roundtrip",
    _ROUNDTRIP_ORACLE,
    doc="ORC sink + source: documents projection -> ORC -> read back -> "
        "aggregate; hash-matches the same aggregate on the original "
        "parquet (lossless columnar round-trip, same proof shape as the "
        "CSV/JSON entries in sources_queries.py)",
)
def source_orc_roundtrip(spark, sf_dir):
    out = scratch_dir("roundtrip_orc")
    (T(spark, sf_dir, "documents")
     .select("doc_id", "lang", "source", "n_chars")
     .coalesce(1)
     .write.mode("overwrite").orc(out))
    back = spark.read.schema(
        "doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT").orc(out)
    return back.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_chars").cast("bigint")).alias("total_chars"),
        F.min("doc_id").alias("first_doc"),
    )


# --------------------------------------------------------------------------
# VARIANT type (Spark 4): semi-structured data without a fixed schema
# --------------------------------------------------------------------------
@query(
    "fn_variant",
    """
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS INT) AS prop_k,
           CASE WHEN CAST(json_extract_string(props, '$.k') AS INT) >= 50
                THEN 'high' ELSE 'low' END AS k_bucket
    FROM events
    WHERE event_id % 5 = 0
    """,
    doc="VARIANT ingestion (Spark 4): parse_json lifts the props JSON "
        "string into the binary VARIANT encoding once, then variant_get "
        "extracts typed paths without re-parsing — the schema-on-read "
        "path for heterogeneous 100 TB event payloads (vs "
        "get_json_object re-parsing the string per extraction, see "
        "fn_json_map). DuckDB oracle reads the same paths via "
        "json_extract_string",
)
def fn_variant(spark, sf_dir):
    e = T(spark, sf_dir, "events").filter(F.col("event_id") % 5 == 0)
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "int")
    return e.select(
        "event_id", "event_type",
        k.alias("prop_k"),
        F.when(k >= 50, "high").otherwise("low").alias("k_bucket"),
    )


# --------------------------------------------------------------------------
# Equi-width histogram (data profiling)
# --------------------------------------------------------------------------
@query(
    "agg_histogram",
    """
    SELECT LEAST(CAST(FLOOR(l_extendedprice / 5000) + 1 AS BIGINT), 23)
             AS bucket,
           CAST(LEAST(FLOOR(l_extendedprice / 5000), 22) * 5000 AS DOUBLE)
             AS bucket_lo,
           COUNT(*) AS n,
           ROUND(MIN(l_extendedprice), 2) AS lo_seen,
           ROUND(MAX(l_extendedprice), 2) AS hi_seen
    FROM lineitem
    GROUP BY 1, 2
    """,
    doc="equi-width histogram over l_extendedprice: width_bucket assigns "
        "each row a bin JVM-side, then one partially-aggregated groupBy "
        "on ~22 bucket ids. The data-profiling primitive: shuffle volume "
        "is O(partitions x buckets) regardless of input size, so the "
        "same plan profiles a 100 TB column. Fixed bounds make the result "
        "deterministic (vs histogram_numeric's data-dependent bins). Both "
        "engines clamp overflow into the n+1=23 tail bucket (width_bucket "
        "semantics; the oracle mirrors with LEAST) so a price past the "
        "upper bound can't desynchronize the two histograms",
)
def agg_histogram(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    b = F.width_bucket("l_extendedprice", F.lit(0), F.lit(110000), F.lit(22))
    return (li.select(F.col("l_extendedprice"), b.alias("bucket"))
            .groupBy("bucket")
            .agg(F.count("*").alias("n"),
                 F.round(F.min("l_extendedprice"), 2).alias("lo_seen"),
                 F.round(F.max("l_extendedprice"), 2).alias("hi_seen"))
            .select("bucket",
                    ((F.col("bucket") - 1) * 5000).cast("double")
                    .alias("bucket_lo"),
                    "n", "lo_seen", "hi_seen"))


# --------------------------------------------------------------------------
# Mergeable HLL sketches (Apache DataSketches, Spark 3.5+)
# --------------------------------------------------------------------------
@query(
    "agg_hll_sketch",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_day_sketches,
           1 AS approx_ok
    FROM events
    GROUP BY event_type
    """,
    doc="two-level distinct counting with MERGEABLE sketches: "
        "hll_sketch_agg builds one DataSketches HLL per (event_type, day), "
        "hll_union_agg merges the day sketches up to event_type, "
        "hll_sketch_estimate reads the estimate. This is the 100 TB "
        "rollup pattern approx_count_distinct can't express: per-shard "
        "sketches persist once and re-aggregate along any dimension "
        "without touching raw data again (cf. agg_approx_count_distinct "
        "for the single-level form). The binary sketch isn't replayable "
        "in DuckDB, so the oracled contract is the day-sketch count plus "
        "the estimate-vs-exact tolerance boolean: lgK=14 -> "
        "rsd = 1.04/sqrt(2^14) ~= 0.81%, 3-sigma bound 2.5%; a separate "
        "accuracy-contract test pins the estimate itself",
)
def agg_hll_sketch(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    daily = (e.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.hll_sketch_agg("user_id", 14).alias("sk")))
    merged = (daily.groupBy("event_type")
              .agg(F.hll_sketch_estimate(F.hll_union_agg("sk"))
                   .alias("approx_users"),
                   F.count("*").alias("n_day_sketches")))
    exact = (e.groupBy("event_type")
             .agg(F.count_distinct("user_id").alias("exact_users")))
    return (merged.join(exact, "event_type")
            .select("event_type", "n_day_sketches",
                    (F.abs(F.col("approx_users") - F.col("exact_users"))
                     <= 0.025 * F.col("exact_users")).cast("int")
                    .alias("approx_ok")))


@query(
    "source_xml_roundtrip",
    _ROUNDTRIP_ORACLE,
    doc="XML sink + source (native in Spark 4): documents projection -> "
        "XML rows -> read back with an explicit schema -> aggregate; "
        "hash-matches the same aggregate on the original parquet (same "
        "proof shape as the CSV/JSON/ORC round-trips). Covers the "
        "rowTag-based record reader for feed-style semi-structured "
        "inputs",
)
def source_xml_roundtrip(spark, sf_dir):
    out = scratch_dir("roundtrip_xml")
    (T(spark, sf_dir, "documents")
     .select("doc_id", "lang", "source", "n_chars")
     .coalesce(1)
     .write.mode("overwrite").option("rowTag", "doc").format("xml").save(out))
    back = (spark.read.schema(
        "doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT")
        .option("rowTag", "doc").format("xml").load(out))
    return back.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_chars").cast("bigint")).alias("total_chars"),
        F.min("doc_id").alias("first_doc"),
    )


@query(
    "fn_collation",
    """
    SELECT p_partkey, p_name,
           CASE WHEN LOWER(p_name) = LOWER(UPPER(p_name))
                THEN 1 ELSE 0 END AS ci_self_match,
           CASE WHEN LOWER(p_name) LIKE '%steel%' THEN 1 ELSE 0 END
               AS ci_contains_steel
    FROM part WHERE p_partkey % 7 = 0
    """,
    doc="collation-aware comparison (Spark 4 collated strings): equality "
        "and containment under UTF8_LCASE collation — the engine-level "
        "form of case-insensitive matching, evaluated JVM-side without "
        "wrapping every operand in lower() (which blocks statistics and "
        "pushdown on the raw column). Oracle emulates with LOWER() since "
        "DuckDB collations differ; results agree for ASCII data",
)
def fn_collation(spark, sf_dir):
    p = T(spark, sf_dir, "part").filter(F.col("p_partkey") % 7 == 0)
    ci = F.collate(F.col("p_name"), "UTF8_LCASE")
    return p.select(
        "p_partkey", "p_name",
        F.when(ci == F.collate(F.upper("p_name"), "UTF8_LCASE"), 1)
         .otherwise(0).alias("ci_self_match"),
        F.when(ci.contains(F.collate(F.lit("STEEL"), "UTF8_LCASE")), 1)
         .otherwise(0).alias("ci_contains_steel"),
    )


@query(
    "sql_parameterized",
    """
    SELECT o_orderpriority, COUNT(*) AS n,
           ROUND(SUM(CAST(o_totalprice AS DOUBLE)), 2) AS total
    FROM orders
    WHERE o_totalprice >= 50000 AND o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
    doc="named-parameter SQL (Spark 3.4+ spark.sql(..., args=...)): the "
        "literal-injection-free API for templated queries. Parameter "
        "markers bind BEFORE analysis, so constant folding and predicate "
        "pushdown see real literals — same physical plan as inlined "
        "constants, no plan-cache poisoning, no SQL injection",
)
def sql_parameterized(spark, sf_dir):
    T(spark, sf_dir, "orders").createOrReplaceTempView("_param_orders")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n,
               ROUND(SUM(CAST(o_totalprice AS DOUBLE)), 2) AS total
        FROM _param_orders
        WHERE o_totalprice >= :min_price AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"min_price": 50000, "status": "F"},
    )


@query(
    "agg_mode_argmax",
    """
    WITH counts AS (
        SELECT o_orderpriority,
               CAST(EXTRACT(dow FROM o_orderdate) AS INT) AS dow,
               COUNT(*) AS n
        FROM orders GROUP BY 1, 2
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                     ORDER BY n DESC, dow DESC) AS rn
        FROM counts
    )
    SELECT o_orderpriority, dow AS top_dow, n AS n_orders
    FROM ranked WHERE rn = 1
    """,
    doc="deterministic per-group mode (heavy hitter): most frequent "
        "order day-of-week per priority, as TWO partially-aggregated "
        "groupBys — count per (group, value), then max_by over a "
        "(count, value) struct so ties break on the value, never "
        "nondeterministically. Shuffle volume is O(groups x distinct "
        "values) after map-side combine; no window over raw rows, so the "
        "plan is independent of fact-table size (the built-in mode() "
        "breaks ties arbitrarily — this is the replayable form)",
)
def agg_mode_argmax(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    counts = (o.groupBy("o_orderpriority",
                        F.dayofweek(F.col("o_orderdate").cast("date"))
                        .alias("dow1"))
              .agg(F.count("*").alias("n")))
    # Spark dayofweek is 1-based Sunday=1; DuckDB EXTRACT(dow) Sunday=0
    counts = counts.select("o_orderpriority",
                           (F.col("dow1") - 1).alias("dow"), "n")
    pick = F.max_by(F.struct("dow", "n"), F.struct("n", "dow"))
    return (counts.groupBy("o_orderpriority")
            .agg(pick.alias("_p"))
            .select("o_orderpriority",
                    F.col("_p.dow").alias("top_dow"),
                    F.col("_p.n").alias("n_orders")))


@query(
    "join_null_safe",
    """
    WITH a AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 97 = 0 THEN NULL
                    ELSE c_nationkey END AS k
        FROM customer WHERE c_custkey % 3 = 0
    ),
    b AS (
        SELECT s_suppkey,
               CASE WHEN s_suppkey % 13 = 0 THEN NULL
                    ELSE s_nationkey END AS k
        FROM supplier
    )
    SELECT a.c_custkey, b.s_suppkey, a.k AS joined_key
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
    doc="null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys "
        "match each other instead of silently dropping — the semantics "
        "late-arriving dimension keys need. Spark still plans this as a "
        "HASH join (null-safe equality is hashable), so the shuffle/"
        "broadcast strategy is identical to = ; the NULL bucket lands on "
        "one reducer, which is exactly the skew the salted-join entry "
        "(join_salted_skew) treats when NULL rates are high",
)
def join_null_safe(spark, sf_dir):
    c = T(spark, sf_dir, "customer").filter(F.col("c_custkey") % 3 == 0)
    s = T(spark, sf_dir, "supplier")
    a = c.select("c_custkey",
                 F.when(F.col("c_custkey") % 97 == 0, None)
                 .otherwise(F.col("c_nationkey")).alias("ka"))
    b = s.select("s_suppkey",
                 F.when(F.col("s_suppkey") % 13 == 0, None)
                 .otherwise(F.col("s_nationkey")).alias("kb"))
    return (a.join(b, a.ka.eqNullSafe(b.kb))
            .select("c_custkey", "s_suppkey", F.col("ka").alias("joined_key")))


@query(
    "sink_partitioned_prune",
    """
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
    FROM documents
    WHERE lang IN ('en', 'de')
    GROUP BY source
    """,
    doc="partitioned sink + partition-pruned source: documents written "
        "partitionBy(lang) to a scratch dir, read back with a lang "
        "predicate that resolves at PLANNING time against the directory "
        "layout — pruned partitions are never listed, let alone read "
        "(PartitionFilters in the scan, asserted in test_plans). The "
        "layout decision every 100 TB corpus store makes: partition by "
        "the coarse always-filtered column, bucket/sort within",
)
def sink_partitioned_prune(spark, sf_dir):
    out = scratch_dir("part_lang")
    (T(spark, sf_dir, "documents")
     .select("doc_id", "source", "n_chars", "lang")
     .write.mode("overwrite").partitionBy("lang").parquet(out))
    back = spark.read.parquet(out).filter(F.col("lang").isin("en", "de"))
    return back.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_chars").cast("bigint")).alias("total_chars"))


_N_BUCKETS = 8


@query(
    "join_bucketed_colocated",
    """
    SELECT o_orderkey % 4 AS key_mod,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(SUM(CAST(l_extendedprice AS DOUBLE)), 2) AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o_orderkey % 4
    """,
    doc=f"bucket-co-located join: orders and lineitem are written as "
        f"bucketBy({_N_BUCKETS}, orderkey) sortBy(orderkey) tables "
        "(external path under scratch, in-memory catalog), read back, and "
        "joined on the bucket key — Spark's scan reports the bucket "
        "layout as its output partitioning, so the SortMergeJoin needs "
        "NO Exchange on either side (asserted in test_plans under any "
        "config). With one file per bucket (repartition-by-key before "
        "the write) AND spark.sql.legacy.bucketedTableScan."
        "outputOrdering=true the Sorts elide too — that conf is set in "
        "test_plans' session, where the Sort elision is asserted; in a "
        "default session the SMJ keeps its Sorts but still skips both "
        "Exchanges. THE pre-organization move for 100 TB fact-to-fact "
        "joins: the shuffle that dominates an orders⋈lineitem join is "
        "paid once at write time and amortized over every subsequent "
        "join/agg keyed on orderkey; only the post-join rollup (grouped "
        "on a derived key) shuffles, and it is aggregate-sized. The "
        "oracle joins the raw tables — bucketing must be "
        "result-invariant, which is what the hash match proves",
)
def join_bucketed_colocated(spark, sf_dir):
    # unique table names per call, from the scratch directory's name
    base = scratch_dir("bucketed")
    tag = os.path.basename(base)
    specs = [
        (f"pnwb_bkt_orders_{tag}",
         T(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"),
         "o_orderkey"),
        (f"pnwb_bkt_lineitem_{tag}",
         T(spark, sf_dir, "lineitem")
         .select("l_orderkey", "l_extendedprice"),
         "l_orderkey"),
    ]
    for name, df, key in specs:
        # repartition on the bucket key with the bucket count BEFORE the
        # bucketed write: same murmur3 hash, same modulus, so each task
        # holds exactly one bucket and writes exactly one file per bucket
        # — the reader only trusts write-time sort order when a bucket is
        # a single file, and one-file-per-bucket is what lets the
        # downstream SMJ skip the Sort as well as the Exchange
        (df.repartition(_N_BUCKETS, F.col(key))
         .write.mode("overwrite")
         .option("path", os.path.join(base, name))
         .bucketBy(_N_BUCKETS, key).sortBy(key)
         .format("parquet").saveAsTable(name))
    ob = spark.table(specs[0][0])
    lb = spark.table(specs[1][0])
    return (ob.join(lb, lb.l_orderkey == ob.o_orderkey)
            .groupBy((F.col("o_orderkey") % 4).alias("key_mod"))
            .agg(F.count("*").cast("bigint").alias("n_lines"),
                 F.round(F.sum(F.col("l_extendedprice").cast("double")), 2)
                 .alias("revenue")))


@query(
    "fn_map_higher_order",
    """
    SELECT p_partkey,
           p_size * 2 AS size2,
           (p_partkey % 10) * 2 AS modkey2,
           CASE WHEN p_size * 2 > 20 THEN 1 ELSE 0 END
             + CASE WHEN (p_partkey % 10) * 2 > 20 THEN 1 ELSE 0 END
             AS n_large
    FROM part WHERE p_partkey % 6 = 0
    """,
    doc="map-typed column surface: map_from_arrays builds a map per row, "
        "transform_values doubles every value, map_filter keeps entries "
        "> 20, and the result is read back out with element_at / "
        "map_entries aggregation — all JVM higher-order map functions. "
        "The oracle computes the same RESULT directly from the base "
        "columns (the map is row-local derived state, so no cross-engine "
        "map encoding is needed) — same proof shape as the roundtrip "
        "sources",
)
def fn_map_higher_order(spark, sf_dir):
    p = T(spark, sf_dir, "part").filter(F.col("p_partkey") % 6 == 0)
    m = F.map_from_arrays(
        F.array(F.lit("size"), F.lit("modkey")),
        F.array(F.col("p_size").cast("int"),
                (F.col("p_partkey") % 10).cast("int")))
    doubled = F.transform_values(m, lambda k, v: v * 2)
    large = F.map_filter(doubled, lambda k, v: v > 20)
    return p.select(
        "p_partkey",
        F.element_at(doubled, "size").alias("size2"),
        F.element_at(doubled, "modkey").alias("modkey2"),
        F.size(large).alias("n_large"),
    )


@query(
    "fn_array_predicates",
    """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
               WHERE doc_id % 9 = 0)
    SELECT doc_id,
           CASE WHEN len(list_filter(w, x -> x = 'spark')) > 0
                THEN 1 ELSE 0 END AS has_spark,
           CASE WHEN len(list_filter(w, x -> len(x) >= 1)) = len(w)
                THEN 1 ELSE 0 END AS all_nonempty,
           CAST(len(list_filter(w, x -> len(x) > 4)) AS INT) AS n_long,
           COALESCE(CAST(list_position(w, 'table') AS INT), 0)
               AS first_table_pos,
           CASE WHEN list_has_any(w, ['join', 'merge']) THEN 1 ELSE 0 END
               AS mentions_join,
           CAST(len(list_intersect(list_distinct(w),
                                   ['key', 'value', 'hash'])) AS INT)
               AS n_kv_terms
    FROM d
    """,
    doc="array predicate surface: exists / forall / filter-count / "
        "array_position / arrays_overlap / array_intersect over the "
        "token list — the JVM lambda predicates that keep list-shaped "
        "checks out of Python. All narrow, scan-speed; DuckDB replays "
        "with list_filter/list_position/list_has_any/list_intersect "
        "(array_position and list_position are both 1-based, 0/NULL on "
        "miss normalized via COALESCE-free int cast)",
)
def fn_array_predicates(spark, sf_dir):
    d = (T(spark, sf_dir, "documents").filter(F.col("doc_id") % 9 == 0)
         .withColumn("w", F.split("text", " ")))
    return d.select(
        "doc_id",
        F.when(F.exists("w", lambda x: x == "spark"), 1).otherwise(0)
         .alias("has_spark"),
        F.when(F.forall("w", lambda x: F.length(x) >= 1), 1).otherwise(0)
         .alias("all_nonempty"),
        F.size(F.filter("w", lambda x: F.length(x) > 4)).alias("n_long"),
        F.array_position("w", "table").cast("int").alias("first_table_pos"),
        F.when(F.arrays_overlap("w", F.array(F.lit("join"), F.lit("merge"))),
               1).otherwise(0).alias("mentions_join"),
        F.size(F.array_intersect(
            F.array_distinct("w"),
            F.array(F.lit("key"), F.lit("value"), F.lit("hash"))))
         .alias("n_kv_terms"),
    )


@query(
    "agg_winsorized_mean",
    """
    WITH bounds AS (
        SELECT l_returnflag,
               QUANTILE_CONT(CAST(l_extendedprice AS DOUBLE), 0.05) AS lo,
               QUANTILE_CONT(CAST(l_extendedprice AS DOUBLE), 0.95) AS hi
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           ROUND(AVG(LEAST(GREATEST(CAST(l.l_extendedprice AS DOUBLE),
                                    b.lo), b.hi)), 4) AS winsorized_mean,
           ROUND(b.lo, 4) AS p05, ROUND(b.hi, 4) AS p95
    FROM lineitem l JOIN bounds b ON l.l_returnflag = b.l_returnflag
    GROUP BY l.l_returnflag, b.lo, b.hi
    """,
    doc="winsorized mean per group: exact p05/p95 bounds (linear-"
        "interpolated percentile, matching QUANTILE_CONT) computed in one "
        "grouped pass, broadcast back, outliers CLAMPED (not dropped — "
        "cf. agg_trimmed_mean) with greatest/least, then a plain avg. "
        "Two aggregations over one scan lineage; the bounds table is "
        "groups-sized so the join-back is a broadcast. The robust-stats "
        "complement of the CAR trim",
)
def agg_winsorized_mean(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_extendedprice").cast("double").alias("p"))
    bounds = li.groupBy("l_returnflag").agg(
        F.percentile("p", F.lit(0.05)).alias("lo"),
        F.percentile("p", F.lit(0.95)).alias("hi"))
    clamped = F.least(F.greatest(F.col("p"), F.col("lo")), F.col("hi"))
    return (li.join(F.broadcast(bounds), "l_returnflag")
            .groupBy("l_returnflag", "lo", "hi")
            .agg(F.round(F.avg(clamped), 4).alias("winsorized_mean"))
            .select("l_returnflag", "winsorized_mean",
                    F.round("lo", 4).alias("p05"),
                    F.round("hi", 4).alias("p95")))


@query(
    "fn_explode_pos",
    """
    SELECT p_partkey,
           UNNEST(RANGE(LEN(STRING_SPLIT(p_name, ' ')))) AS pos,
           UNNEST(STRING_SPLIT(p_name, ' ')) AS word
    FROM part
    WHERE p_partkey <= 500
    """,
    doc="positional explode (posexplode): array -> one row per element "
        "with its 0-based ordinal. Pure Expand/Generate node — zero "
        "shuffles, fan-out happens inside the scan stage so it pipelines "
        "at any scale. Oracle zips two equal-length UNNESTs (DuckDB "
        "row-wise zip semantics) to recover the ordinal",
)
def fn_explode_pos(spark, sf_dir):
    p = (T(spark, sf_dir, "part")
         .filter(F.col("p_partkey") <= 500)
         .select("p_partkey", F.split("p_name", " ").alias("words")))
    return (p.select("p_partkey", F.posexplode("words").alias("pos", "word"))
            .select("p_partkey", F.col("pos").cast("bigint").alias("pos"),
                    "word"))


@query(
    "agg_shape_stats",
    """
    WITH mu AS (
      SELECT event_type, AVG(CAST(value AS DOUBLE)) AS mu
      FROM events GROUP BY event_type
    ), cm AS (
      SELECT e.event_type,
             AVG(POWER(value - mu, 2)) AS m2,
             AVG(POWER(value - mu, 3)) AS m3,
             AVG(POWER(value - mu, 4)) AS m4
      FROM events e JOIN mu USING (event_type)
      GROUP BY e.event_type
    )
    SELECT event_type,
           ROUND(m3 / POWER(m2, 1.5), 4) AS skew_v,
           ROUND(m4 / (m2 * m2) - 3, 4) AS kurt_v
    FROM cm
    """,
    doc="distribution-shape profiling: population skewness (m3/m2^1.5) and "
        "excess kurtosis (m4/m2^2 - 3) per event_type — Spark's "
        "skewness()/kurtosis() definitions exactly. One partial-agg "
        "groupBy (moments fold map-side); the oracle recomputes the "
        "central moments two-pass from first principles rather than "
        "trusting DuckDB's (sample-corrected, hence different) builtins",
)
def agg_shape_stats(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    return (e.groupBy("event_type")
            .agg(F.round(F.skewness(F.col("value").cast("double")), 4)
                  .alias("skew_v"),
                 F.round(F.kurtosis(F.col("value").cast("double")), 4)
                  .alias("kurt_v")))


@query(
    "agg_bitmap_distinct",
    """
    SELECT 'day' AS grain, STRFTIME(CAST(ts AS DATE), '%Y-%m-%d') AS key,
           COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY 2
    UNION ALL
    SELECT 'month', STRFTIME(DATE_TRUNC('month', ts), '%Y-%m-%d'),
           COUNT(DISTINCT user_id)
    FROM events GROUP BY 2
    """,
    doc="exact mergeable distinct counts via Spark 4 bitmap aggregates: "
        "per-(day, bucket) bitmaps from bitmap_construct_agg, DAU = sum "
        "of bitmap_count over disjoint buckets, MAU = bitmap_or_agg of "
        "the DAY-LEVEL bitmaps re-counted — the monthly rollup never "
        "touches raw user ids again. This is the exact-count sibling of "
        "agg_hll_sketch: fixed 4 KB state per (cell, bucket), mergeable "
        "across shards, so a 100 TB backfill materializes day bitmaps "
        "once and every coarser grain is a cheap OR. user_id is shifted "
        "+1 (bitmap bit positions are 1-based; 0 would be dropped). "
        "Oracle recomputes both grains as plain COUNT(DISTINCT)",
)
def agg_bitmap_distinct(spark, sf_dir):
    e = (T(spark, sf_dir, "events")
         .select(F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd")
                  .alias("day"),
                 F.date_format(F.date_trunc("month", "ts"), "yyyy-MM-dd")
                  .alias("month"),
                 (F.col("user_id") + 1).alias("uid")))
    day_bm = (e.groupBy("day", "month",
                        F.expr("bitmap_bucket_number(uid)").alias("bucket"))
              .agg(F.expr("bitmap_construct_agg(bitmap_bit_position(uid))")
                   .alias("bm")))
    dau = (day_bm.groupBy(F.lit("day").alias("grain"),
                          F.col("day").alias("key"))
           .agg(F.sum(F.expr("bitmap_count(bm)")).alias("n_users")))
    mau = (day_bm.groupBy("month", "bucket")
           .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
           .groupBy(F.lit("month").alias("grain"),
                    F.col("month").alias("key"))
           .agg(F.sum(F.expr("bitmap_count(bm)")).alias("n_users")))
    return dau.unionAll(mau)


@query(
    "pareto_frontier_parts",
    """
    WITH best AS (
      SELECT p_retailprice AS price, p_size AS size, p_partkey AS partkey
      FROM (
        SELECT p_retailprice, p_size, p_partkey,
               ROW_NUMBER() OVER (PARTITION BY p_retailprice
                                  ORDER BY p_size DESC, p_partkey) AS rn
        FROM part) WHERE rn = 1
    ),
    scan AS (
      SELECT partkey, price, size,
             MAX(size) OVER (ORDER BY price
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mx
      FROM best
    )
    SELECT partkey, ROUND(price, 2) AS price, size
    FROM scan WHERE mx IS NULL OR size > mx
    """,
    doc="Pareto frontier (skyline) of part on (minimize retailprice, "
        "maximize size): a part is on the frontier iff no cheaper-or-equal "
        "part has size >= it. Scale shape: phase 1 collapses to the "
        "per-price argmax (row_number over PARTITION BY price — a keyed "
        "shuffle with many small groups, not a global sort), so the "
        "global ordered scan in phase 2 runs on DISTINCT PRICES (bounded "
        "domain, ~thousands) rather than all parts; the running-max "
        "dominance test is one integer window over that reduced set. "
        "Deterministic ties: per-price winner is (size DESC, partkey), "
        "and equal-size-equal-price duplicates keep the first",
)
def pareto_frontier_parts(spark, sf_dir):
    p = T(spark, sf_dir, "part")
    wbest = (Window.partitionBy("p_retailprice")
             .orderBy(F.desc("p_size"), F.asc("p_partkey")))
    best = (p.withColumn("rn", F.row_number().over(wbest))
            .filter(F.col("rn") == 1)
            .select(F.col("p_partkey").alias("partkey"),
                    F.col("p_retailprice").alias("price"),
                    F.col("p_size").alias("size")))
    wscan = (Window.orderBy("price")
             .rowsBetween(Window.unboundedPreceding, -1))
    return (best.withColumn("mx", F.max("size").over(wscan))
            .filter(F.col("mx").isNull() | (F.col("size") > F.col("mx")))
            .select("partkey", F.round("price", 2).alias("price"), "size"))


@query(
    "bitmap_retention_intersect",
    """
    WITH w1 AS (
      SELECT DISTINCT user_id FROM events
      WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-08'
    ),
    w2 AS (
      SELECT DISTINCT user_id FROM events
      WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM w1) AS n_week1,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM w2) AS n_week2,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM w1 JOIN w2 USING (user_id)) AS n_retained,
           ROUND(CAST((SELECT COUNT(*) FROM w1 JOIN w2 USING (user_id))
                      AS DOUBLE)
                 / (SELECT COUNT(*) FROM w1), 6) AS retention
    """,
    doc="week-over-week user retention as exact BITMAP SET ALGEBRA: Spark "
        "4 has bitmap_or_agg but no intersection aggregate, so |W1 ∩ W2| "
        "comes from inclusion-exclusion |W1| + |W2| - |W1 ∪ W2| with the "
        "union as one more bitmap_or_agg over the per-(week, bucket) "
        "bitmaps — every term exact, every state fixed 4 KB per bucket "
        "and mergeable, so a 100 TB backfill materializes weekly bitmaps "
        "once and ANY pairwise overlap (retention, cross-surface reach, "
        "audience dedup) is bucket-local bit math with no re-touch of raw "
        "ids and no user_id shuffle of the fact. All-integer counts; the "
        "ratio divides two exact integers. Oracle recomputes both weeks "
        "as DISTINCT sets and intersects by join",
)
def bitmap_retention_intersect(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    wk = (e.filter((F.col("ts") >= "2024-01-01")
                   & (F.col("ts") < "2024-01-15"))
          .select(F.when(F.col("ts") < "2024-01-08", 1).otherwise(2)
                  .alias("week"),
                  (F.col("user_id") + 1).alias("uid")))
    per_bucket = (wk.groupBy("week",
                             F.expr("bitmap_bucket_number(uid)")
                             .alias("bucket"))
                  .agg(F.expr("bitmap_construct_agg("
                              "bitmap_bit_position(uid))").alias("bm"))
                  .cache())
    weekly = (per_bucket
              .groupBy("week")
              .agg(F.sum(F.expr("bitmap_count(bm)")).alias("n")))
    union_n = (per_bucket.groupBy("bucket")
               .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
               .agg(F.sum(F.expr("bitmap_count(bm)")).alias("nu")))
    n1 = weekly.filter(F.col("week") == 1).select(F.col("n").alias("n1"))
    n2 = weekly.filter(F.col("week") == 2).select(F.col("n").alias("n2"))
    return (n1.crossJoin(n2).crossJoin(union_n)
            .select(F.col("n1").cast("bigint").alias("n_week1"),
                    F.col("n2").cast("bigint").alias("n_week2"),
                    (F.col("n1") + F.col("n2") - F.col("nu")).cast("bigint")
                    .alias("n_retained"),
                    F.round((F.col("n1") + F.col("n2") - F.col("nu"))
                            .cast("double") / F.col("n1"), 6)
                    .alias("retention")))


@query(
    "agg_kll_quantiles",
    """
    WITH cents AS (
      SELECT event_type,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
      FROM events
    ),
    med AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(QUANTILE_DISC(c, 0.5) AS BIGINT) AS exact_median_cents
      FROM cents GROUP BY event_type
    )
    SELECT event_type, n, exact_median_cents,
           1 AS rank_ok, 1 AS n_exact
    FROM med ORDER BY event_type
    """,
    doc="mergeable quantiles with KLL sketches (Apache DataSketches, "
        "Spark 4): one kll_sketch_agg_bigint per (event_type, day), "
        "kll_merge day sketches up to event_type — the 100 TB rollup "
        "pattern for percentile dashboards: per-shard sketches persist "
        "once and re-merge along any dimension without rescanning raw "
        "data (the quantile analog of agg_hll_sketch). Values fix to "
        "integer cents so the exact side is a pure order statistic "
        "(QUANTILE_DISC — no interpolation float). The binary sketch "
        "isn't replayable in DuckDB, so the oracled contract is: "
        "n_exact — KLL tracks the stream length EXACTLY, so get_n == "
        "COUNT(*) must hold bit-for-bit even though quantiles are "
        "approximate — plus rank_ok: the sketch's rank estimate of the "
        "TRUE median sits in [0.45, 0.55] (k=200 guarantees ~1.65% "
        "rank error at 99% confidence; 5% is a 3x margin, not a "
        "knife edge)",
)
def agg_kll_quantiles(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    cents = e.select(
        "event_type", F.to_date("ts").alias("day"),
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("c"))
    daily = (cents.groupBy("event_type", "day")
             .agg(F.expr("kll_sketch_agg_bigint(c, 200)").alias("sk")))
    merged = (daily.groupBy("event_type")
              .agg(F.expr("kll_merge_agg_bigint(sk)").alias("sk")))
    exact = (cents.groupBy("event_type")
             .agg(F.count("*").cast("bigint").alias("n"),
                  F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY c)")
                  .cast("bigint").alias("exact_median_cents"),
                  F.expr("percentile_disc(0.45) WITHIN GROUP (ORDER BY c)")
                  .cast("bigint").alias("q45"),
                  F.expr("percentile_disc(0.55) WITHIN GROUP (ORDER BY c)")
                  .cast("bigint").alias("q55")))
    est = F.expr("kll_sketch_get_quantile_bigint(sk, 0.5)")
    return (merged.join(exact, "event_type")
            .select("event_type", "n", "exact_median_cents",
                    ((est >= F.col("q45")) & (est <= F.col("q55")))
                    .cast("int").alias("rank_ok"),
                    (F.expr("kll_sketch_get_n_bigint(sk)") == F.col("n"))
                    .cast("int").alias("n_exact"))
            .orderBy("event_type"))


@query(
    "agg_theta_set_ops",
    """
    WITH c AS (SELECT DISTINCT user_id FROM events
               WHERE event_type = 'click'),
         p AS (SELECT DISTINCT user_id FROM events
               WHERE event_type = 'purchase')
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS exact_click,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS exact_purchase,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM (SELECT user_id FROM c UNION SELECT user_id FROM p))
             AS exact_union,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM c JOIN p USING (user_id)) AS exact_intersect,
           1 AS union_ok, 1 AS intersect_ok
    """,
    doc="distinct-count SET ALGEBRA with Theta sketches (Apache "
        "DataSketches, Spark 4): audience overlap — |click ∪ purchase| "
        "and |click ∩ purchase| from two theta_sketch_agg sketches via "
        "theta_union / theta_intersection — the operation HLL cannot do "
        "(HLL unions but never intersects). At 100 TB each segment's "
        "sketch is built once in one scan and any pairwise overlap "
        "matrix is then sketch-side algebra, no re-scan, no n² "
        "COUNT(DISTINCT) joins. Binary sketches aren't replayable in "
        "DuckDB, so the oracle pins the EXACT four cardinalities "
        "(distinct-user rollups + one equi-join) and the contract "
        "booleans assert both estimates land within 5% of exact "
        "(lgK=12 -> RSE ~1.6%; intersections inflate error, hence the "
        "wider margin on a deliberately overlapping pair)",
)
def agg_theta_set_ops(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    sk = (e.filter(F.col("event_type").isin("click", "purchase"))
          .groupBy("event_type")
          .agg(F.expr("theta_sketch_agg(user_id, 12)").alias("sk")))
    w = sk.agg(
        F.max(F.when(F.col("event_type") == "click", F.col("sk")))
        .alias("sk_c"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("sk")))
        .alias("sk_p"))
    est = w.select(
        F.expr("theta_sketch_estimate(theta_union(sk_c, sk_p))")
        .alias("est_union"),
        F.expr("theta_sketch_estimate(theta_intersection(sk_c, sk_p))")
        .alias("est_intersect"))
    c = e.filter(F.col("event_type") == "click") \
        .select("user_id").distinct()
    p = e.filter(F.col("event_type") == "purchase") \
        .select("user_id").distinct()
    exact = (c.agg(F.count("*").cast("bigint").alias("exact_click"))
             .crossJoin(p.agg(F.count("*").cast("bigint")
                              .alias("exact_purchase")))
             .crossJoin(c.union(p).distinct()
                        .agg(F.count("*").cast("bigint")
                             .alias("exact_union")))
             .crossJoin(c.join(p, "user_id")
                        .agg(F.count("*").cast("bigint")
                             .alias("exact_intersect"))))
    ok = lambda est_c, ex_c: (  # noqa: E731
        F.abs(F.col(est_c) - F.col(ex_c))
        <= 0.05 * F.col(ex_c)).cast("int")
    return (est.crossJoin(exact)
            .select("exact_click", "exact_purchase", "exact_union",
                    "exact_intersect",
                    ok("est_union", "exact_union").alias("union_ok"),
                    ok("est_intersect", "exact_intersect")
                    .alias("intersect_ok")))


@query(
    "fn_url_parse",
    """
    SELECT doc_id,
           source || '.example.com' AS host,
           '/' || lang || '/doc-' || CAST(doc_id AS VARCHAR) AS path,
           'k=' || CAST(doc_id % 7 AS VARCHAR) AS query,
           CAST(doc_id % 7 AS VARCHAR) AS k_param
    FROM documents WHERE doc_id % 4 = 0
    """,
    doc="URL scalar functions — the ingest primitive every web-corpus "
        "pipeline needs (canonicalization, host-level dedup and "
        "source attribution all start at parse_url): a URL is built "
        "row-locally from base columns, then parse_url extracts HOST / "
        "PATH / QUERY and the k= parameter — all JVM built-ins inside "
        "whole-stage codegen, zero shuffles. The oracle computes the "
        "same RESULT from the base columns directly (the URL is "
        "row-local derived state — same proof shape as "
        "fn_map_higher_order), so the hash match proves the parse "
        "inverts the construction exactly",
)
def fn_url_parse(spark, sf_dir):
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 0)
    url = F.concat(F.lit("https://"), F.col("source"),
                   F.lit(".example.com/"), F.col("lang"),
                   F.lit("/doc-"), F.col("doc_id").cast("string"),
                   F.lit("?k="), (F.col("doc_id") % 7).cast("string"))
    return (d.withColumn("url", url)
            .select("doc_id",
                    F.expr("parse_url(url, 'HOST')").alias("host"),
                    F.expr("parse_url(url, 'PATH')").alias("path"),
                    F.expr("parse_url(url, 'QUERY')").alias("query"),
                    F.expr("parse_url(url, 'QUERY', 'k')")
                    .alias("k_param")))


@query(
    "fn_url_canonicalize",
    """
    WITH base AS (
      SELECT doc_id, source, lang,
             CAST(doc_id % 7 AS VARCHAR) AS k,
             CAST(doc_id % 3 AS VARCHAR) AS b
      FROM documents WHERE doc_id % 5 = 0
    )
    SELECT doc_id,
           'https://' || source || '.example.com/' || lang || '/doc-'
             || CAST(doc_id AS VARCHAR) || '?b=' || b || '&k=' || k
             AS canonical_url,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 2 END AS BIGINT)
             AS n_variants,
           CASE WHEN doc_id % 2 = 0 THEN
             'HTTPS://' || UPPER(LEFT(source, 1)) || SUBSTR(source, 2)
               || '.Example.COM:443/' || lang || '/doc-'
               || CAST(doc_id AS VARCHAR) || '?utm_source=feed&k=' || k
               || '&b=' || b || '#frag'
           ELSE
             'https://' || source || '.example.com/' || lang || '/doc-'
               || CAST(doc_id AS VARCHAR) || '/?b=' || b || '&k=' || k
               || '&utm_campaign=promo'
           END AS kept_url
    FROM base
    """,
    doc="URL CANONICALIZATION dedup — the collapse step between "
        "parse_url and host-level dedup in every web-corpus pipeline "
        "(CommonCrawl-style): messy raw variants of each page "
        "(uppercase scheme+host, explicit :443, utm_* tracking params, "
        "param order, trailing slash, #fragment) are built row-locally, "
        "then canonicalized with JVM built-ins only — lower(parse_url "
        "HOST) (HOST drops the port), PATH with the trailing slash "
        "regexp-stripped, QUERY split on '&', utm_* filtered out, "
        "params array_sort-ed and rejoined (fragment never survives "
        "parse_url) — and grouped by the canonical form: n_variants "
        "counts the collapse (3 variants for even doc_ids, 2 for odd — "
        "the hash match proves EVERY variant landed on the same "
        "canonical), kept_url is the deterministic min-raw-URL keeper. "
        "Zero shuffles before the canonical groupBy, which is "
        "result-sized. The oracle computes canonical + keeper directly "
        "from the base columns (the URL is row-local derived state — "
        "the fn_url_parse proof shape), so the match proves the "
        "canonicalizer inverts every messiness the variants inject",
)
def fn_url_canonicalize(spark, sf_dir):
    d = (T(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
         .select("doc_id", "source", "lang",
                 (F.col("doc_id") % 7).cast("string").alias("k"),
                 (F.col("doc_id") % 3).cast("string").alias("b")))
    stem = F.concat(F.col("source"), F.lit(".example.com/"), F.col("lang"),
                    F.lit("/doc-"), F.col("doc_id").cast("string"))
    up = F.concat(F.upper(F.substring("source", 1, 1)),
                  F.substring("source", 2, 100))
    v0 = F.concat(F.lit("HTTPS://"), up, F.lit(".Example.COM:443/"),
                  F.col("lang"), F.lit("/doc-"),
                  F.col("doc_id").cast("string"),
                  F.lit("?utm_source=feed&k="), F.col("k"),
                  F.lit("&b="), F.col("b"), F.lit("#frag"))
    v1 = F.concat(F.lit("https://"), stem, F.lit("/?b="), F.col("b"),
                  F.lit("&k="), F.col("k"), F.lit("&utm_campaign=promo"))
    v2 = F.concat(F.lit("https://"), stem, F.lit("?k="), F.col("k"),
                  F.lit("&b="), F.col("b"))
    variants = F.when(F.col("doc_id") % 2 == 0, F.array(v0, v1, v2)) \
        .otherwise(F.array(v1, v2))
    raw = d.select("doc_id", F.explode(variants).alias("url"))
    canonical = F.concat(
        F.lit("https://"), F.lower(F.expr("parse_url(url,'HOST')")),
        F.regexp_replace(F.expr("parse_url(url,'PATH')"), "/$", ""),
        F.lit("?"),
        F.array_join(F.array_sort(F.filter(
            F.split(F.expr("parse_url(url,'QUERY')"), "&"),
            lambda p: ~p.startswith("utm_"))), "&"))
    return (raw.withColumn("canonical_url", canonical)
            .groupBy("doc_id", "canonical_url")
            .agg(F.count("*").cast("bigint").alias("n_variants"),
                 F.min("url").alias("kept_url")))
