"""Plan-quality gate: the scale contract of each operator class asserted on
the actual physical plan. A change that silently blocks predicate pushdown,
flips a broadcast join to sort-merge, drops map-side partial aggregation, or
adds a repacking shuffle to the pipeline fails here — at test scale — rather
than at 100 TB."""
import pytest

from process_nwb_spark.plans.inspect import (count_exchanges, count_scans,
                                             formatted_plan,
                                             has_broadcast_join,
                                             has_partial_aggregation,
                                             pushed_filters, read_schemas)
from process_nwb_spark.relational.core import all_queries

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def qs():
    return all_queries()


def test_filter_pushdown_reaches_scan(spark, qs):
    df = qs["proj_filter_case"].fn(spark, SF)
    pushed = pushed_filters(df)
    assert pushed, "no filters pushed into the parquet scan"
    assert any("l_quantity" in p or "l_returnflag" in p for p in pushed)


def test_column_pruning(spark, qs):
    df = qs["proj_filter_case"].fn(spark, SF)
    schemas = read_schemas(df)
    # lineitem has 16 columns; the projection needs a handful
    assert schemas and all(s.count(",") <= 7 for s in schemas), schemas


def test_dim_joins_broadcast(spark, qs):
    for name in ["join_inner_broadcast", "stream_static_join"]:
        df = qs[name].fn(spark, SF)
        assert has_broadcast_join(df), f"{name}: dim join not broadcast"


def test_pricing_summary_shape(spark, qs):
    df = qs["agg_pricing_summary"].fn(spark, SF)
    assert has_partial_aggregation(df), "agg not partial/map-side combined"
    assert count_exchanges(df) == 1, "Q1-style agg needs exactly one shuffle"
    assert any("l_shipdate" in p for p in pushed_filters(df)), \
        "date filter not pushed to scan"


def test_asof_join_aggregates_not_sorts(spark, qs):
    df = qs["join_asof"].fn(spark, SF)
    plan = formatted_plan(df, "simple")
    assert "Window" not in plan, "as-of should use max_by argmax, not window sort"
    assert has_partial_aggregation(df)


def test_lsh_single_pass_band_build(spark, qs):
    # explode-based band construction: one scan per side of the self-join,
    # not one per band (the unionAll formulation scanned 4x per side)
    df = qs["minhash_lsh_candidates"].fn(spark, SF)
    assert count_scans(df) <= 2, formatted_plan(df, "simple")
    df2 = qs["embed_ann_lsh"].fn(spark, SF)
    assert count_scans(df2) <= 2


def test_pipeline_two_shuffles(spark):
    from process_nwb_spark import preprocess
    from process_nwb_spark.synth import generate_synthetic_data, to_long_df

    X = generate_synthetic_data(1.0, 4, 1000.0, seed=0)
    res = preprocess(to_long_df(spark, X), 1000.0, 500.0, 250.0)
    # pack + packed-CAR repartition; kernels and unpack are narrow
    assert count_exchanges(res.tf) == 2, formatted_plan(res.tf, "simple")


@pytest.mark.parametrize("kw", [
    {}, {"abs_only": False, "final_resample_rate": None}, {"fuse": False}],
    ids=["default", "phase", "unfused"])
def test_pipeline_crosses_by_arrow_only(spark, kw):
    """Every preprocess plan (output, packed output and each lineage
    stage) crosses into Python by the Arrow maps only; the fused plans
    keep exactly 2 shuffles."""
    from process_nwb_spark import preprocess
    from process_nwb_spark.synth import generate_synthetic_data, to_long_df

    X = generate_synthetic_data(1.0, 4, 1000.0, seed=0)
    res = preprocess(to_long_df(spark, X), 1000.0, 500.0,
                     **{"final_resample_rate": 250.0, **kw})
    for df in (res.tf, res.tf_packed, *res.stages.values()):
        plan = formatted_plan(df, "simple")
        assert "MapInPandas" not in plan, plan
        assert "FlatMapGroupsInPandas" not in plan, plan
    if kw.get("fuse", True):
        assert count_exchanges(res.tf) == 2, formatted_plan(res.tf, "simple")


def test_stft_is_one_shuffle(spark):
    """The STFT plan: narrow frame-explode -> ONE shuffle on
    (series, channel, frame) -> per-frame kernel. No whole-channel state,
    no second exchange — the frame is the unit of parallelism."""
    from process_nwb_spark.operators.stft import stft_power
    from process_nwb_spark.synth import generate_synthetic_data, to_long_df

    X = generate_synthetic_data(1.0, 2, 1000.0, seed=0)
    st = stft_power(to_long_df(spark, X), frame_len=128, hop=64)
    assert count_exchanges(st) == 1, formatted_plan(st, "simple")


def test_zscore_tail_adds_bounded_shuffles(spark):
    """The default high-gamma plan keeps the pipeline's 2 shuffles: the
    z-score and band mean run inside the CAR->wavelet group map, so
    nothing above it aggregates or evaluates a JVM array lambda."""
    from process_nwb_spark import high_gamma_trace, preprocess
    from process_nwb_spark.synth import generate_synthetic_data, to_long_df

    X = generate_synthetic_data(1.0, 4, 1000.0, seed=0)
    res = preprocess(to_long_df(spark, X), 1000.0, 500.0, 250.0)
    hg = high_gamma_trace(res, 0.25, 250.0)
    plan = formatted_plan(hg, "simple")
    assert count_exchanges(hg) == 2, plan
    tail = plan[:plan.index("FlatMapGroupsInArrow")]   # top-down text
    assert "lambdafunction" not in tail, plan
    assert "ObjectHashAggregate" not in tail, plan


def test_segmented_plan_moves_packed_segments(spark):
    """The default segmented preprocess -> high_gamma_trace plan gathers
    the long rows once and then moves packed segment rows only: no
    pandas group map, no Window (the long CAR and z-score are gone), no
    JVM array lambda, and 4 data shuffles — the gather, the CAR group,
    the stage-B group and the tail's sort — plus the `_n_time` aggregate,
    whose result is broadcast."""
    from process_nwb_spark import high_gamma_trace, preprocess
    from process_nwb_spark.synth import generate_synthetic_data, to_long_df

    X = generate_synthetic_data(1.0, 4, 1000.0, seed=0)
    res = preprocess(to_long_df(spark, X), 1000.0, 500.0, 250.0,
                     segmented=True)
    hg = high_gamma_trace(res, 0.25, 250.0)
    plan = formatted_plan(hg, "simple")
    for node in ("FlatMapGroupsInPandas", "MapInPandas", "Window",
                 "lambdafunction"):
        assert node not in plan, (node, plan)
    assert count_exchanges(hg) == 5, plan
    assert plan.count("BroadcastExchange") == 1, plan
    assert plan.count("FlatMapGroupsInArrow") == 2, plan


def test_fact_fact_join_is_sort_merge(spark, qs):
    df = qs["join_sortmerge_large"].fn(spark, SF)
    plan = formatted_plan(df, "simple")
    assert "SortMergeJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan  # never broadcast a fact table
    assert any("o_orderstatus" in p for p in pushed_filters(df))


def test_dedup_text_shuffle_budgets(spark, qs):
    """Shuffle-count contracts for the training-data ops: one spread of
    the small input plus the operator's own aggregation — nothing more.
    (A regression that adds a join-back or re-explosion shows up here.)"""
    budgets = {"dedup_exact": 2, "minhash_signatures": 2,
               # simhash: hash-repartition on doc_id up front satisfies all
               # three chained aggs' ClusteredDistribution as a subset ->
               # exactly one exchange end-to-end
               "simhash_fingerprints": 1, "doc_fingerprint_winnow": 2,
               "text_quality": 0,
               # corpus assembly: hash-splits are pure narrow projections
               # (THE reason they beat randomSplit at scale); packing pays
               # exactly its per-source window shuffle; contamination pays
               # spread + distinct + join + final agg
               "split_train_test": 0, "sample_stratified": 0,
               "pack_sequences": 1, "split_contamination": 4}
    for name, budget in budgets.items():
        got = count_exchanges(qs[name].fn(spark, SF))
        assert got <= budget, f"{name}: {got} exchanges > budget {budget}"


def test_curation_single_shuffle(spark):
    from process_nwb_spark.llm.curation import curate
    from process_nwb_spark.relational.core import T

    assert count_exchanges(curate(T(spark, SF, "documents"))) == 1


def test_assemble_two_shuffles(spark):
    """curate->split->pack end-to-end pays exactly the dedup window + the
    packing window; gates and the hash split stay narrow."""
    from process_nwb_spark.llm.curation import assemble
    from process_nwb_spark.relational.core import T

    assert count_exchanges(assemble(T(spark, SF, "documents"))) == 2


def test_subqueries_decorrelate_to_joins(spark, qs):
    """Catalyst must rewrite EXISTS/IN to semi joins and NOT EXISTS to an
    anti join — a per-row re-execution (no join node) would be quadratic
    at scale. The scalar-threshold subquery must reach the scan as a
    pushed filter's sibling (a Filter over the scan, one extra tiny job),
    and correlated scalar subqueries must become aggregate+join."""
    plan = formatted_plan(qs["sub_exists_returned"].fn(spark, SF), "simple")
    assert "LeftSemi" in plan, plan
    plan = formatted_plan(qs["sub_not_exists_customers"].fn(spark, SF),
                          "simple")
    assert "LeftAnti" in plan, plan
    plan = formatted_plan(qs["sub_in_region_suppliers"].fn(spark, SF),
                          "simple")
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan, plan
    plan = formatted_plan(qs["sub_scalar_correlated"].fn(spark, SF),
                          "simple")
    assert "Join" in plan and "HashAggregate" in plan, plan


def test_pivot_single_scan_two_phase(spark, qs):
    """Pivot with explicit values is one scan + Spark's two-phase plan:
    a partial-aggregated groupBy(group, pivot) pass over the facts, then
    a PivotFirst re-aggregation whose input is only |groups x values|
    rows — the second shuffle is O(result), not O(data). No
    distinct-value discovery pass (that would be a third scan/shuffle)."""
    df = qs["pivot_qty_by_flag"].fn(spark, SF)
    assert count_scans(df) == 1
    assert count_exchanges(df) == 2
    assert has_partial_aggregation(df)


def test_unpivot_is_narrow_single_scan(spark, qs):
    """unpivot is an Expand over one scan — zero shuffles (the UNION ALL
    oracle pays two scans; the engine plan must not)."""
    df = qs["unpivot_part_measures"].fn(spark, SF)
    assert count_scans(df) == 1
    assert count_exchanges(df) == 0


def test_global_index_never_single_partition(spark, qs):
    """global_row_index's contract: a dense global index WITHOUT funneling
    the data through one partition. The physical plan must not contain the
    SinglePartition exchange that an unpartitioned ORDER BY window inserts,
    and the bucket-offset join-back must be broadcast."""
    df = qs["global_row_index"].fn(spark, SF)
    plan = formatted_plan(df, "formatted")
    import re
    windows = [l for l in plan.splitlines() if "Window" in l]
    assert windows, plan
    # the only SinglePartition allowed is the 32-row offset cumsum side
    single = re.findall(r"SinglePartition", plan)
    assert len(single) <= 1, plan
    assert has_broadcast_join(df), plan


def test_histogram_partial_agg(spark, qs):
    """agg_histogram must map-side combine: shuffle volume is O(buckets),
    not O(rows)."""
    df = qs["agg_histogram"].fn(spark, SF)
    assert has_partial_aggregation(df)
    assert count_exchanges(df) <= 1


def test_topk_avoids_global_sort(spark, qs):
    """orderBy+limit must compile to TakeOrderedAndProject (per-partition
    top-k merged on the driver), never a full global Sort+Exchange."""
    df = qs["sort_nulls_limit"].fn(spark, SF)
    plan = formatted_plan(df, "simple")
    assert "TakeOrderedAndProject" in plan, plan


def test_star_join_dims_broadcast(spark, qs):
    """The Q5-shape star: every dimension side (region, nation, supplier)
    joins by broadcast; predicates reach the scans. Only fact-fact joins
    may shuffle."""
    df = qs["star_local_revenue"].fn(spark, SF)
    assert has_broadcast_join(df)
    pushed = " ".join(pushed_filters(df))
    assert "r_name" in pushed and "o_orderdate" in pushed, pushed


def test_partitioned_read_prunes_partitions(spark, qs):
    """sink_partitioned_prune's read-back must resolve the lang predicate
    against the directory layout: PartitionFilters present, and the
    pruned-partition count below the full 5-language layout."""
    df = qs["sink_partitioned_prune"].fn(spark, SF)
    plan = formatted_plan(df, "formatted")
    assert "PartitionFilters" in plan, plan
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "lang" in m.group(1), plan


def test_event_analytics_shuffle_budgets(spark, qs):
    """Shuffle-count contracts for the event-analytics window programs:
    funnel's three chained windows and SCD2's lag+lead pair each ride ONE
    user-keyed exchange; interpolation pays points-agg + user-dim +
    window; retention is fold + rollup."""
    budgets = {"funnel_conversion": 2, "scd2_status_history": 1,
               "ts_linear_interp": 3, "retention_cohorts": 2}
    for name, budget in budgets.items():
        df = qs[name].fn(spark, SF)
        n = count_exchanges(df)
        assert n <= budget, f"{name}: {n} exchanges > budget {budget}"


def test_retrieval_plans(spark, qs):
    """Sparse-retrieval plan contracts: BM25 partially aggregates and
    takes its top-10 without a global sort; TF-IDF broadcasts the
    document-frequency table back rather than shuffling it."""
    bm = qs["text_bm25_search"].fn(spark, SF)
    plan = formatted_plan(bm, "simple")
    assert has_partial_aggregation(bm)
    assert "TakeOrderedAndProject" in plan, plan
    tfidf = qs["text_tfidf_topterms"].fn(spark, SF)
    assert has_broadcast_join(tfidf)


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """Runtime row-level filtering: a selective filter on the build side of
    a shuffle join must inject a bloom filter on the probe-side scan
    (might_contain over bloom_filter_agg) when thresholds allow. At 100 TB
    this is what keeps a fact-fact join from shuffling rows that can never
    match; the production conf enables it by default — this pins the
    capability so a conf regression is caught at test scale."""
    from pyspark.sql import functions as F
    from process_nwb_spark.relational.core import T

    saved = {k: spark.conf.get(k, None) for k in (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
    )}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "100MB")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter"
            ".applicationSideScanSizeThreshold", "0")
        o = (T(spark, SF, "orders")
             .filter(F.col("o_totalprice") > 400000).select("o_orderkey"))
        l = T(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
        j = l.join(o, l.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, "no bloom probe filter injected"
        assert "bloom_filter_agg" in plan, "no bloom build aggregate"
        # and the join still returns the right rows under the filter
        assert j.count() == l.join(o.hint("merge"),
                                   l.l_orderkey == o.o_orderkey).count()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_sessionize_and_journeys_shuffle_budgets(spark, qs):
    """Sessionization is a ONE-shuffle plan: the lag window and the running
    flag-sum share the user_id exchange, and Catalyst recognizes that
    hashpartitioning(user_id) already clusters the (user_id, session_no)
    groupBy — no re-shuffle for the per-session aggregate.
    Journey paths: one window shuffle + one partial-agg count shuffle,
    top-10 via TakeOrderedAndProject (never a global sort)."""
    sess = qs["event_sessionize"].fn(spark, SF)
    assert count_exchanges(sess) == 1, formatted_plan(sess)
    assert has_partial_aggregation(sess)

    j = qs["user_journey_paths"].fn(spark, SF)
    assert count_exchanges(j) == 2, formatted_plan(j)
    plan = formatted_plan(j)
    assert "TakeOrderedAndProject" in plan
    assert "Sort [n" not in plan


def test_large_orders_semi_join_broadcasts(spark, qs):
    """Q18 shape: the HAVING-filtered key set must broadcast back onto the
    fact scan (a shuffle here would re-key all of lineitem a third time),
    and both lineitem aggregations must combine map-side."""
    df = qs["star_large_orders"].fn(spark, SF)
    assert has_broadcast_join(df), formatted_plan(df)
    assert has_partial_aggregation(df)
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_behavior_analytics_shuffle_budgets(spark, qs):
    """Entity-keyed analytics stay on their entity shuffle: streaks pay
    dedup + user window; gap stats pay the custkey window plus the tiny
    segment rollup with the customer dim BROADCAST; session_funnel's
    sessionize window and all three conditional-min stages ride the
    user-keyed exchanges (subset-satisfaction: hashpartitioning(user_id)
    serves every (user_id, session_no) requirement downstream)."""
    from process_nwb_spark.plans.inspect import \
        count_single_partition_exchanges

    budgets = {"win_streaks": 2, "orders_gap_stats": 2, "session_funnel": 3}
    for name, budget in budgets.items():
        df = qs[name].fn(spark, SF)
        n = count_exchanges(df, include_single_partition=False)
        assert n <= budget, f"{name}: {n} exchanges > budget {budget}"
        # at most ONE SinglePartition funnel, and only as the final global
        # rollup over already-partially-aggregated rows (bounded input) —
        # never a data shuffle
        assert count_single_partition_exchanges(df) <= 1, name
    assert has_broadcast_join(qs["orders_gap_stats"].fn(spark, SF))


def test_prefix_filter_join_is_partial_agged(spark, qs):
    """The prefix-filtered similarity join must partially aggregate its
    intersection counts, must NOT broadcast any per-document table (doc
    sizes ride on the shingle rows as a window-counted column — a per-doc
    broadcast is unbounded at corpus scale), and its exchange count must
    stay bounded — a regression that, e.g., recomputes the shingle
    explosion per stage shows up here first."""
    df = qs["jaccard_prefix_filter"].fn(spark, SF)
    assert has_partial_aggregation(df)
    n = count_exchanges(df)
    assert n <= 16, f"jaccard_prefix_filter: {n} exchanges"
    # the verification join carries n_sh on its rows; no forced BROADCAST
    # hint anywhere (merge hints are fine — they force the scale-correct
    # sort-merge strategy; a broadcast of a per-document table is the
    # unbounded anti-pattern this test guards against)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "strategy=broadcast" not in analyzed, analyzed


def test_tpch_shape_plans(spark, qs):
    """Q8/Q17/Q21 scale contracts. Market share: every dim side broadcast,
    predicates (p_type, r_name) pushed to the scans, conditional-sum share
    in one partial aggregate. Q17: the brand filter broadcasts, and the
    correlated AVG rides ONE part-keyed window shuffle — no second
    lineitem scan. Q21: the sole-late-supplier rewrite pays the order-keyed
    aggregate plus the tiny culprit rollup (supplier join broadcast) —
    never the triple lineitem self-shuffle of the decorrelated form."""
    ms = qs["star_market_share"].fn(spark, SF)
    assert has_broadcast_join(ms)
    assert has_partial_aggregation(ms)
    pushed = " ".join(pushed_filters(ms))
    assert "p_type" in pushed and "r_name" in pushed, pushed

    q17 = qs["sub_small_qty_revenue"].fn(spark, SF)
    assert has_broadcast_join(q17)
    assert count_scans(q17) <= 2, "Q17 must not rescan lineitem"

    q21 = qs["sub_late_sole_supplier"].fn(spark, SF)
    assert has_broadcast_join(q21)
    assert count_scans(q21) <= 3, \
        "Q21 rewrite scans each of lineitem/orders/supplier exactly once"
    n = count_exchanges(q21)
    assert n <= 4, f"sub_late_sole_supplier: {n} exchanges"


def test_disjunctive_predicates_push_into_both_scans(spark, qs):
    """Q19 shape: Catalyst must extract the common conjuncts of the
    OR-of-ANDs and push them into BOTH parquet scans — the quantity
    range union into lineitem, the brand/size union into part."""
    df = qs["disjunctive_revenue"].fn(spark, SF)
    pushed = "\n".join(pushed_filters(df))
    assert "l_quantity" in pushed and "Or(" in pushed
    assert "p_brand" in pushed and "p_size" in pushed


def test_q22_exact_threshold_is_broadcast_not_float_avg(spark, qs):
    """Q22 shape: the positive-balance aggregate is a one-row broadcast
    (cross join), the no-recent-orders test a LEFT ANTI join, and no AVG
    appears anywhere — membership is integer cross-multiplication."""
    df = qs["idle_customers_balance"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "LeftAnti" in plan
    assert "avg(" not in plan.lower()


def test_ngram_novelty_single_shingle_shuffle(spark, qs):
    """The first-seen flag must ride ONE shingle-keyed window shuffle —
    an agg + join-back formulation would scan/shuffle the shingle
    stream twice (two parquet scans of documents)."""
    df = qs["ngram_novelty"].fn(spark, SF)
    assert count_scans(df) == 1, formatted_plan(df)


def test_granger_moments_partial_aggregate(spark, qs):
    """Granger's ten moment sums must partial-aggregate map-side; the
    whole estimator is join + one agg + projection (no extra shuffles
    beyond lag windows and the pair join)."""
    df = qs["sig_granger_dir"].fn(spark, SF)
    assert has_partial_aggregation(df), formatted_plan(df)


def test_delay_estimate_windows_on_correlogram_not_samples(spark, qs):
    """estimate_delays ranks over the pairs x lags correlogram — the
    plan's window must sit above the moment AGGREGATE (model-sized
    input), not above the raw joined samples."""
    plan = formatted_plan(qs["sig_delay_estimate"].fn(spark, SF))
    agg_pos = plan.lower().find("hashaggregate")
    win_pos = plan.find("Window")
    assert agg_pos != -1 and win_pos != -1


def test_tpch_completion_batch_plans(spark, qs):
    """Scale contracts of the late-r7 TPC-H completions. Q2: the region
    prune reaches the supplier side before the per-pair cost aggregate and
    all dims broadcast. Q6: pure scan-filter-aggregate — one scan, no join,
    the shipdate/discount/quantity predicates pushed into the parquet scan.
    Q9: part/supplier/nation broadcast around the single fact scan. Q11:
    the 0.1% threshold re-aggregates the per-part sums (no second fact
    scan) and joins back as a one-row broadcast. Q16: the complaint
    exclusion is a broadcast LEFT ANTI, distinct-count partial-aggregates.
    Q20: ONE name-filtered fact scan computes both the 1997 slice and the
    all-time total (conditional sum), EXISTS becomes a LEFT SEMI."""
    q2 = qs["min_cost_supplier"].fn(spark, SF)
    assert has_broadcast_join(q2)
    pushed = " ".join(pushed_filters(q2))
    assert "r_name" in pushed and "p_size" in pushed, pushed

    q6 = qs["forecast_revenue_delta"].fn(spark, SF)
    assert count_scans(q6) == 1
    p6 = " ".join(pushed_filters(q6))
    assert "l_discount" in p6 and "l_quantity" in p6, p6
    assert "Join" not in formatted_plan(q6)

    q9 = qs["product_type_profit"].fn(spark, SF)
    assert has_broadcast_join(q9)
    assert has_partial_aggregation(q9)
    assert "p_name" in " ".join(pushed_filters(q9))

    q11 = qs["important_part_value"].fn(spark, SF)
    assert count_scans(q11) <= 3, \
        "Q11 total must re-aggregate per-part sums, not rescan the fact"
    assert "avg(" not in formatted_plan(q11).lower()

    q16 = qs["supplier_cnt_by_part"].fn(spark, SF)
    plan16 = formatted_plan(q16)
    assert "LeftAnti" in plan16 and has_broadcast_join(q16)
    assert has_partial_aggregation(q16)

    q20 = qs["surge_part_suppliers"].fn(spark, SF)
    plan20 = formatted_plan(q20)
    assert "LeftSemi" in plan20
    assert count_scans(q20) <= 5, \
        "Q20 must fold the year slice and all-time total into ONE " \
        "conditional-sum pass (each of the 5 tables scanned exactly once)"


def test_bpe_pairs_one_scan_no_python(spark, qs):
    # the word-frequency collapse means ONE corpus scan; pair explosion is
    # sequence+substring in codegen, never a Python crossing
    df = qs["bpe_pair_counts"].fn(spark, SF)
    plan = formatted_plan(df)
    assert count_scans(df) == 1, "BPE pair counting must scan the corpus once"
    assert "Python" not in plan and "ArrowEval" not in plan
    assert has_partial_aggregation(df)


def test_bfs_unroll_is_linear_not_exponential(spark, qs):
    # the frontier must be referenced once per round: a union-of-self
    # formulation doubles the lineage every round (2^hops exchanges)
    df = qs["graph_bfs_hops"].fn(spark, SF)
    # 4 rounds x (join + min-agg) + edge build + final: well under the
    # ~140-exchange blow-up of the double-reference form
    assert count_exchanges(df) <= 30, \
        "BFS plan grew superlinearly in hops — frontier referenced twice?"


def test_acf_day_rollup_cached_single_fact_scan(spark, qs):
    # the day rollup feeds both sides of the lag self-join; the cache is
    # what keeps the 100 TB fact from being scanned twice
    df = qs["ts_acf"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "InMemoryTableScan" in plan, \
        "ts_acf day rollup not cached — fact would be scanned twice"


def test_hard_negatives_anchors_broadcast(spark, qs):
    df = qs["embed_hard_negatives"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or has_broadcast_join(df), \
        "anchor table must broadcast, never shuffle the embedding column"


def test_collocations_one_scan_no_python(spark, qs):
    # bigrams come from slice/zip of the token array IN PLAN — one corpus
    # scan feeds both unigram and bigram counts? (two branches, so <= 2
    # scans) and no Python crossing anywhere
    df = qs["text_collocations_pmi"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "Python" not in plan and "ArrowEval" not in plan
    assert has_partial_aggregation(df)
    # corpus scanned at most twice (token branch x {unigram, bigram});
    # N and both unigram attaches REUSE the cached count tables, so the
    # DISTINCT parquet scan nodes (ids repeat under reused
    # InMemoryRelations) stay at 2 even though 4 references appear
    import re
    distinct_scans = set(re.findall(r"Scan parquet\s+\((\d+)\)", plan))
    assert len(distinct_scans) <= 2, plan.count("Scan parquet")
    assert "InMemoryTableScan" in plan


def test_containment_df_cut_before_pair_join(spark, qs):
    # the df<=50 stop-shingle cut bounds the shingle self-join (a hot
    # shingle in d docs contributes d^2 candidate pairs); the face's
    # dataflow joins the FILTERED side, so assert the cut exists in the
    # physical plan at all (a refactor that drops it passes no-Python
    # checks but reopens the quadratic)
    df = qs["text_ngram_containment"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "Python" not in plan and "ArrowEval" not in plan
    assert has_partial_aggregation(df)
    assert "<= 50" in plan, "df<=50 stop-shingle cut missing from plan"


def test_daily_rollup_faces_cache_fact(spark, qs):
    # these faces all self-join the (type, day) rollup — the cache keeps
    # the 100 TB fact at ONE scan (the ts_acf contract, extended)
    for name in ("ts_mase_backtest", "ts_corr_matrix", "ts_pacf"):
        df = qs[name].fn(spark, SF)
        plan = formatted_plan(df)
        assert "InMemoryTableScan" in plan, \
            f"{name}: day rollup not cached — fact scanned twice"


def test_bollinger_single_shuffle_window(spark, qs):
    # rollup agg + one type-keyed window + output sort: nothing else
    df = qs["ts_bollinger_daily"].fn(spark, SF)
    assert has_partial_aggregation(df)
    assert count_exchanges(df) <= 3, \
        "bollinger grew extra shuffles beyond rollup/window/sort"


def test_welch_t_one_scan_per_side_no_window(spark, qs):
    # closed-form conditional agg: no window operator should appear
    df = qs["abtest_welch_t"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "Window" not in plan, "Welch t must be pure aggregation"
    assert has_broadcast_join(df), "customer dim join must broadcast"


def test_matryoshka_one_corpus_pass_no_join_overlap(spark, qs):
    # both rankings ride one anchor-keyed shuffle; overlap is a
    # conditional count, not a top-5 x top-5 self-join
    df = qs["embed_matryoshka_eval"].fn(spark, SF)
    plan = formatted_plan(df)
    assert plan.count("SortMergeJoin") == 0, \
        "overlap must be a conditional count, not a join"
    assert count_scans(df, "parquet") <= 2  # corpus + anchor branch


def test_binary_quant_all_integer_no_python(spark, qs):
    df = qs["embed_binary_quant"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "Python" not in plan and "ArrowEval" not in plan
    # packed table + anchor branch only
    assert count_scans(df, "parquet") <= 2


def test_vshape_windows_share_one_shuffle(spark, qs):
    # lag + row_number ride the SAME type-keyed sort; the islands window
    # adds one more keyed exchange; run join + trough attach + sort
    df = qs["seq_pattern_vshape"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "InMemoryTableScan" in plan, "daily rollup must be cached"
    assert "Python" not in plan


def test_bucketed_join_no_exchange_no_sort(spark, qs):
    # bucketBy(orderkey) on BOTH sides: the SMJ must consume the bucket
    # layout directly — any Exchange or Sort on a join input means the
    # write-time organization was thrown away and the 100 TB join would
    # re-shuffle both facts. At sf0.01 the orders side fits the broadcast
    # threshold (also exchange-free, but that's not the contract under
    # test), so pin the threshold off to surface the fact-to-fact shape.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # scan output ORDERING from sorted buckets is gated behind a legacy
    # flag (verifying one-file-per-bucket costs a listing at planning
    # time); the write path produces one file per bucket exactly so this
    # is safe to enable here and demonstrates the full Sort elision too
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering",
                   "true")
    try:
        df = qs["join_bucketed_colocated"].fn(spark, SF)
        plan = formatted_plan(df)
        tree = formatted_plan(df, "simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering",
                       "false")
    assert "Bucketed: true" in plan, plan
    assert "SortMergeJoin" in plan, plan
    # exactly ONE exchange total: the post-join rollup on the derived
    # key. Neither join input re-shuffles (bucket layout is the
    # partitioning) nor re-sorts (one file per bucket, sorted at write).
    assert count_exchanges(df) == 1, tree
    below_join = tree.split("SortMergeJoin", 1)[1]
    assert "Sort" not in below_join, tree


def test_kgram_profile_single_gram_pass(spark, qs):
    # gram positions persist once and feed BOTH the df count and the
    # profile join: exactly one documents scan in the plan
    df = qs["text_kgram_dup_profile"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "InMemoryTableScan" in plan, "gram positions must be persisted"
    assert "Python" not in plan


def test_chunk_overlap_no_shuffle(spark, qs):
    # chunking is row-local: explode inside the scan stage, zero exchanges
    # beyond the input spread
    df = qs["text_chunk_overlap"].fn(spark, SF)
    assert count_exchanges(df) <= 1, formatted_plan(df, "simple")
    plan = formatted_plan(df)
    assert "Python" not in plan


def test_cms_sketch_bounded_and_partial(spark, qs):
    # the sketch build folds map-side (partial agg) and the probe join
    # broadcasts the <=1024-cell sketch
    df = qs["agg_count_min_sketch"].fn(spark, SF)
    assert has_partial_aggregation(df)
    assert has_broadcast_join(df), "CMS probe must broadcast the sketch"


def test_runtime_bloom_filter_injected_on_selective_join(spark):
    # Spark's InjectRuntimeFilter: a selective filter on the small side
    # of a shuffle join grows a bloom_filter_agg, and the FACT side gets
    # a might_contain() pre-filter — rows that cannot join are dropped
    # before the shuffle. At 100 TB this is the difference between
    # shuffling the whole fact table and shuffling the ~matching slice.
    # The thresholds are sized for real data; at sf0.01 the application
    # side is far below the 10 GB scan threshold, so lower it to observe
    # the injection (the conf Spark itself uses, not a private hook).
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "0",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        import pyspark.sql.functions as F
        o = (spark.read.parquet(f"{SF}/orders.parquet")
             .filter("o_orderpriority = '1-URGENT' "
                     "AND o_totalprice > 200000"))
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        j = (li.join(o, li.l_orderkey == o.o_orderkey)
             .groupBy("o_orderpriority").count())
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        phys = j._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert "bloom_filter_agg" in opt, opt
    assert "might_contain" in phys, phys


def test_key_skew_profile_one_scan_partial_agg(spark, qs):
    # the 3-column fan-out is row-local (one lineitem scan); both aggs
    # fold map-side; no joins anywhere
    df = qs["dq_key_skew_profile"].fn(spark, SF)
    assert count_scans(df) == 1, formatted_plan(df, "simple")
    assert has_partial_aggregation(df)
    assert "Join" not in formatted_plan(df, "simple")


def test_url_parse_zero_shuffle(spark, qs):
    df = qs["fn_url_parse"].fn(spark, SF)
    assert count_exchanges(df) == 0, formatted_plan(df, "simple")
    assert "Python" not in formatted_plan(df)


def test_aqe_skew_join_splitter_activates(spark):
    # bench_skew MEASURES the adaptive win; this pins the MECHANISM: on
    # a 35%-hot key, AQE's OptimizeSkewedJoin must actually split the
    # skewed partition (the final adaptive plan tags the SMJ with
    # skew=true). Thresholds lowered to trigger at test size — the same
    # knobs a real cluster tunes when 256 MB partitions are fine but a
    # 2 GB straggler is not.
    import os
    import tempfile

    import pyspark.sql.functions as F

    from process_nwb_spark.benchdata import gen_skewed_events

    dest = os.path.join(tempfile.gettempdir(), "spark_graft_bench", "skew")
    gen_skewed_events(spark, dest)
    facts = spark.read.parquet(os.path.join(dest, "skew_facts.parquet"))
    dims = spark.read.parquet(os.path.join(dest, "skew_dims.parquet"))

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        j = (facts.join(dims.hint("merge"), "key")
             .groupBy("attr").agg(F.sum("value").alias("v")))
        # run THROUGH the DataFrame's own QueryExecution (a write would
        # plan a separate execution whose adaptive plan we can't read)
        j.collect()
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final, "adaptive plan did not finalize"
    finally:
        for k, v in prev.items():
            if v is not None:
                spark.conf.set(k, v)
    assert "skew=true" in final, final[:2000]


def test_dynamic_partition_pruning_on_star_join(spark):
    # The third runtime-pruning lever beside bloom filters and AQE skew:
    # a partitioned fact scan joined to a FILTERED dim must carry a
    # dynamicpruningexpression in its PartitionFilters — pruned
    # partitions are skipped at runtime using the dim join keys, before
    # any fact bytes are read. At 100 TB with date-partitioned facts
    # this is the difference between scanning 7 years and scanning the
    # selected ones.
    import os
    import tempfile

    import pyspark.sql.functions as F

    out = os.path.join(tempfile.gettempdir(), "pnwb_dpp_orders")
    (spark.read.parquet(f"{SF}/orders.parquet")
     .withColumn("oyear", F.year(F.col("o_orderdate").cast("date")))
     .write.mode("overwrite").partitionBy("oyear").parquet(out))
    facts = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [(y, "odd" if y % 2 else "even") for y in range(1992, 1999)],
        "dyear int, tag string")
    j = (facts.join(dim.filter(F.col("tag") == "odd"),
                    facts.oyear == dim.dyear)
         .groupBy("tag").agg(F.count("*").alias("n")))
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan, plan[:2000]


def test_hysteresis_single_rollup_no_join(spark, qs):
    # hourly rollup -> two windows over the SAME (empty-partition) sort;
    # no self-join of errors vs totals
    df = qs["alert_hysteresis_state"].fn(spark, SF)
    tree = formatted_plan(df, "simple")
    assert "Join" not in tree, tree
    assert has_partial_aggregation(df)


def test_freshness_broadcast_scalar_attach(spark, qs):
    df = qs["dq_freshness_lag"].fn(spark, SF)
    assert has_broadcast_join(df)
    assert has_partial_aggregation(df)


def test_join_cardinality_count_tables_not_fact_rescan(spark, qs):
    # two count rollups + their NDV-sized join, plus the rehearsal join
    # (which a production run would skip): 2 scans per table max
    df = qs["dq_join_cardinality"].fn(spark, SF)
    assert count_scans(df) <= 4, formatted_plan(df, "simple")
    assert has_partial_aggregation(df)


def test_epoch_shuffle_never_single_task_per_epoch(spark, qs):
    """mix_epoch_shuffle's scale contract (r10 fix): positions come from
    a 256-way bucketed row_number + broadcast offsets, NEVER a
    Window.partitionBy(epoch) whose 3 distinct values would sort each
    epoch's entire corpus in one task. The full-data row_number Window
    must partition on (epoch, bucket); the only epoch-only exchange
    allowed is the 256*epochs-row counts side; no SinglePartition."""
    import re

    df = qs["mix_epoch_shuffle"].fn(spark, SF)
    plan = formatted_plan(df, "formatted")
    assert "SinglePartition" not in plan, plan
    rn = [l for l in plan.splitlines()
          if "row_number()" in l and "windowspecdefinition" in l]
    assert rn, plan
    # the row_number spec's partition clause must include the bucket col
    assert all(re.search(r"\[epoch#\d+L?, _b#\d+\]", l) for l in rn), rn
    assert has_broadcast_join(df), plan


def test_lang_temperature_never_single_task_per_lang(spark, qs):
    """mix_lang_temperature ranks docs by hash WITHIN language, and one
    language can own half the corpus — the rank must come from the
    shared bucketed_hash_rank (md5-prefix buckets + broadcast offsets),
    never Window.partitionBy(lang) alone."""
    import re

    df = qs["mix_lang_temperature"].fn(spark, SF)
    plan = formatted_plan(df, "formatted")
    # the only SinglePartition allowed is the lang-count global weight
    # fold (5 rows) — the global_row_index allowance
    assert len(re.findall(r"SinglePartition", plan)) <= 1, plan
    rn = [l for l in plan.splitlines()
          if "row_number()" in l and "windowspecdefinition" in l]
    assert rn, plan
    assert all(re.search(r"\[lang#\d+, _b#\d+\]", l) for l in rn), rn
    assert has_broadcast_join(df), plan


def test_pack_epoch_stream_single_window_no_single_task(spark, qs):
    """mix_pack_epoch_stream computes position AND the running token
    sum from one bucketed_hash_rank call: the full-data window must
    partition on (epoch, bucket) — never epoch alone, whose 3 distinct
    values would serialize each epoch through one sort task — and both
    window expressions must share that ONE Window node (row_number and
    the weight prefix-sum ride the same spec)."""
    import re

    for sf in (SF, "/root/testdata/sf0.1"):
        df = qs["mix_pack_epoch_stream"].fn(spark, sf)
        plan = formatted_plan(df, "formatted")
        assert "SinglePartition" not in plan, plan
        rn = [l for l in plan.splitlines()
              if "row_number()" in l and "windowspecdefinition" in l]
        assert rn, plan
        assert all(re.search(r"\[epoch#\d+L?, _b#\d+\]", l)
                   for l in rn), rn
        # the running token sum shares the row_number's window spec line
        assert all("sum(n_tokens" in l for l in rn), rn
        # EXACTLY two Window nodes: the full-data (epoch, bucket) window
        # carrying both expressions, plus the metadata-sized per-bucket
        # offsets window. A silent regression to separate rank and
        # prefix-sum windows would add a third node — a second full-data
        # sort, doubling the face's shuffle-adjacent cost at 100 TB.
        assert len(re.findall(r"\(\d+\) Window", plan)) == 2, plan
        assert has_broadcast_join(df), plan


def test_token_budget_never_single_task_per_source(spark, qs):
    """mix_token_budget's running token sum is ordered by a NUMERIC key
    (score DESC) within low-cardinality sources — the single-task-window
    trap in its range-order form. The plan must route through
    bucketed_range_rank: the full-data window partitions on
    (source, score-grid bucket), never source alone; offsets arrive by
    broadcast; no SinglePartition anywhere."""
    import re

    for sf in (SF, "/root/testdata/sf0.1"):
        df = qs["mix_token_budget"].fn(spark, sf)
        plan = formatted_plan(df, "formatted")
        assert "SinglePartition" not in plan, plan
        # the face never selects the rank column, so Catalyst prunes
        # row_number out of the Window node entirely (asserted: the trap
        # would be a full-data window WITHOUT the bucket column) — the
        # running token sum is the one surviving window expression
        wn = [l for l in plan.splitlines()
              if "sum(n_tokens" in l and "windowspecdefinition" in l]
        assert wn, plan
        assert all(re.search(r"\[source#\d+, _b#\d+L?\]", l)
                   for l in wn), wn
        assert not any("row_number()" in l for l in wn), wn
        # EXACTLY two Window nodes: the full-data (source, bucket)
        # window and the metadata-sized offsets window — a regression to
        # a second full-data sort would surface here as a third node
        assert len(re.findall(r"\(\d+\) Window", plan)) == 2, plan
        assert has_broadcast_join(df), plan


def test_doremi_weights_single_scan_shape(spark, qs):
    """mix_doremi_weights' 100 TB cost must be ONE documents scan fanned
    into the domain rollup (cached, feeding both the normalizer fold and
    the output rows) — the weight arithmetic runs on a broadcast
    domains-sized table, never a corpus-sized join or window."""
    df = qs["mix_doremi_weights"].fn(spark, SF)
    plan = formatted_plan(df, "formatted")
    assert has_partial_aggregation(df), plan
    assert has_broadcast_join(df), plan
    # no corpus-sized window anywhere: the face is agg + arithmetic
    assert "Window" not in plan, plan


def test_curriculum_interleave_never_single_task_per_source(spark, qs):
    """mix_curriculum_interleave's per-source quality rank must route
    through bucketed_range_rank — the full-data row_number partitions on
    (source, score-grid bucket), never source alone; the only
    SinglePartition exchanges allowed are the two metadata-sized ones —
    the |sources|-row source_index window and the 1-row |sources| count
    (both the broadcast-offset idiom)."""
    import re

    df = qs["mix_curriculum_interleave"].fn(spark, SF)
    plan = formatted_plan(df, "formatted")
    assert len(re.findall(r"SinglePartition", plan)) <= 2, plan
    rn = [l for l in plan.splitlines()
          if "row_number()" in l and "windowspecdefinition" in l
          and "_b#" in l]
    assert rn, plan
    assert all(re.search(r"\[source#\d+, _b#\d+L?\]", l) for l in rn), rn
    assert has_broadcast_join(df), plan


def test_ndcg_topk_never_single_task_per_term(spark, qs):
    """rank_ndcg_eval's per-term top-k must come from bucketed_range_rank
    (terms are 4 literal values — the lowest-cardinality group in the
    repo, the worst single-task-window trap): the full-data row_number
    partitions on (term, bucket); tf >= 1 prunes before the rank
    shuffle; no SinglePartition."""
    import re

    df = qs["rank_ndcg_eval"].fn(spark, SF)
    plan = formatted_plan(df, "formatted")
    assert "SinglePartition" not in plan, plan
    rn = [l for l in plan.splitlines()
          if "row_number()" in l and "windowspecdefinition" in l]
    assert rn, plan
    assert all(re.search(r"\[term#\d+, _b#\d+L?\]", l) for l in rn), rn
    assert has_broadcast_join(df), plan


def test_survival_curve_single_scan(spark, qs):
    """quality_survival_curve must derive all 10 thresholds from ONE
    corpus scan reduced to the 11-row score-bucket rollup (cached) —
    never a rescan per threshold; the grid x bucket suffix sums join
    broadcast against that metadata-sized table."""
    df = qs["quality_survival_curve"].fn(spark, SF)
    plan = formatted_plan(df, "formatted")
    assert plan.count("documents.parquet") <= 1, plan
    assert has_partial_aggregation(df), plan
    assert has_broadcast_join(df), plan


def test_anneal_schedule_never_single_task_per_phase(spark, qs):
    """mix_anneal_schedule ranks both phases (a 2-value group — the
    worst single-task-window case) through ONE bucketed_hash_rank on
    (phase, md5-prefix bucket); the phase-0 count attaches as a
    broadcast scalar. No SinglePartition beyond that 1-row count."""
    import re

    df = qs["mix_anneal_schedule"].fn(spark, SF)
    plan = formatted_plan(df, "formatted")
    assert len(re.findall(r"SinglePartition", plan)) <= 1, plan
    rn = [l for l in plan.splitlines()
          if "row_number()" in l and "windowspecdefinition" in l]
    assert rn, plan
    assert all(re.search(r"\[phase#\d+, _b#\d+\]", l) for l in rn), rn
    assert has_broadcast_join(df), plan


def test_windows_pin_ignores_window_group_limit(spark):
    """windows_sit_above_aggregates must match exact Window exec nodes:
    WindowGroupLimit (the rank-prefilter Spark inserts below a
    top-k-filtered window) is an optimization node, not a window, and
    counting it would make the pin's verdict depend on whether the
    optimizer fired. Pin: a ranked filter over an aggregated frame
    stays True WITH the group-limit node present in the plan."""
    from pyspark.sql import Window, functions as F

    from process_nwb_spark.plans.inspect import (
        formatted_plan, windows_sit_above_aggregates)

    base = spark.range(1000).select(
        (F.col("id") % 50).alias("g"), (F.col("id") % 7).alias("k"),
        F.col("id").alias("v"))
    agg = base.groupBy("g", "k").agg(F.sum("v").alias("s"))
    w = Window.partitionBy("k").orderBy(F.desc("s"), "g")
    ranked = (agg.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= 2))
    plan = formatted_plan(ranked, "simple")
    assert "WindowGroupLimit" in plan, plan   # precondition: node present
    assert windows_sit_above_aggregates(ranked), plan


def test_windows_pin_resolves_reused_exchange(spark):
    """ReusedExchange is a CHILDLESS wrapper around an already-planned
    exchange; treating it as an un-aggregated leaf flips the pin to a
    spurious False whenever exchange reuse fires. Pin the unwrap
    directly: a self-join of one aggregate (AQE off so ReuseExchange
    resolves statically) contains a ReusedExchange node, the resolver
    steps through it to the real exchange subtree, and the pin still
    holds for a window above the joined aggregates."""
    from pyspark.sql import Window, functions as F

    from process_nwb_spark.plans.inspect import (
        _unwrap_adaptive, formatted_plan, windows_sit_above_aggregates)

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        base = spark.range(1000).select(
            (F.col("id") % 50).alias("g"), F.col("id").alias("v"))
        agg = base.groupBy("g").agg(F.sum("v").alias("s"))
        agg2 = agg.select("g", F.col("s").alias("s2"))
        j = agg.join(agg2, "g")
        ranked = j.withColumn(
            "rn", F.row_number().over(Window.orderBy("g")))
        plan = formatted_plan(ranked, "simple")
        assert "ReusedExchange" in plan, plan   # precondition
        assert windows_sit_above_aggregates(ranked), plan

        # unit: the resolver steps THROUGH the wrapper to a real node
        def find_reused(node):
            if node.nodeName().startswith("ReusedExchange"):
                return node
            cs = node.children()
            for i in range(cs.size()):
                r = find_reused(cs.apply(i))
                if r is not None:
                    return r
            return None

        root = ranked._jdf.queryExecution().executedPlan()
        reused = find_reused(_unwrap_adaptive(root))
        assert reused is not None, plan
        resolved = _unwrap_adaptive(reused)
        assert not resolved.nodeName().startswith("ReusedExchange")
        assert resolved.children().size() > 0 or \
            "Exchange" in resolved.nodeName()
    finally:
        spark.conf.unset("spark.sql.adaptive.enabled")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
