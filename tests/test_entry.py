"""Driver-contract and check-off-map consistency pins (no Spark session).

COVERAGE.md is the check-off map future rounds trust; its §2C headline
count drifted once (said 282 while the registry held 298), so the count
is now structural: this test recomputes it from `core.all_queries()`.
"""
import re
import os

import __spark_entry__ as entry
from process_nwb_spark.relational.core import all_queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_coverage_md_count_matches_registry():
    reg = all_queries()
    text = open(os.path.join(REPO, "COVERAGE.md")).read()
    m = re.search(r"(\d+) queries, \*\*(\d+) SQL-oracled", text)
    assert m, "COVERAGE.md lost its '<N> queries, **<N> SQL-oracled' line"
    assert int(m.group(1)) == len(reg), (
        f"COVERAGE.md says {m.group(1)} queries, registry has {len(reg)}")
    n_oracled = sum(1 for s in reg.values() if s.oracle is not None)
    assert int(m.group(2)) == n_oracled, (
        f"COVERAGE.md says {m.group(2)} SQL-oracled, registry has {n_oracled}")


def test_driver_priority_names_resolve_and_are_unique():
    reg = all_queries()
    names = entry.DRIVER_PRIORITY
    assert len(set(names)) == len(names), "duplicate in DRIVER_PRIORITY"
    missing = [n for n in names if n not in reg]
    assert not missing, f"DRIVER_PRIORITY names not in registry: {missing}"


def test_r15_window_is_staleness_ordered():
    """The r15 (optimization round 2) window re-verifies: (1) the faces
    whose PHYSICAL PLAN the r15 phase rewrote lead (highest
    re-verification value; outputs pinned hash-identical before
    commit), then (2) the faces whose broadcast hints became size-gated
    via dim_broadcast (outputs identical at benched SFs by
    construction, re-proven at sf0.01), then (3) staleness backfill —
    the remaining r7 faces. Cohorts derive from
    CORRECTNESS_r{01..14}.json plus OPTIMIZATION_r15.md."""
    opt_rewritten = ["ngram_jaccard_pairs", "jaccard_threshold_sweep",
                     "graph_triangles"]
    gated_r15 = ["join_inner_broadcast", "basket_lift_pairs",
                 "star_topk_unshipped", "star_market_share",
                 "sub_small_qty_revenue", "sub_late_sole_supplier",
                 "star_nation_volume", "promo_revenue_share",
                 "top_revenue_suppliers", "disjunctive_revenue",
                 "min_cost_supplier", "product_type_profit",
                 "returned_top_customers", "important_part_value",
                 "supplier_cnt_by_part", "surge_part_suppliers",
                 "mv_incremental_merge", "agg_weighted_median",
                 "stream_static_join", "orders_gap_stats",
                 "abtest_welch_t", "agg_revenue_concentration",
                 "abtest_mann_whitney", "agg_gini_coefficient"]
    r7_remaining = {
        "pareto_frontier_parts", "quality_calibration",
        "sig_band_power", "sig_burst_detect", "sig_csd_laplacian",
        "sig_delay_estimate", "sig_electrode_region",
        "sig_envelope_corr", "sig_erp_trialavg", "sig_granger_dir",
        "sig_hjorth", "sig_itc_phase_reset", "sig_line_noise_snr",
        "sig_multitaper_psd", "sig_pac_mi", "sig_peak_detect",
        "sig_plv_pairs", "sig_ppc_nm", "sig_psi_direction",
        "sig_recording_qc", "sig_spectral_features",
        "sig_wpli_contract", "sig_xcorr_lags", "sql_scripting_loop",
        "sub_in_region_suppliers", "survival_km_churn",
        "ts_seasonal_decompose", "unpivot_part_measures"}
    head = list(entry.DRIVER_PRIORITY)
    assert head[:len(opt_rewritten)] == opt_rewritten
    n0 = len(opt_rewritten)
    assert head[n0:n0 + len(gated_r15)] == gated_r15
    n1 = n0 + len(gated_r15)
    assert r7_remaining == set(head[n1:n1 + len(r7_remaining)])
    # 3 plan-rewritten + 24 size-gate faces + the 28 stale r7 cohort
    assert len(head) == 3 + 24 + 28


def test_default_driver_heap_fits_the_machine(monkeypatch):
    """The engine's default heap is half of physical memory, at most
    24 GiB: a larger cap let the JVM grow until the OOM killer ended it."""
    from process_nwb_spark import session

    page = 4096
    for gib, want in ((16, "8192m"), (64, "24576m"), (1, "1024m")):
        pages = gib * 2 ** 30 // page
        monkeypatch.setattr(session.os, "sysconf", lambda k, p=pages: {
            "SC_PAGE_SIZE": page, "SC_PHYS_PAGES": p}[k])
        assert session._default_driver_memory() == want


def test_driver_jvm_runs_the_parallel_collector(spark):
    """get_spark's default JVM options reach the driver: G1's resident
    size followed its GC timing and varied by a quarter between identical
    runs, the parallel collector's stays within a few percent."""
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    assert {b.getName() for b in beans} == {"PS Scavenge", "PS MarkSweep"}
