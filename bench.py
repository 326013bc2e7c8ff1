"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE compact JSON line (the driver contract — its tail capture is
~2 KB, which round 5's full dict outgrew, so stdout now carries ONLY):
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec_ms_rounded, ...}, "sf": <sf>}

EVERYTHING else — per-query spread AND median (min-of-N alone cannot
distinguish a 15% regression from ambient noise at the measured
spreads), the single-node NumPy anchors, the amortized multi-series
ratio, and (when the input is the default sf0.1 and
SPARK_GRAFT_BENCH_SCALE isn't 0) the scaling sections — is written
to $SPARK_GRAFT_BENCH_FULL_OUT (default <repo>/BENCH_SCALING.json):
  "sf1"  — a subset of headline queries re-timed on a deterministic 10x
           key-shifted scale-up (process_nwb_spark/benchdata.py), with
           per-query sf0.1->sf1 time ratios: a plan that is right at
           100 TB should grow ~linearly with input here (ratio <= ~10);
  "skew" — salted vs unsalted sort-merge join+agg on a single-hot-key
           fact table whose hottest key owns 35% of all rows (AQE
           skew-join result recorded alongside as the adaptive
           alternative);
  "signal_multi_series_curve" — the amortized DSP ratio at
           n=8/16/32/64/128 series (min AND median of the interleaved
           passes), to locate the Spark-vs-serial-NumPy crossover.

Driver-proofing (r12 — the driver parses the trailing JSON of a ~2 KB
COMBINED stdout+stderr tail; r10 lost the record to an OOM before the
line printed, r11 to curve-child stderr spam after it): the headline
line prints IMMEDIATELY after the headline section AND again as the
very last act of main() (finally:, after spark.stop()) so the combined
tail always ends with it; log4j is set to OFF once the headline is
measured; each scaling section is fault-isolated (an error lands as
{"err": ...} in the artifact and the run continues to rc 0); the
heap-marginal curve runs in a SUBPROCESS (`--curve-child`) with a
fresh 32g heap of its own, stdout discarded, stderr to
BENCH_CURVE_STDERR.log, Python-worker faulthandler on, per-point fault
isolation, and the curve result flushed after every point so a hard
crash yields the completed prefix. End-to-end proof, including a
forced failure in every section and a SIGKILLed child mid-spam, in
tests/test_bench_harness.py.

The curve's n=128 point is additionally memory-adaptive (r13). The
postmortem chain, each link fixed: (1) spark.stop() leaves the py4j
gateway JVM — a whole resident driver heap — alive until the parent
Python process exits, so the curve child NEVER actually had the box
to itself (fixed: _shutdown_gateway_jvm before the child launches;
with it, the four-round-red n=128 point completes at full width);
(2) the child JVM's heap carries earlier points' residue and n=128
can die with a plain Java-heap OOM (fixed: a failed point retries
ONCE on a FRESH reduced-parallelism JVM; a second failure records an
explicit {'skipped': 'env memory ceiling'} marker, and
SPARK_GRAFT_BENCH_CURVE_MAX_N caps the curve up front); (3) the
failure can WEDGE instead of raise — workers die, the save never
returns (fixed: the child runs under the parent's wall-clock
watchdog, SPARK_GRAFT_BENCH_CURVE_TIMEOUT). See
bench_multi_series_curve / _respawn_lowmem / _shutdown_gateway_jvm.

Test hooks: SPARK_GRAFT_BENCH_QUERIES (headline subset),
SPARK_GRAFT_BENCH_RATIO_RUNS, SPARK_GRAFT_BENCH_SCALE_FORCE,
SPARK_GRAFT_BENCH_CURVE_LOG, SPARK_GRAFT_BENCH_SIG_SECS,
SPARK_GRAFT_BENCH_CURVE_MAX_N, SPARK_GRAFT_BENCH_CURVE_LOWMEM_CORES,
SPARK_GRAFT_BENCH_INJECT_FAIL=sf1,skew,assemble_v3,curve,curve-kill,
curve-point-once,curve-point-always.
"""
from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # relational core
    "agg_pricing_summary", "join_inner_broadcast", "join_asof",
    "join_sortmerge_large",
    "agg_trimmed_mean", "win_topk_per_group", "win_running_frames",
    # event-time windowing
    "win_tumbling", "win_session",
    # LLM data-pipeline ops
    "dedup_exact", "minhash_lsh_candidates", "ngram_jaccard_pairs",
    "simhash_fingerprints", "doc_fingerprint_winnow", "text_quality",
    "text_token_counts",
    # similarity search: brute-force baseline + LSH scale path
    "embed_cosine_topk", "embed_ann_lsh", "embed_ivf_topk", "dedup_embed_cosine",
    # signal engine (relational faces)
    "sig_car_subtract", "sig_zscore_baseline",
]


_SIGNAL_PARQUETS: dict[int, str] = {}
N_SERIES_MANY = 8

# test hook ONLY: shrink the synthetic recording so harness tests can
# exercise the curve-child machinery (restart, retry, cap) in seconds.
# Real bench runs never set it — 10 s is the reference tutorial's shape.
_SIG_SECS = float(os.environ.get("SPARK_GRAFT_BENCH_SIG_SECS", "10.0"))

# sf1 scaling subset: one representative per cost class — scans/aggs,
# sort-merge + as-of joins, windows (tumbling/session/top-k), exact and
# LSH dedup, text, fingerprinting, IVF ANN. All are in HEADLINE so the
# sf0.1 denominator comes from the same interleaved passes. Every entry
# must actually READ sf_dir (the sig_* faces generate their own fixed
# synthetic input and would report a fabricated ~1.0 ratio).
SF1_SUBSET = [
    "agg_pricing_summary", "join_sortmerge_large", "join_asof",
    "win_topk_per_group", "win_tumbling", "win_session",
    "dedup_exact", "minhash_lsh_candidates", "text_token_counts",
    "embed_ivf_topk", "doc_fingerprint_winnow",
    # embedding-dedup pair: pairwise only within IVF cells / LSH buckets —
    # the sf1 ratio is the measured proof that claim holds under growth
    # (semantic_dedup is not in HEADLINE; bench_sf1 times its own sf0.1
    # base)
    "dedup_embed_cosine", "semantic_dedup",
    # r7-continuation candidate generators: the df<=50 shingle cut
    # (containment), the top-3-partner kNN sparsification (link
    # prediction), and the bitmap rolling-distinct grid — each claims a
    # bounded-growth shape; the sf1 ratio is the measured check
    "text_ngram_containment", "graph_link_predict",
    "win_rolling_distinct_users",
    # r8: the heaviest r7 faces, each claiming a bounded-candidate or
    # bounded-pass property the sf1 ratio is the proof of — triangle
    # counting (degree-oriented, low-degree-first edge direction),
    # Misra-Gries heavy hitters (two token passes, no full-vocab
    # shuffle), MATCH_RECOGNIZE V-shape (run compression before the
    # adjacency join), exact median by histogram selection (fixed
    # number of value-domain rounds)
    "graph_triangles", "text_heavy_hitters", "seq_pattern_vshape",
    "agg_exact_median_selection",
    # r8b: the gram-position explode (x len per doc) with hash-keyed
    # counts only — the claim is "nothing pairwise ever materializes";
    # and the mergeable CMS whose build must stay one bounded-cell
    # group-by regardless of corpus size
    "text_kgram_dup_profile", "agg_count_min_sketch",
    # r8b: incremental SCD2 — per-key windows over the daily argmax
    # rollup; the claim is the window input scales with (keys x days),
    # and the untouched branch adds no window work at all
    "scd2_apply_changeset",
    # r9: PSI drift (one conditional-count pass per period + a
    # broadcast decile table — claims linear), the seedless epoch
    # shuffle (r10: bucketed row_number + broadcast offsets — claims
    # sort-linear with no single-task-per-epoch sort), and URL
    # canonicalization (zero pre-agg shuffles — claims linear)
    "dq_psi_drift", "mix_epoch_shuffle", "fn_url_canonicalize",
    # r11: shuffle + pack in one bucketed window — claims the same
    # sort-linear no-single-task-per-epoch shape as mix_epoch_shuffle
    "mix_pack_epoch_stream",
    # r11 second batch — each claims a scan-bounded shape the sf1
    # ratio is the measured check of: first-owner k-gram coverage
    # (one owner hash-agg + one equi-join, linear, no pair join),
    # DoReMi rollup (one scan to |domains| rows, arithmetic after),
    # curriculum interleave + token budget (bucketed range rank, no
    # single-task-per-source window), NDCG top-k (bucketed rank over
    # term-matching docs only), survival sweep (one scan to 11
    # buckets), anneal schedule (one bucketed rank over both phases)
    "dedup_ngram_coverage", "mix_doremi_weights",
    "mix_curriculum_interleave", "mix_token_budget", "rank_ndcg_eval",
    "quality_survival_curve", "mix_anneal_schedule",
    # r12 corpus-QA tier: the cross-source shingle overlap claims a
    # join whose per-key fan-out is |sources|-bounded (the sf1 ratio is
    # the measured check), and the length-bucketed batcher claims the
    # same no-single-task-per-group bucketed-rank shape as the mix
    # faces on its ~8-value cap key
    "corpus_source_overlap", "mix_length_buckets",
    # r12 second batch (growth-measured r13): the Heaps'-law curve
    # claims ONE vocab-keyed agg (never ten prefix scans), fertility
    # claims one hash-agg, matryoshka claims a broadcast pair frame
    # with a single aggregation pass, and the rule-stats report claims
    # a zero-exchange scan into a 1-row rollup
    "vocab_growth_curve", "tokenizer_fertility",
    # matryoshka eval rides its FIXED-QUERY-BUDGET face: the percent-
    # subsample face is quadratic BY DESIGN (|N/10| x N pairs — the r13
    # run measured ratio ~94 on 10x rows, the documented motivation),
    # while the budget face's pair frame grows linearly with the corpus
    "embed_matryoshka_budget", "quality_rule_stats",
    # r13 corpus-quality tier: the perplexity terciles claim LM-fit on
    # the bigram vocab + size-adaptive scoring joins + bucketed rank
    # (all corpus-linear); the cross-entropy matrix claims size-
    # adaptive model joins with the eval stream x |sources| as the
    # only growing term (r14 dropped both faces' forced vocabulary-
    # table broadcasts — the ratio now also proves the planner-picked
    # strategy holds under growth)
    "mix_perplexity_buckets", "corpus_crossentropy_matrix",
    # r14: the two r13 faces the judge asked to growth-measure —
    # unigram entropy claims two map-side hash-aggs (corpus-linear, no
    # join); waterfilling claims ONE hash-agg to |sources| rows with
    # everything after metadata-sized (ratio should sit near the
    # scan-cost line, ~1x at these SFs)
    "text_unigram_entropy", "mix_source_caps",
    # r14 new faces with linear-growth claims: OOV folds on the
    # (source, word) count table (scoring never touches the token
    # stream), rule ablation is a zero-join scan into a 5-row agg,
    # cell balance is the shared broadcast-centroid assignment + a
    # k-row rollup. embed_margin_bitext is deliberately NOT here: its
    # candidate volume is the quantizer's k, pinned at 10 labels in
    # this fixture (docstring states the fixed-k quadratic honestly)
    "tokenizer_oov_rate", "quality_rule_ablation", "embed_cell_balance",
    # r14 second batch: cluster cap claims ONE fp shuffle with per-task
    # work bounded by the duplication factor; burstiness claims two
    # map-side-combined hash-aggs with shuffle volume bounded by the
    # per-doc distinct vocabulary
    "dedup_cluster_cap", "corpus_word_burstiness",
    # r14 third batch: MRR rides the same shared ranked frame as NDCG
    "rank_mrr_eval",
    # r14 fourth batch (dedup-policy economics): dedup-aware
    # waterfilling claims ONE fp shuffle + a |sources|-row fold; the
    # gate-strictness sweep claims a zero-join scan into a <=6-row
    # agg; the vocab-size sweep claims ONE vocab-keyed agg + bucketed
    # rank (approx cuts — the Zipf-tail decomposition); the threshold
    # sweep claims the same tile-bounded LINEAR pair frame as
    # dedup_embed_cosine plus <=12-row folds — each ratio is the
    # measured check of those claims
    "mix_dedup_budget", "quality_gate_tradeoff",
    "tokenizer_vocab_sweep", "dedup_threshold_sweep",
    # ... the gate-vs-LM agreement claims the LM fit's vocab shuffle
    # plus one doc-keyed join/agg (the perplexity face's growth class);
    # the repetition plan claims mix_dedup_budget's exact shape
    "quality_lm_agreement", "mix_repeat_budget",
    # ... the Jaccard sweep claims the pair face's df<=100-bounded
    # candidate frame + <=9-row folds (integer bucketing)
    "jaccard_threshold_sweep",
    # r10: the eager-checkpoint faces, measured WHOLE-CALLABLE (below)
    "graph_wcc_star", "graph_kcore_peel", "split_leakage_safe",
]

# Faces whose localCheckpoint rounds run EAGERLY at plan-construction
# time: fn(spark, sf_dir) itself executes the iterative rounds and the
# returned DataFrame is only the final labeling. _timed_noop would time
# just that labeling — a fabricated number — so these are timed
# WHOLE-CALLABLE: construction + action under one clock. The recorded
# time therefore includes per-round job-scheduling latency (rounds are
# O(log n) for WCC / O(peel iterations) for k-core — fixed count at
# both SFs here, pinned in tests), so the sf1 ratio isolates the
# DATA-driven growth on top of that fixed round overhead.
WHOLE_CALLABLE = {"graph_wcc_star", "graph_kcore_peel",
                  "split_leakage_safe"}


def _signal_input(spark, n_series: int = 1):
    """`n_series` independent recordings as one long parquet (written
    once, untimed): the engine's real input path — timing a driver-side
    LocalRelation instead would charge the pipeline for serializing the
    rows out of the driver per run. n_series > 1 is the reference's
    actual folder workload (scripts/preprocess_folder:38-54 loops .nwb
    files; here series_id is just another group key)."""
    if n_series not in _SIGNAL_PARQUETS:
        import tempfile

        from process_nwb_spark.synth import generate_synthetic_data, to_long_df

        dfs = [to_long_df(spark,
                          generate_synthetic_data(_SIG_SECS, 32, 3200.0, seed=s),
                          f"rec_{s}")
               for s in range(n_series)]
        u = dfs[0]
        for d in dfs[1:]:
            u = u.unionAll(d)
        path = tempfile.mkdtemp(prefix=f"bench_sig{n_series}_") + "/sig.parquet"
        # one ~12 MB file per series, not 32 driver-partition shards per
        # series: the union of n driver-local frames would otherwise write
        # n*32 files of ~0.4 MB and the timed read pays 2048 task
        # schedulings for 790 MB (measured at n=64) — a file layout no
        # real corpus has
        u.repartition(n_series, "series_id").write.mode(
            "overwrite").parquet(path)
        _SIGNAL_PARQUETS[n_series] = path
    return spark.read.parquet(_SIGNAL_PARQUETS[n_series])


def _bench_signal(spark, n_series: int) -> float:
    """ONE timed pass of the flagship DSP dataflow (32 ch x 10 s @ 3.2 kHz
    per series: scale -> resample -> notch -> CAR -> wavelet -> z-score ->
    band mean) over `n_series` recordings in a single job. The single- and
    multi-series headlines share this body so they can never silently
    measure different pipelines."""
    from process_nwb_spark import high_gamma_trace, preprocess

    df = _signal_input(spark, n_series)
    t0 = time.time()
    res = preprocess(df, 3200.0, initial_resample_rate=1600.0,
                     final_resample_rate=400.0, filters="rat", hg_only=True)
    hg = high_gamma_trace(res, 0.25, 400.0)
    hg.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def bench_signal_pipeline(spark) -> float:
    """Flagship single-recording number."""
    return _bench_signal(spark, 1)


def bench_signal_pipeline_many(spark) -> float:
    """The amortized folder workload: N_SERIES_MANY series through ONE
    preprocess job — fixed job overhead and the long->packed conversion
    amortize across series; this is the shape a cluster actually runs,
    and the number held against serial NumPy."""
    return _bench_signal(spark, N_SERIES_MANY)


def _numpy_one_series(X) -> None:
    import numpy as np

    from process_nwb_spark.dsp import kernels as K

    Xs = X * 1e6
    Xr = K.resample(Xs, 1600.0, 3200.0, precision="single")
    Xn = K.apply_linenoise_notch(Xr, 1600.0, precision="single")
    Xc = K.subtract_car(Xn, 0.95, precision="single")
    Xh, _, _, _ = K.wavelet_transform(Xc, 1600.0, "rat", True,
                                      precision="single")
    amp = np.abs(Xh)
    out = np.stack(
        [np.stack([K.resample(amp[:, c, b], 400.0, 1600.0,
                              precision="single")
                   for b in range(amp.shape[2])], 1)
         for c in range(amp.shape[1])], 1)   # (time, ch, band)
    nb = int(0.25 * 400.0)
    mu = out[:nb].mean(axis=0, keepdims=True)
    # ddof=0 (population std): matches zscore_baseline / high_gamma_packed
    # and the reference tutorial's np.std default — the replay is
    # advertised as math-identical to the Spark path.
    sd = out[:nb].std(axis=0, keepdims=True)
    hg = ((out - mu) / sd).mean(axis=2)
    hg.sum()  # force materialization


def bench_signal_numpy_many_reference() -> float:
    """Serial single-node replay of the folder workload: N_SERIES_MANY
    recordings one after another through the dense kernels — what the
    reference's preprocess_folder script does on one machine."""
    from process_nwb_spark.synth import generate_synthetic_data

    Xs = [generate_synthetic_data(_SIG_SECS, 32, 3200.0, seed=s)
          for s in range(N_SERIES_MANY)]
    t0 = time.time()
    for X in Xs:
        _numpy_one_series(X)
    return time.time() - t0


def bench_signal_numpy_reference() -> float:
    """Single-node replay of the SAME flagship DSP workload using the dense
    NumPy kernels (which implement the reference's math verbatim — see
    dsp/kernels.py docstrings citing process_nwb file:line). This is the
    closest measurable stand-in for 'the reference's single-node
    throughput at the same data scale' (the reference publishes no
    benchmark numbers, BASELINE.md §a): scale -> resample -> notch -> CAR
    -> wavelet(rat, hg_only) -> abs -> resample -> baseline z-score ->
    band mean, 32 ch x 10 s @ 3200 Hz, single precision like the Spark
    path's default."""
    from process_nwb_spark.synth import generate_synthetic_data

    X = generate_synthetic_data(_SIG_SECS, 32, 3200.0, seed=0)
    t0 = time.time()
    _numpy_one_series(X)
    return time.time() - t0


def _timed_noop(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def _drop_resident_rdds(spark) -> None:
    """Bench hygiene BETWEEN timings: unpersist EVERY resident RDD —
    including localCheckpoint blocks, which clear_persist_slots cannot
    reach (they hide behind LogicalRDDs with truncated lineage; the
    eager-checkpoint faces leave their final round's blocks resident
    after every run). Safe at section boundaries because no timed face
    ever reuses a previous face's data — each rebuilds from parquet.
    Without this, the r10 sf1 block's 18 whole-callable runs plus the
    3-pass extension left enough storage residue that the n=128 curve
    OOMed the 32g heap (r9 had measured 32g as exactly sufficient)."""
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        try:
            rdd.unpersist(False)
        except Exception:
            pass


def _timed_face(registry, name, spark, data_dir) -> float:
    """One timed pass of face `name`. Plan-lazy faces: construction is
    untimed (it is milliseconds of plan building), the noop write is
    the measurement — keeping round-over-round numbers comparable.
    WHOLE_CALLABLE faces: construction + action under ONE clock,
    because their iterative rounds execute eagerly inside fn()."""
    if name in WHOLE_CALLABLE:
        t0 = time.time()
        registry[name].fn(spark, data_dir).write.format(
            "noop").mode("overwrite").save()
        return time.time() - t0
    return _timed_noop(registry[name].fn(spark, data_dir))


def bench_sf1(spark, registry, sf_dir: str,
              sf01_samples: dict[str, list[float]]) -> dict:
    """Re-time SF1_SUBSET on a 10x scale-up of sf_dir; ratios vs the
    main-loop sf0.1 numbers. Generation is deterministic,
    key-consistent, and cached across bench runs
    (benchdata.gen_scaled_dir). r10: >=3 interleaved passes with BOTH
    median and min recorded per face (same noise discipline as the
    headline — the r9 block's min-of-2 made cold-pass artifacts like
    graph_triangles' 53-vs-33 s look like growth)."""
    from process_nwb_spark.benchdata import gen_scaled_dir

    dest = os.path.join(tempfile.gettempdir(), "spark_graft_bench", "sf1x10")
    t0 = time.time()
    gen_scaled_dir(spark, sf_dir, 10, dest)
    gen_s = round(time.time() - t0, 3)

    passes = max(3, int(os.environ.get("SPARK_GRAFT_BENCH_SF1_RUNS", "3")))
    samples: dict[str, list[float]] = {n: [] for n in SF1_SUBSET}
    # subset entries outside HEADLINE (and the WHOLE_CALLABLE faces,
    # whose main-loop numbers time only the final labeling) have no
    # usable main-loop sf0.1 base; time it here, interleaved with the
    # sf1 passes so both sides of the ratio sample the same
    # ambient-load windows
    base_extra: dict[str, list[float]] = {
        n: [] for n in SF1_SUBSET
        if n not in sf01_samples or n in WHOLE_CALLABLE}
    from process_nwb_spark.relational.core import clear_persist_slots

    for _ in range(passes):
        for name in SF1_SUBSET:
            samples[name].append(_timed_face(registry, name, spark, dest))
            clear_persist_slots()   # sf1-sized caches must not linger
            if name in WHOLE_CALLABLE:
                _drop_resident_rdds(spark)  # free localCheckpoint blocks
            if name in base_extra:
                base_extra[name].append(
                    _timed_face(registry, name, spark, sf_dir))
                clear_persist_slots()
                if name in WHOLE_CALLABLE:
                    _drop_resident_rdds(spark)
    out = {}
    for name, s in samples.items():
        e = _growth_entry(s, base_extra[name] if name in base_extra
                          else sf01_samples.get(name))
        if name in WHOLE_CALLABLE:
            e["timing"] = "whole_callable"
        out[name] = e
    return {"factor": 10, "gen_sec": gen_s, "n_passes": passes,
            "queries": out}


def _growth_entry(sf1: list[float], base: list[float] | None) -> dict:
    """One face's sf1-vs-sf0.1 growth record from its raw samples
    (seconds); the ratios come from `_ratio` over unrounded statistics.
    A face with no sf0.1 samples gets None for its base and ratios."""
    import statistics

    def shown(v):
        return round(v, 3) if v is not None else None

    t1_min, t1_med = min(sf1), statistics.median(sf1)
    b_min, b_med = ((min(base), statistics.median(base)) if base
                    else (None, None))
    return {"sf0.1": shown(b_min), "sf1": shown(t1_min),
            "ratio": _ratio(t1_min, b_min),
            "sf0.1_median": shown(b_med), "sf1_median": shown(t1_med),
            "ratio_median": _ratio(t1_med, b_med)}


def bench_skew(spark) -> dict:
    """Salted vs unsalted sort-merge join+agg on a fact table whose
    hottest key owns 35% of all rows. Broadcast is forbidden (a 100 TB
    dim may not broadcast) and AQE's skew splitter is OFF for the first
    two runs — the comparison is the MANUAL salting rewrite against the
    naive plan; a third run turns AQE skew-join back on (with thresholds
    low enough to trigger at this data size) as the adaptive reference."""
    from pyspark.sql import functions as F

    from process_nwb_spark.benchdata import gen_skewed_events

    dest = os.path.join(tempfile.gettempdir(), "spark_graft_bench", "skew")
    gen_skewed_events(spark, dest)
    facts = spark.read.parquet(os.path.join(dest, "skew_facts.parquet"))
    dims = spark.read.parquet(os.path.join(dest, "skew_dims.parquet"))

    def agg(joined):
        return joined.groupBy("attr").agg(
            F.sum("value").alias("v"), F.count(F.lit(1)).alias("n"))

    unsalted = agg(facts.join(dims.hint("merge"), "key"))
    n_salt = 16
    fs = facts.withColumn(
        "_salt", F.pmod(F.xxhash64("grp", "value"), F.lit(n_salt)))
    ds = dims.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))))
    salted = agg(fs.join(
        ds.hint("merge"),
        (fs["key"] == ds["key"]) & (fs["_salt"] == ds["_salt"])).drop(
            ds["key"]))

    # rows landing in the hottest of 32 hash partitions — the straggler's
    # workload, directly comparable between the two key choices
    hot_u = (facts.groupBy(F.pmod(F.hash("key"), F.lit(32)).alias("p"))
             .count().agg(F.max("count")).first()[0])
    hot_s = (fs.groupBy(F.pmod(F.hash("key", "_salt"), F.lit(32)).alias("p"))
             .count().agg(F.max("count")).first()[0])

    saved = {k: spark.conf.get(k, None) for k in
             ("spark.sql.autoBroadcastJoinThreshold",
              "spark.sql.adaptive.skewJoin.enabled",
              "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
              "spark.sql.adaptive.advisoryPartitionSizeInBytes")}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        t_un = min(_timed_noop(unsalted) for _ in range(2))
        t_sa = min(_timed_noop(salted) for _ in range(2))
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "8MB")
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "4MB")
        t_aqe = min(_timed_noop(unsalted) for _ in range(2))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    n = facts.count()
    return {
        "n_rows": n, "hot_share": 0.35, "n_salt": n_salt,
        "rows_hottest_partition": {"unsalted": hot_u, "salted": hot_s},
        "sec": {"unsalted_join": round(t_un, 3),
                "salted_join": round(t_sa, 3),
                "aqe_skewjoin": round(t_aqe, 3)},
    }


def bench_assemble_v3(spark, sf_dir: str) -> dict:
    """End-to-end wall time of the composed corpus-QA program
    (llm/curation.assemble_v3: collapse -> Gopher gate -> best-of-
    cluster dedup on the clean fingerprint -> length-bucketed batching)
    at sf0.1 AND the 10x scale-up — the composition's 2-big-table-
    exchange budget is plan-asserted in tests; this records what that
    budget buys in wall time and whether the whole program grows
    ~linearly. The big-table exchange count of the sf0.1 plan is
    recorded alongside so the artifact carries the claim AND the
    measurement together."""
    import statistics

    from process_nwb_spark.benchdata import gen_scaled_dir
    from process_nwb_spark.llm.curation import assemble_v3
    from process_nwb_spark.plans.inspect import count_exchanges
    from process_nwb_spark.relational.core import T, clear_persist_slots

    dest = os.path.join(tempfile.gettempdir(), "spark_graft_bench", "sf1x10")
    gen_scaled_dir(spark, sf_dir, 10, dest)   # cached after bench_sf1

    out, mins = {}, {}
    for label, d in (("sf0.1", sf_dir), ("sf1", dest)):
        ts = []
        for _ in range(3):
            ts.append(_timed_noop(assemble_v3(T(spark, d, "documents"))))
            clear_persist_slots()
        mins[label] = min(ts)
        out[label] = {"min": round(min(ts), 3),
                      "median": round(statistics.median(ts), 3)}
    out["ratio"] = _ratio(mins["sf1"], mins["sf0.1"])
    out["exchanges_sf0.1"] = count_exchanges(
        assemble_v3(T(spark, sf_dir, "documents")))
    return out


# The most expensive sf1 faces (r14 record) — the core-count comparison
# is run on THESE, not the sub-second headline: at 0.2-3 s/query the
# headline measures stage-launch overhead, and the r14 8-vs-32-core
# block could not distinguish serial from parallel shapes (every ratio
# 0.38-1.11; the r14 verdict's scaling finding). Multi-second sf1 faces
# give the task-level parallelism something to amortize against.
CORES_SCALING_FACES = ["graph_triangles", "embed_matryoshka_budget",
                       "text_ngram_containment", "corpus_source_overlap"]


def bench_cores_scaling(spark, registry, sf_dir: str):
    """Same-run core-count scaling on the expensive sf1 faces: re-time
    CORES_SCALING_FACES (+ the assemble_v3 composition) on the 10x
    scale-up at the session's core count AND at a reduced count
    (SPARK_GRAFT_BENCH_CORES_LOW, default 8), with a fresh session per
    count so shuffle partitions match cores. ratio_* = low/full: a
    parallel face approaches cores_full/cores_low (4.0 at 32/8), an
    overhead-bound face sits near 1. Both sessions run in this same
    bench process back-to-back, so they sample the same ambient window
    (the r13/r14 cross-run comparisons could not).

    Returns the stopped-session state: the caller's next section (the
    curve) launches its own child JVM and the stale parent handle's
    stop() is a no-op, so no session leaks past this section."""
    cpus_env = os.environ.get("SPARK_GRAFT_CPUS", "32")
    cpus_full = int(cpus_env) if str(cpus_env).isdigit() else 32
    cores_low = int(os.environ.get("SPARK_GRAFT_BENCH_CORES_LOW", "8"))
    if cpus_full <= cores_low:
        return {"skipped": f"session cores {cpus_full} <= low "
                           f"{cores_low}; nothing to compare"}
    dest = os.path.join(tempfile.gettempdir(), "spark_graft_bench", "sf1x10")
    from process_nwb_spark.benchdata import gen_scaled_dir
    gen_scaled_dir(spark, sf_dir, 10, dest)   # cached after bench_sf1

    passes = max(2, int(os.environ.get("SPARK_GRAFT_BENCH_CORES_RUNS", "2")))
    from process_nwb_spark.llm.curation import assemble_v3
    from process_nwb_spark.relational.core import T, clear_persist_slots
    from process_nwb_spark.session import get_spark

    def _one_count(n: int) -> dict[str, list[float]]:
        s = get_spark(f"bench-cores-{n}", master=f"local[{n}]",
                      shuffle_partitions=n, **{
                          "spark.driver.extraJavaOptions": "-Xlog:disable"})
        try:
            s.sparkContext.setJobDescription(f"cores-scaling warmup [{n}]")
            s.read.parquet(f"{dest}/nation.parquet").collect()
            samples: dict[str, list[float]] = {
                f: [] for f in CORES_SCALING_FACES + ["assemble_v3"]}
            for _ in range(passes):
                for f in CORES_SCALING_FACES:
                    s.sparkContext.setJobDescription(
                        f"cores-scaling {f} [{n}]")
                    samples[f].append(_timed_face(registry, f, s, dest))
                    clear_persist_slots()
                s.sparkContext.setJobDescription(
                    f"cores-scaling assemble_v3 [{n}]")
                samples["assemble_v3"].append(
                    _timed_noop(assemble_v3(T(s, dest, "documents"))))
                clear_persist_slots()
            return samples
        finally:
            try:
                s.stop()
            except Exception:
                pass

    # full first, then low: the session handed in is already at full
    # cores but carries earlier sections' JVM residue — a fresh session
    # per count keeps the two sides symmetric.
    try:
        spark.stop()
    except Exception:
        pass
    full_times = _one_count(cpus_full)
    low_times = _one_count(cores_low)
    return {"cpus_full": cpus_full, "cores_low": cores_low,
            "n_passes": passes, "sf": "sf1 (10x scale-up)",
            "queries": {f: _scaling_entry(v, low_times[f])
                        for f, v in full_times.items()}}


def _ratio(num: float, den: float | None) -> float | None:
    """num/den for a bench record. Callers pass UNROUNDED statistics — a
    sub-millisecond minimum rounds to 0.0 — and only the quotient is
    rounded, for display; a missing or non-positive denominator yields
    None instead of voiding the section."""
    return round(num / den, 2) if den is not None and den > 0 else None


def _scaling_entry(full: list[float], low: list[float]) -> dict:
    """One face's cores-scaling record from its raw samples (seconds),
    ratios by `_ratio`."""
    import statistics

    def shown(v: list[float]) -> dict:
        return {"min": round(min(v), 3),
                "median": round(statistics.median(v), 3)}

    return {"full": shown(full), "low": shown(low),
            "ratio_min": _ratio(min(low), min(full)),
            "ratio_median": _ratio(statistics.median(low),
                                   statistics.median(full))}


# once-only per-point injection state for the retry-path tests
# (SPARK_GRAFT_BENCH_INJECT_FAIL=curve-point-once): the FIRST attempt of
# every point raises, the retry succeeds. `curve-point-always` raises on
# every attempt — the explicit-skip path.
_POINT_FAILS_FIRED: set = set()


def _curve_point(spark, n: int) -> dict:
    """One n-series point of the multi-series curve: 4 interleaved
    NumPy/Spark passes. The n synthetic series are REGENERATED per pass
    (untimed, ~ms each) and freed before the Spark half runs: holding
    all n dense arrays in the driver's Python heap while the 32 Arrow
    workers execute doubled the child's peak footprint, and the r11
    driver run's n=128 point died with 'Python worker exited
    unexpectedly' where the builder's box survived — the point must be
    heap-marginal on one side's working set, not both."""
    import statistics

    from process_nwb_spark.synth import generate_synthetic_data

    inject = os.environ.get("SPARK_GRAFT_BENCH_INJECT_FAIL", "")
    if "curve-point-always" in inject:
        raise RuntimeError(f"injected failure: curve-point-always n={n}")
    if "curve-point-once" in inject and n not in _POINT_FAILS_FIRED:
        _POINT_FAILS_FIRED.add(n)
        raise RuntimeError(f"injected failure: curve-point-once n={n}")

    _drop_resident_rdds(spark)   # big-n jobs need the whole heap
    _signal_input(spark, n)      # write parquet untimed
    np_s, sp_s = [], []
    for _ in range(4):
        Xs = [generate_synthetic_data(_SIG_SECS, 32, 3200.0, seed=s)
              for s in range(n)]
        t0 = time.time()
        for X in Xs:
            _numpy_one_series(X)
        np_s.append(time.time() - t0)
        del Xs   # free the dense series before the Spark half allocates
        sp_s.append(_bench_signal(spark, n))
    return {"n_series": n, "spark_one_job": round(min(sp_s), 3),
            "numpy_serial": round(min(np_s), 3),
            "ratio": round(min(sp_s) / min(np_s), 3),
            "spark_median": round(statistics.median(sp_s), 3),
            "numpy_median": round(statistics.median(np_s), 3),
            "ratio_median": round(statistics.median(sp_s)
                                  / statistics.median(np_s), 3)}


def bench_multi_series_curve(spark, base_entry: dict, flush=None,
                             respawn=None) -> list:
    """Extend the n=8 amortized headline to n=16/32/64/128: at each n,
    the serial NumPy replay and the one-job Spark run are interleaved
    (both sides sample the same ambient-load windows). Records where the
    Spark job CROSSES serial single-core NumPy (ratio < 1), on both the
    min and the MEDIAN of the passes — the median pins the crossover
    claim on a typical run, not just a quiet one.

    4 passes per n, min taken as headline: the big-n Spark job warms up
    dramatically across its first executions in a session (measured
    42 -> 31 -> 16 -> 9 s at n=64: JVM heap growth + tiered JIT +
    shuffle-file page cache) — with only 2 passes the recorded 'min' is
    still a cold run and the curve's tail is noise.

    Each point is fault-isolated and `flush` is called after every
    point — the r10/r11 driver runs both died inside the n=128 point,
    and a crash there must cost that point, not the whole curve.

    Memory-ceiling adaptation (r13 — the n=128 point failed on the
    driver's box four rounds running, with SIGKILL-shaped silent
    Python-worker deaths in BENCH_CURVE_STDERR.log: 32 concurrent Arrow
    workers x one-series working set beside the 32g JVM exceeds that
    box's memory cgroup): when `respawn` is given, a failed point stops
    the session, relaunches at reduced parallelism (fewer concurrent
    tasks = fewer live Python workers = a smaller Python-side resident
    set; same math, same one-job shape), and retries ONCE — the
    completed entry carries {'retry': {'cores': k, 'after': <first
    error>}} so the artifact says what was measured under what
    condition. If the retry also fails the point records an EXPLICIT
    {'skipped': 'env memory ceiling', ...} marker instead of a bare
    'err'. Once downshifted, later points stay on the reduced session
    (annotated with 'cores'). SPARK_GRAFT_BENCH_CURVE_MAX_N caps the
    curve outright: points above it record {'skipped': 'capped by
    ...'} without running — the env-var escape hatch for a box whose
    ceiling is known up front. Without `respawn` a failure records
    {'n_series': n, 'err': ...} as before."""
    curve = [dict(base_entry, n_series=N_SERIES_MANY)]
    if flush:
        flush(curve)
    ns = tuple(int(x) for x in os.environ.get(
        "SPARK_GRAFT_BENCH_CURVE_NS", "16,32,64,128").split(","))
    max_n = int(os.environ.get("SPARK_GRAFT_BENCH_CURVE_MAX_N", "0"))
    cores = None   # parallelism after a downshift (None = full session)
    for n in ns:
        if max_n and n > max_n:
            curve.append({
                "n_series": n,
                "skipped": f"capped by SPARK_GRAFT_BENCH_CURVE_MAX_N"
                           f"={max_n} (env memory ceiling)"})
            if flush:
                flush(curve)
            continue
        try:
            e = _curve_point(spark, n)
            if cores is not None:
                e["cores"] = cores
        except Exception as ex:   # JVM OOM arrives as a py4j Exception
            if respawn is None:
                e = {"n_series": n, "err": repr(ex)[:500]}
            else:
                try:
                    spark, cores = respawn(spark)
                    e = _curve_point(spark, n)
                    e["retry"] = {"cores": cores,
                                  "after": repr(ex)[:300]}
                except Exception as ex2:
                    e = {"n_series": n,
                         "skipped": "env memory ceiling",
                         "first_attempt": repr(ex)[:300],
                         "retry_attempt": repr(ex2)[:300]}
        curve.append(e)
        if flush:
            flush(curve)
    return curve


def _inject_fail(section: str) -> None:
    """Test hook: SPARK_GRAFT_BENCH_INJECT_FAIL='sf1,skew,curve' forces a
    failure in the named scaling sections, so the fault-isolation this
    harness promises (a diagnostic crash may NEVER destroy the already-
    printed driver headline — the r10 postmortem) is itself testable
    end-to-end (tests/test_bench_harness.py)."""
    names = os.environ.get("SPARK_GRAFT_BENCH_INJECT_FAIL", "")
    if section in [s.strip() for s in names.split(",") if s.strip()]:
        raise RuntimeError(f"injected failure: {section}")


def _respawn_lowmem(old_spark):
    """The curve child's memory-ceiling downshift: stop the session and
    relaunch at SPARK_GRAFT_BENCH_CURVE_LOWMEM_CORES (default 12)
    concurrent tasks instead of the full local[32]. In local mode each
    concurrent task owns one Python Arrow worker, so capping cores caps
    the Python-side resident set AND the JVM-side concurrent Arrow
    buffering. The r13 stderr finally named the killer precisely:
    `java.lang.OutOfMemoryError: Java heap space` — by the time n=128
    runs, the session-long JVM's heap carries the 16/32/64 points'
    residue (a fresh 32g heap completes the same point standalone,
    measured) — so the retry's fresh JVM IS the fix and the reduced
    concurrency is the safety margin. Worker reuse is also disabled
    (a fresh worker per task returns its allocator pages to the OS
    between tasks) and the Arrow batch size halved. Same kernels, same
    one-job plan — only concurrency and heap change, and the entry
    records the condition.

    The retry runs on a FRESH JVM: the r13 run showed the first
    attempt can take the child's whole JVM down with it, after which
    pyspark's cached gateway is a dead socket and a plain getOrCreate
    dies with 'None.org.apache...JavaSparkContext'. Stopping the
    session, killing the gateway process, and clearing the class-level
    handles forces get_spark to launch a brand-new JVM at the reduced
    heap — a retry that also starts from zero residue."""
    try:
        old_spark.stop()
    except Exception:
        pass
    _shutdown_gateway_jvm()   # dead or alive, the old JVM goes away
    cores = int(os.environ.get("SPARK_GRAFT_BENCH_CURVE_LOWMEM_CORES",
                               "12"))
    from process_nwb_spark.session import get_spark

    s = get_spark(
        "bench-curve-lowmem", master=f"local[{cores}]",
        shuffle_partitions=cores, **{
            "spark.driver.extraJavaOptions": "-Xlog:disable",
            "spark.python.worker.faulthandler.enabled": "true",
            "spark.sql.execution.pyspark.udf.faulthandler.enabled": "true",
            "spark.python.worker.reuse": "false",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "32768",
            # FULL 32g, fresh: the failure class is heap residue, not
            # heap size — a fresh 32g completes n=128 standalone, and
            # 12 workers need LESS concurrent JVM-side Arrow buffering
            "spark.driver.memory": os.environ.get(
                "SPARK_GRAFT_BENCH_CURVE_LOWMEM_MEM",
                os.environ.get("SPARK_GRAFT_BENCH_DRIVER_MEM", "32g"))})
    return s, cores


def _run_curve_child(args_file: str, out_file: str) -> None:
    """`bench.py --curve-child <args.json> <out.json>` entrypoint: run
    bench_multi_series_curve in THIS fresh process — its own 32g JVM
    with no residue from the headline/sf1/skew sections. The n=128
    point is measured heap-marginal at 32g after a full run's residue
    (see the _drop_resident_rdds note): the builder's r10 run survived
    it, the driver's r10 run OOMed on it and lost the round's bench
    record. A subprocess makes the curve's heap its own, so the worst
    a curve OOM can do is cost the curve.

    The result file is rewritten ATOMICALLY after every curve point: if
    this process dies mid-point (r10: JVM OOM; r11: Python workers
    killed at n=128), the parent still recovers every completed point.
    Python-worker faulthandler is ON so a worker crash leaves an
    attributable traceback in the child's stderr log instead of the
    bare 'Python worker exited unexpectedly' the r11 postmortem had to
    guess from."""
    _inject_fail("curve")
    if "curve-silent" in os.environ.get("SPARK_GRAFT_BENCH_INJECT_FAIL", ""):
        # test hook: exit rc 0 WITHOUT writing the result file — the
        # silent-empty-record mode the parent must refuse to accept
        return
    if "curve-hang" in os.environ.get("SPARK_GRAFT_BENCH_INJECT_FAIL", ""):
        # test hook: reproduce the r13-ADVICE failure mode — the child
        # WEDGES after spawning a long-lived grandchild (standing in
        # for the pyspark gateway JVM). The parent's watchdog must kill
        # the whole PROCESS GROUP: a child-only kill reparents the
        # grandchild to init with its heap alive (the two-resident-JVM
        # pressure the watchdog exists to reclaim). The grandchild's
        # pid is recorded beside the result file so the harness test
        # can assert it died with the group.
        import subprocess as _sp

        g = _sp.Popen([sys.executable, "-c",
                       "import time; time.sleep(600)"])
        pidfile = os.environ.get("SPARK_GRAFT_BENCH_HANG_PIDFILE",
                                 out_file + ".gwpid")
        with open(pidfile, "w") as f:
            f.write(str(g.pid))
        time.sleep(600)
        return
    if "curve-kill" in os.environ.get("SPARK_GRAFT_BENCH_INJECT_FAIL", ""):
        # test hook: reproduce the r11 failure mode — spam stderr like a
        # crashing executor, then die uncleanly mid-run (SIGKILL: no
        # cleanup, no rc-0 exit, worst case the parent can face)
        import signal

        sys.stderr.write(
            "org.apache.spark.SparkException: Python worker exited "
            "unexpectedly (crashed)\n" * 500)
        sys.stderr.flush()
        os.kill(os.getpid(), signal.SIGKILL)
    with open(args_file) as f:
        base_entry = json.load(f)
    from process_nwb_spark.session import get_spark

    spark = get_spark("bench-curve", **{
        "spark.driver.extraJavaOptions": "-Xlog:disable",
        # attribute any worker death: dump the worker's Python stack to
        # stderr (-> the child's log file) instead of dying silently
        "spark.python.worker.faulthandler.enabled": "true",
        "spark.sql.execution.pyspark.udf.faulthandler.enabled": "true",
        "spark.driver.memory": os.environ.get(
            "SPARK_GRAFT_BENCH_DRIVER_MEM", "32g")})

    def flush_curve(curve: list) -> None:
        tmp = out_file + ".tmp"
        with open(tmp, "w") as f:
            json.dump(curve, f)
        os.replace(tmp, out_file)

    try:
        bench_multi_series_curve(spark, base_entry, flush=flush_curve,
                                 respawn=_respawn_lowmem)
    finally:
        try:
            # respawn may have swapped sessions; stop whatever is active
            from pyspark.sql import SparkSession

            active = SparkSession.getActiveSession()
            (active or spark).stop()
        except Exception:
            pass


def _shutdown_gateway_jvm() -> None:
    """`spark.stop()` stops the SparkContext but the py4j gateway JVM —
    and its whole driver heap — lives until THIS Python process exits.
    The r13 postmortem: during the curve child's run, the parent's
    'stopped' 32g JVM was still resident (and spinning at ~700% CPU on
    the bench box), so two 32g heaps coexisted after all — exactly the
    pressure that killed the n=128 point's Python workers four rounds
    running. Kill the gateway JVM for real before the child launches:
    shutdown the py4j gateway, terminate its process, and clear the
    class-level handles so a later accidental Spark call fails loudly
    instead of resurrecting a half-dead gateway."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.terminate()
            proc.wait(timeout=30)
        except Exception:
            try:
                proc.kill()
            except Exception:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def _run_curve_subprocess(base_entry: dict) -> list:
    """Launch the curve child and return its result. The child's stdout
    is discarded and its stderr goes to a LOG FILE next to the bench
    artifact — NOT inherited: the r11 driver record was lost because
    the child's n=128 crash spam landed on this process's stderr after
    the headline line had printed, and the driver parses the trailing
    JSON of a combined stdout+stderr tail. After the headline prints,
    NOTHING may reach either of this process's output streams.

    The child flushes its result file after every completed point, so
    even a SIGKILL mid-curve yields the completed prefix here (recorded
    with a trailing {'err': ...} entry carrying the exit code)."""
    import subprocess

    d = tempfile.mkdtemp(prefix="bench_curve_")
    args_file = os.path.join(d, "args.json")
    out_file = os.path.join(d, "curve.json")
    with open(args_file, "w") as f:
        json.dump(base_entry, f)
    log_file = os.environ.get(
        "SPARK_GRAFT_BENCH_CURVE_LOG",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_CURVE_STDERR.log"))
    # watchdog: the r13 run's n=128 first attempt WEDGED (the executor
    # looped discarding insta-killed Python workers without ever failing
    # the job), which no per-point fault isolation can catch — a hung
    # py4j call never raises. The child gets a hard wall-clock budget;
    # a kill still yields the completed prefix via the per-point flush.
    budget = int(os.environ.get("SPARK_GRAFT_BENCH_CURVE_TIMEOUT", "2400"))
    timed_out = False
    # start_new_session=True puts the child at the head of its OWN
    # process group, and the timeout path kills that WHOLE GROUP
    # (os.killpg): a plain child-kill would orphan the pyspark gateway
    # JVM the child spawned — the wedged, CPU-spinning process the
    # watchdog exists to reclaim — reparenting it to init with its
    # up-to-32g heap alive for the rest of the run (exactly the
    # two-resident-JVM pressure the r13 postmortem fixed).
    import signal as _signal
    with open(log_file, "w") as lf:
        p = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__),
             "--curve-child", args_file, out_file],
            stdout=subprocess.DEVNULL, stderr=lf,
            start_new_session=True)
        try:
            rc = p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            timed_out = True
            rc = -9
            try:
                os.killpg(p.pid, _signal.SIGKILL)
            except Exception:
                try:
                    p.kill()
                except Exception:
                    pass
            try:
                p.wait(timeout=30)
            except Exception:
                pass
    curve = None
    if os.path.exists(out_file):
        try:
            with open(out_file) as f:
                curve = json.load(f)
        except Exception:
            curve = None
    if timed_out:
        err = (f"curve child killed by {budget}s watchdog; "
               f"stderr in {os.path.basename(log_file)}")
        if curve:
            curve.append({"err": err})
            return curve
        raise RuntimeError(err)
    if rc != 0:
        err = (f"curve child exited rc={rc}; "
               f"stderr in {os.path.basename(log_file)}")
        if curve:
            # partial recovery: completed points + the failure marker
            curve.append({"err": err})
            return curve
        raise RuntimeError(err)
    if curve is None:
        # rc 0 but no readable result: never record a silently empty
        # curve (the r5/r10/r11 silent-loss class) — leave a marker
        raise RuntimeError(
            "curve child exited rc=0 but wrote no readable result file")
    return curve


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0   # unparseable dir name: record the sentinel, still run

    from process_nwb_spark.session import get_spark
    from process_nwb_spark.relational.core import all_queries

    # -Xlog:disable: JVM unified-logging warnings (e.g. '[gc,alloc] ...
    # Retried waiting for GCLocker', seen under the n=64 curve's memory
    # pressure) print to STDOUT and would corrupt the one-JSON-line
    # contract this harness has with its caller
    spark = get_spark("bench", **{
        "spark.driver.extraJavaOptions": "-Xlog:disable",
        # single-JVM local mode: driver heap IS executor memory. The
        # session default (24g) OOMed mid-curve at n=128 once the
        # headline loop grew to 5 interleaved passes (r9) — the curve's
        # big DSP jobs ran against a heap already carrying the longer
        # run's residue. 32g clears it. NOT more: heap size changes the
        # GC profile of the allocation-heavy faces — graph_triangles at
        # sf1 measured 33 s warm @24g/@32g but 58 s @56g and 43 s @40g
        # (bigger G1 young gen, longer mixed pauses under the wedge
        # join's churn), and the first 56g window recorded a bogus 133 s
        # in BENCH_SCALING. 32g is the smallest heap that survives the
        # whole run, keeping the 24g-calibrated round-over-round series
        # comparable.
        "spark.driver.memory": os.environ.get(
            "SPARK_GRAFT_BENCH_DRIVER_MEM", "32g")})
    registry = all_queries()

    # test/debug hook: time only the named faces (the harness test runs
    # a 2-query headline at sf0.001 so its end-to-end proof of the
    # fault-isolation below costs seconds, not the full suite)
    headline_faces = HEADLINE
    q_env = os.environ.get("SPARK_GRAFT_BENCH_QUERIES", "")
    if q_env.strip():
        headline_faces = [q.strip() for q in q_env.split(",") if q.strip()]

    # warm the session (executor threads, codegen, parquet reader paths)
    # so the first timed query doesn't absorb one-time JVM startup cost
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/nation.parquet").collect()

    # MEDIAN-of-N is the headline (r9): single runs on this box vary +-40%
    # (and worse) with ambient load, and two consecutive rounds' "headline
    # regressions" (r7, r8) were both window noise — the committed per-query
    # spreads (e.g. dedup_exact 2.27 s on a 0.67 s min) are larger than any
    # real round-over-round delta, so neither a single window's min nor its
    # sum can resolve a 15% change. The median over >=5 interleaved passes
    # pins what a typical pass costs; the min stays beside it as the
    # reproducible floor of the plan. Whole-suite passes are interleaved
    # (1st pass of every query, then the 2nd, ...) so a load burst degrades
    # at most one pass of each query, not all N runs of whichever query it
    # lands on.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5")))

    samples: dict[str, list[float]] = {name: [] for name in headline_faces}
    samples["signal_pipeline"] = []
    many_samples: list[float] = []
    ref_many_samples: list[float] = []
    from process_nwb_spark.relational.core import clear_persist_slots

    for _ in range(runs):
        for name in headline_faces:
            df = registry[name].fn(spark, sf_dir)
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            samples[name].append(time.time() - t0)
            # each face pays for (and then releases) its own persists:
            # a resident cache from face A must not evict face B's
            clear_persist_slots()
        samples["signal_pipeline"].append(bench_signal_pipeline(spark))
        many_samples.append(bench_signal_pipeline_many(spark))
    # the multi-series ratio is the headline scale claim, so it is taken
    # from DEDICATED passes with the Spark job and the serial NumPy
    # replay INTERLEAVED — both sides of the ratio sample the same
    # ambient-load windows, and a burst can't inflate one side alone.
    # The main-loop samples above feed only the spread diagnostics, NOT
    # the ratio: a min over extra non-interleaved Spark passes could land
    # in a quieter window than any NumPy pass saw and flatter the ratio.
    ratio_runs = max(1, int(os.environ.get(
        "SPARK_GRAFT_BENCH_RATIO_RUNS", "5")))
    ratio_spark_samples: list[float] = []
    for _ in range(ratio_runs):
        ref_many_samples.append(bench_signal_numpy_many_reference())
        ratio_spark_samples.append(bench_signal_pipeline_many(spark))

    import statistics

    timings = {k: round(min(v), 3) for k, v in samples.items()}
    # per-query spread (max - min over the interleaved passes): makes
    # ambient-load noise self-evident in the artifact — a query whose
    # spread rivals its min was measured through a load burst
    spread = {k: round(max(v) - min(v), 3) for k, v in samples.items()}
    # per-query MEDIAN is the PRIMARY number (headline value = sum of
    # medians): min-of-N cannot distinguish a 15% regression from ambient
    # noise at the measured spreads; the min stays as the plan's floor
    medians = {k: round(statistics.median(v), 3) for k, v in samples.items()}

    # single-node reference-math replays — not part of the total; recorded
    # so the Spark numbers have absolute single-node anchors beside them
    ref_1node = round(min(bench_signal_numpy_reference()
                          for _ in range(runs)), 3)
    ref_many = round(min(ref_many_samples), 3)
    spark_many = round(min(ratio_spark_samples), 3)
    many_samples += ratio_spark_samples   # spread sees every pass

    total = round(sum(medians.values()), 3)
    total_min = round(sum(timings.values()), 3)
    multi = {
        "n_series": N_SERIES_MANY,
        "spark_one_job": spark_many,
        "spark_spread": round(max(many_samples) - min(many_samples), 3),
        "numpy_serial": ref_many,
        "ratio": round(spark_many / ref_many, 3) if ref_many else None,
    }
    full = {
        "metric": "headline_queries_total",
        # which JVM measured which section (r13 postmortem: JVM state —
        # gateway residue, heap history — moves measured times ~1.2×).
        # The headline IS fresh-JVM: it is the FIRST section of a
        # brand-new process/JVM every run (warm-up excepted by design —
        # it exists to absorb one-time startup cost, not residue).
        # sf1/skew/assemble_v3 share that same JVM afterwards, so their
        # numbers carry headline residue and are labeled as such; the
        # curve gets its own child JVM, and the parent gateway is shut
        # down before it starts AND before the final tail print.
        "jvm": {"headline": "fresh (first section of a new JVM)",
                "sf1": "shared with headline",
                "skew": "shared with headline",
                "assemble_v3": "shared with headline",
                "signal_multi_series_curve":
                    "fresh child JVM (parent gateway stopped first)"},
        "value": total,            # sum of per-query MEDIANS (r9 onward)
        # explicit basis marker (r10): `value` changed meaning in r9
        # (sum of mins -> sum of medians) under the same metric name;
        # consumers comparing round-over-round artifacts must not mix
        # bases — pre-r9 artifacts carry no `basis` and are min-based
        "basis": f"median_of_{runs}",
        "value_min": total_min,    # sum of per-query mins (pre-r9 headline)
        "unit": "sec",
        "queries": medians,        # primary per-query number: the median
        "min": timings,            # the plan's floor, kept beside it
        "spread": spread,
        "n_passes": runs,
        "sf": sf,
        # the amortized folder workload (the reference's real multi-file
        # shape): N series through one Spark job vs the same N serially
        # through the dense NumPy kernels on one core
        "signal_multi_series": multi,
        "reference_single_node": {"signal_pipeline_numpy": ref_1node},
    }

    # full dict -> committed artifact; stdout gets ONLY the compact
    # headline line (round 5's full dict outgrew the driver's ~2 KB tail
    # capture -> BENCH_r05.json parsed:null; never again). The artifact
    # is FLUSHED after every section: the r10 first run OOMed in the
    # final curve section and lost the whole already-measured sf1 block
    # because the only write was at the end.
    full_out = os.environ.get(
        "SPARK_GRAFT_BENCH_FULL_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_SCALING.json"))

    def flush_full():
        with open(full_out, "w") as f:
            json.dump(full, f, indent=1)
            f.write("\n")

    flush_full()

    # ---- DRIVER CONTRACT: the driver parses the trailing JSON out of a
    # ~2 KB COMBINED stdout+stderr tail. Three rounds were lost to three
    # mechanisms: r5 (full dict outgrew the tail), r10 (OOM in the final
    # curve diagnostic before the line printed at all), r11 (the line
    # printed early, then the curve child's INHERITED stderr buried it
    # with executor crash spam). The contract is therefore enforced on
    # both ends: the line prints HERE, the moment the headline is
    # measured (a later crash can't erase it) — AND a second, identical
    # copy prints as the very last act of main() inside the finally
    # below, after spark.stop(), so the combined tail always ENDS with
    # it whatever any scaling section spewed in between. In between:
    # log4j is silenced (setLogLevel OFF — the r11 spam was executor
    # ERROR logs relayed to this process's stderr), JVM unified logging
    # is disabled above, the curve child's stdout is discarded and its
    # stderr goes to a log file, and every scaling section is
    # fault-isolated into the artifact instead of the exit code.
    headline = {"metric": full["metric"], "value": total, "unit": "sec",
                "basis": full["basis"],
                "queries": medians, "min": timings, "value_min": total_min,
                "sf": sf}
    line = json.dumps(headline, separators=(",", ":"))
    assert len(line) < 1900, (
        f"driver line {len(line)} B would outgrow the ~2 KB tail capture")
    try:
        spark.sparkContext.setLogLevel("OFF")
    except Exception:
        pass
    print(line, flush=True)

    def _guarded(key: str, fn) -> None:
        """One scaling section: an error becomes {'err': ...} in the
        committed artifact and the run continues — a diagnostic may
        cost itself, never the round's record."""
        try:
            _inject_fail(key)
            full[key] = fn()
        except Exception as e:   # JVM OOM arrives as a py4j Exception
            full[key] = {"err": repr(e)[:500]}
        try:
            _drop_resident_rdds(spark)  # section residue must not stack
        except Exception:
            pass
        flush_full()

    try:
        # scaling sections: only when benching the canonical sf0.1 input
        # (the ratios are defined against it) and not explicitly disabled.
        # SPARK_GRAFT_BENCH_SCALE_FORCE=1 runs them at any sf (test hook).
        scale_on = os.environ.get("SPARK_GRAFT_BENCH_SCALE", "1") != "0"
        force = os.environ.get("SPARK_GRAFT_BENCH_SCALE_FORCE") == "1"
        if scale_on and (abs(sf - 0.1) < 1e-9 or force):
            _guarded("sf1",
                     lambda: bench_sf1(spark, registry, sf_dir, samples))
            _guarded("skew", lambda: bench_skew(spark))
            _guarded("assemble_v3",
                     lambda: bench_assemble_v3(spark, sf_dir))
            # core-count scaling on the EXPENSIVE sf1 faces (r14 verdict:
            # the sub-second headline cannot measure scaling). Runs last
            # among the in-process sections because it stops/relaunches
            # sessions; the stale `spark` handle's stop() below is then
            # a no-op. SPARK_GRAFT_BENCH_CORES_SECTION=0 disables.
            if os.environ.get("SPARK_GRAFT_BENCH_CORES_SECTION",
                              "1") != "0":
                _guarded("cores_scaling",
                         lambda: bench_cores_scaling(spark, registry,
                                                     sf_dir))
            # the curve runs in a SUBPROCESS with a fresh 32g heap of its
            # own (_run_curve_child); stop this session AND kill the
            # gateway JVM first — spark.stop() alone leaves the 32g JVM
            # resident until this process exits, and two 32g heaps on
            # one box is what killed the n=128 point four rounds running
            # (_shutdown_gateway_jvm docstring)
            base_entry = {"n_series": N_SERIES_MANY,
                          "spark_one_job": spark_many,
                          "numpy_serial": ref_many, "ratio": multi["ratio"]}
            try:
                spark.stop()
                _shutdown_gateway_jvm()
                full["signal_multi_series_curve"] = _run_curve_subprocess(
                    base_entry)
            except Exception as e:
                full["signal_multi_series_curve"] = {"err": repr(e)[:500]}
            flush_full()
    except Exception:
        # a scaling-phase bug may never turn the round's record into an
        # rc!=0 + traceback-after-the-line; the artifact has whatever
        # sections flushed before the failure
        pass
    finally:
        try:
            spark.stop()
        except Exception:
            pass
        # kill the gateway JVM before the final print: the r13 driver
        # tail caught a stray `read-ahead` JVM OOM line BETWEEN the two
        # headline prints — spark.stop() leaves the JVM (and its
        # read-ahead/shutdown threads) resident, and any line it emits
        # after this point would land behind the final headline line.
        # With the gateway gone, the last bytes of combined output are
        # produced by pure Python.
        try:
            _shutdown_gateway_jvm()
        except Exception:
            pass
        # the LAST bytes of combined output are the headline line
        print(line, flush=True)


if __name__ == "__main__":
    if len(sys.argv) >= 4 and sys.argv[1] == "--curve-child":
        _run_curve_child(sys.argv[2], sys.argv[3])
    else:
        main()
