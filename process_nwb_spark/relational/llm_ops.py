"""LLM training-data pipeline operators on `documents` / `embeddings`.

Dedup (exact, minhash/LSH, simhash, n-gram Jaccard), similarity search
(brute-force cosine top-k, centroids), text analysis (lang-ID heuristic,
quality scoring, token counting, fingerprinting), multimodal metadata.

Cross-engine determinism trick: all hashing is md5-based — identical hex in
Spark and DuckDB — so even the MinHash/SimHash sketches hash-match the
oracle exactly. At 100 TB scale the same plans hold: shingle explosion is a
flatMap (narrow), signatures are one hash-agg, LSH banding turns the
quadratic pair search into an equi-join on band keys, and the
document-frequency stop-shingle filter bounds the join's skew.
"""
from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .core import T, query, spread


def _words(col="text"):
    return F.split(col, " ")


def _shingle_array(words, k: int):
    """The DISTINCT word-k-gram array of one document — the row-local
    core doc_shingles explodes. (A dedup_ngram_coverage rewrite reusing
    this without the explode was measured slower and rejected — see the
    note at dedup_ngram_coverage — so doc_shingles is the only caller;
    kept separate because the array form is the unit the rejection A/B
    and the winnow/kgram row-local faces reason about.)"""
    # sequence(0, size-k) inclusive -> size-k+1 shingles
    return F.array_distinct(
        F.transform(F.sequence(F.lit(0), F.size(words) - k),
                    lambda i: F.array_join(F.slice(words, i + 1, k), " ")))


def doc_shingles(docs, k: int = 3, id_col: str = "doc_id"):
    """Distinct word-k-gram shingles (id_col, sh) for ANY (id_col, text)
    frame — the one shingle construction every dedup/contamination face
    AND streaming twin shares, so twins cannot drift from their batch
    faces (parity pins depend on it). `id_col` generalizes the key:
    doc_id for the dedup family, source for corpus_source_overlap —
    the same construction either way."""
    words = _words()
    # filter BEFORE the shingle projection: a post-projection filter on a
    # frame that no longer carries `text` only resolves via missing-ref
    # resolution and only avoids evaluating slice(start=0) on short docs
    # because predicate pushdown happens to move it below the Generate —
    # an optimizer implementation detail, not a contract (sequence(0,-1)
    # on a 2-word doc would otherwise hit 'array indices start at 1' at
    # runtime)
    d = docs.filter(F.size(words) >= k)
    return d.select(id_col, F.explode(_shingle_array(words, k)).alias("sh"))


def _shingles_df(spark, sf_dir, k: int = 3):
    """doc_shingles over the documents table (spread across cores)."""
    return doc_shingles(spread(T(spark, sf_dir, "documents")), k)


def _shingle_sql(id_col: str = "doc_id") -> str:
    """DuckDB mirror of doc_shingles for any key column — one fragment
    so the oracles share the construction exactly like the Spark side."""
    return f"""
      SELECT DISTINCT {id_col},
             UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(words) - 1, 1)),
                    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS sh
      FROM (SELECT {id_col}, STRING_SPLIT(text, ' ') AS words FROM documents) t
      WHERE LEN(words) >= 3
"""


_SHINGLE_SQL = _shingle_sql()


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------
@query(
    "dedup_exact",
    """
    SELECT fp, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
    FROM (SELECT doc_id,
                 MD5(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g')))) AS fp
          FROM documents) t
    GROUP BY fp
    HAVING COUNT(*) >= 1
    """,
    doc="exact dedup: normalize -> md5 fingerprint -> hash-groupBy keeping "
        "min doc_id (deterministic, unlike dropDuplicates row pick)",
)
def dedup_exact(spark, sf_dir):
    # the whitespace-normalize regex is the hot loop: spread the
    # single-split scan so it runs on all cores
    d = spread(T(spark, sf_dir, "documents"))
    fp = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    return (
        d.select("doc_id", fp.alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


# --------------------------------------------------------------------------
# MinHash + LSH near-dup
# --------------------------------------------------------------------------
_N_SIGS = 8

_minhash_sig_cols_sql = ",\n           ".join(
    f"MIN(MD5(sh || ':{s}')) AS sig{s}" for s in range(_N_SIGS))

# sig + bands + candidate-pairs CTEs shared by the LSH family's oracles
# (minhash_lsh_candidates spells the same text inline for readability;
# dedup_components / dedup_keep_list / lsh_eval_pr compose this fragment)
_BANDS_SQL_FRAG = """
    sig AS (
      SELECT doc_id, {sig_cols}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band, MD5(sig0 || sig1) AS bkey FROM sig
      UNION ALL SELECT doc_id, 1, MD5(sig2 || sig3) FROM sig
      UNION ALL SELECT doc_id, 2, MD5(sig4 || sig5) FROM sig
      UNION ALL SELECT doc_id, 3, MD5(sig6 || sig7) FROM sig
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
      WHERE a.doc_id < b.doc_id
    )
"""


@query(
    "minhash_signatures",
    f"""
    WITH sh AS ({_SHINGLE_SQL})
    SELECT doc_id,
           {_minhash_sig_cols_sql}
    FROM sh
    GROUP BY doc_id
    """,
    doc="MinHash signatures over word-3-gram shingles; md5-salted hash "
        "family so the sketch is engine-independent. shingle fan-out is a "
        "narrow flatMap; signature build is one hash-agg",
)
def minhash_signatures(spark, sf_dir):
    sh = _shingles_df(spark, sf_dir)
    aggs = [F.min(F.md5(F.concat(F.col("sh"), F.lit(f":{s}")))).alias(f"sig{s}")
            for s in range(_N_SIGS)]
    return sh.groupBy("doc_id").agg(*aggs)


def lsh_band_keys(docs):
    """(doc_id, band, bkey) for ANY (doc_id, text) frame — the exact
    construction minhash_lsh_candidates uses (word-3-gram shingles ->
    8 md5-salted min-hashes -> 4 band keys), factored over an arbitrary
    input so the streaming lsh_candidates_sink bands micro-batches
    IDENTICALLY to the batch face (the parity pin depends on it)."""
    sh = doc_shingles(docs, 3)
    aggs = [F.min(F.md5(F.concat(F.col("sh"), F.lit(f":{s}"))))
            .alias(f"sig{s}") for s in range(_N_SIGS)]
    sig = sh.groupBy("doc_id").agg(*aggs)
    band_structs = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.md5(F.concat(F.col(f"sig{2*b}"),
                                F.col(f"sig{2*b+1}"))).alias("bkey"))
        for b in range(_N_SIGS // 2)])
    return (sig.select("doc_id", F.explode(band_structs).alias("bb"))
            .select("doc_id", F.col("bb.band").alias("band"),
                    F.col("bb.bkey").alias("bkey")))


@query(
    "minhash_lsh_candidates",
    f"""
    WITH sh AS ({_SHINGLE_SQL}),
    sig AS (
      SELECT doc_id, {_minhash_sig_cols_sql}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band, MD5(sig0 || sig1) AS bkey FROM sig
      UNION ALL SELECT doc_id, 1, MD5(sig2 || sig3) FROM sig
      UNION ALL SELECT doc_id, 2, MD5(sig4 || sig5) FROM sig
      UNION ALL SELECT doc_id, 3, MD5(sig6 || sig7) FROM sig
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
    WHERE a.doc_id < b.doc_id
    """,
    doc="LSH banding (4 bands x 2 rows): candidate pairs via equi-join on "
        "band keys — the scalable alternative to the quadratic pair scan",
)
def minhash_lsh_candidates(spark, sf_dir):
    sig = minhash_signatures(spark, sf_dir)
    # one row per (doc, band) via a single explode — a unionAll of per-band
    # projections would re-evaluate the signature aggregation per branch
    band_structs = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.md5(F.concat(F.col(f"sig{2*b}"),
                                F.col(f"sig{2*b+1}"))).alias("bkey"))
        for b in range(_N_SIGS // 2)])
    bands = (sig.select("doc_id", F.explode(band_structs).alias("bb"))
             .select("doc_id", F.col("bb.band").alias("band"),
                     F.col("bb.bkey").alias("bkey")))
    # the self-join would otherwise execute the signature aggregation
    # (shingle explode + 8 min-aggs, the expensive stage) once per side —
    # no ReusedExchange across the split; key-only rows, single-slot cache
    from .core import fresh_persist

    bands = fresh_persist("minhash_bands", bands)
    a = bands.alias("a")
    b2 = bands.alias("b")
    return (
        a.join(b2, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bkey") == F.col("b.bkey"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


# --------------------------------------------------------------------------
# n-gram Jaccard near-dup (exact pair similarity)
# --------------------------------------------------------------------------
# df<=100-bounded shingle self-join down to the 0.1-floored candidate
# pair list (doc_a, doc_b, shared, union_sz) — SHARED by
# ngram_jaccard_pairs and jaccard_threshold_sweep, so the sweep
# calibrates exactly the candidate generator the pair face runs.
_JACCARD_CAND_SQL = f"""sh AS ({_SHINGLE_SQL}),
    df AS (SELECT sh, COUNT(*) AS n_docs FROM sh GROUP BY sh),
    filtered AS (SELECT s.doc_id, s.sh FROM sh s JOIN df ON s.sh = df.sh
                 WHERE df.n_docs <= 100),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM filtered GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM filtered a JOIN filtered b
        ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    cand AS (
      SELECT p.doc_a, p.doc_b, p.shared,
             sa.n_sh + sb.n_sh - p.shared AS union_sz
      FROM pairs p
      JOIN sizes sa ON p.doc_a = sa.doc_id
      JOIN sizes sb ON p.doc_b = sb.doc_id
      WHERE CAST(p.shared AS DOUBLE)
            / (sa.n_sh + sb.n_sh - p.shared) >= 0.1
    )"""


@query(
    "ngram_jaccard_pairs",
    f"""
    WITH {_JACCARD_CAND_SQL}
    SELECT doc_a, doc_b,
           ROUND(CAST(shared AS DOUBLE) / union_sz, 4) AS jaccard
    FROM cand
    """,
    doc="exact n-gram Jaccard similarity via shingle equi-join; "
        "document-frequency stop-shingle filter (df<=100) bounds join skew "
        "at scale",
)
def ngram_jaccard_pairs(spark, sf_dir):
    jac = (F.col("shared").cast("double")
           / F.col("union_sz").cast("double"))
    return (_jaccard_candidate_pairs(spark, sf_dir)
            .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard")))


def _jaccard_candidate_pairs(spark, sf_dir):
    """The df<=100-bounded shingle self-join down to the 0.1-floored
    candidate pairs (doc_a, doc_b, shared, union_sz) — SHARED by
    ngram_jaccard_pairs (divides and returns) and
    jaccard_threshold_sweep (buckets the same pairs by threshold).
    Spark twin of _JACCARD_CAND_SQL."""
    sh = _shingles_df(spark, sf_dir)
    # document frequency as a window count over the same shuffle the
    # self-join needs anyway — one pass over the shingles instead of the
    # groupBy+join-back formulation (which recomputes the explosion).
    # r14 optimization: the cached frame now ENDS at this window, so its
    # output partitioning is hashpartitioning(sh) and output ordering
    # [sh ASC] — exactly what the sort-merge self-join below requires —
    # and BOTH join sides read the cache with NO Exchange and NO Sort
    # (plan: 4 Exchanges + 4 Sorts of the exploded table -> 2 Exchanges,
    # join-side re-shuffles gone). The previous shape carried each doc's
    # shingle count as a SECOND window over doc_id, which repartitioned
    # the cache by doc_id and forced the join to re-exchange both sides
    # by sh; the per-doc sizes are instead aggregated below (map-side
    # combined, so the doc_id shuffle moves ~1 row per (doc, partition),
    # not the full exploded table) and joined onto the CANDIDATE frame —
    # pair-bounded, not corpus-row-bounded, and a plain equi-join AQE
    # sizes (broadcast locally, shuffle at 100 TB).
    filtered = (sh.withColumn(
        "n_docs", F.count("*").over(Window.partitionBy("sh")))
        .filter(F.col("n_docs") <= 100)
        .select("doc_id", "sh"))
    # r15 (guide §2.3/§2.4 — the containment/source-overlap fold idiom
    # applied to the remaining shingle self-join): `filtered` leaves the
    # window hash-partitioned by sh, so ONE collect_set(doc_id) fold
    # rides that partitioning with NO new exchange, its buffer bounded
    # at <= 100 ids BY the df cut above — and all (a < b) doc pairs of
    # each shingle's sorted set are emitted row-locally, the exact
    # multiset the SMJ self-join produced ((doc_id, sh) pairs are
    # unique in `filtered`: doc_shingles array_distincts per doc — the
    # same invariant the containment fold documents). This replaces the
    # sort-merge self-join AND halves the cache traffic (one
    # InMemoryTableScan instead of two join sides); the persisted frame
    # is the folded set table (one row per shingle, sorted id array)
    # feeding both the pair explode and the per-doc sizes fold.
    # A/B and plan diff in OPTIMIZATION_r15.md / plans/r15/.
    from .core import fresh_persist

    sets = fresh_persist(
        "ngram_shingle_sets",
        filtered.groupBy("sh").agg(
            F.array_sort(F.collect_set("doc_id")).alias("ds")))
    sizes = (sets.select(F.explode("ds").alias("doc_id"))
             .groupBy("doc_id").agg(F.count("*").alias("n_sh")))
    pair_combos = F.expr(
        "flatten(transform(sequence(0, size(ds) - 2),"
        " i -> transform(sequence(i + 1, size(ds) - 1),"
        " j -> struct(ds[i] AS a, ds[j] AS b))))")
    pairs = (
        sets.filter(F.size("ds") >= 2)
        .select(F.explode(pair_combos).alias("p"))
        .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n_sh").alias("n_b"))
    cand = pairs.join(sa, "doc_a").join(sb, "doc_b")
    union_sz = F.col("n_a") + F.col("n_b") - F.col("shared")
    jac = F.col("shared").cast("double") / union_sz
    return (
        cand.filter(jac >= 0.1)
        .select("doc_a", "doc_b", "shared",
                union_sz.cast("bigint").alias("union_sz"))
    )


@query(
    "jaccard_threshold_sweep",
    f"""
    WITH {_JACCARD_CAND_SQL},
    st AS (
      SELECT t.t10, c.doc_a, c.doc_b
      FROM cand c
      JOIN (SELECT UNNEST([1, 2, 3, 4, 5, 6, 7, 8, 9]) AS t10) t
        ON c.shared * 10 >= t.t10 * c.union_sz
    ),
    np AS (SELECT t10, CAST(COUNT(*) AS BIGINT) AS n_pairs
           FROM st GROUP BY t10),
    nd AS (SELECT t10, CAST(COUNT(*) AS BIGINT) AS n_docs
           FROM (SELECT t10, doc_a AS d FROM st
                 UNION
                 SELECT t10, doc_b FROM st) u
           GROUP BY t10)
    SELECT np.t10 / 10.0 AS threshold, np.n_pairs, nd.n_docs
    FROM np JOIN nd ON np.t10 = nd.t10
    """,
    doc="n-gram Jaccard THRESHOLD calibration curve — the lexical "
        "sibling of dedup_threshold_sweep: for every cut 0.1..0.9 "
        "(step 0.1), how many candidate pairs survive and how many "
        "distinct documents they touch, over EXACTLY the pairs "
        "ngram_jaccard_pairs emits (candidate generator shared "
        "verbatim via _jaccard_candidate_pairs / _JACCARD_CAND_SQL). "
        "Together the two sweeps price both dedup routes — embedding "
        "cosine and lexical Jaccard — before a deletion pass. "
        "Determinism: the threshold compare is a pure INTEGER "
        "cross-multiplication (shared * 10 >= t10 * union_sz — no "
        "division, no float anywhere in the bucketing), and the "
        "reported threshold is one exact division of the integer "
        "grid. Scale: the candidate set is the df<=100-bounded "
        "self-join output (per-shingle fan-out capped), persisted "
        "once for the pair-count and distinct-doc folds; each pair "
        "explodes to its <= 9 qualifying thresholds in-row and both "
        "folds land on <= 9 rows",
)
def jaccard_threshold_sweep(spark, sf_dir):
    from .core import fresh_persist

    cand = fresh_persist("jaccard_sweep_pairs",
                         _jaccard_candidate_pairs(spark, sf_dir))
    thr = F.array(*[F.lit(t) for t in range(1, 10)])
    st = cand.select(
        "doc_a", "doc_b",
        F.explode(F.filter(
            thr,
            lambda t: F.col("shared") * 10 >= t * F.col("union_sz")))
        .alias("t10"))
    np_ = (st.groupBy("t10")
           .agg(F.count("*").cast("bigint").alias("n_pairs")))
    nd = (st.select("t10", F.explode(
              F.array("doc_a", "doc_b")).alias("d"))
          .distinct()
          .groupBy("t10")
          .agg(F.count("*").cast("bigint").alias("n_docs")))
    return (np_.join(nd, "t10")
            .select((F.col("t10") / F.lit(10.0)).alias("threshold"),
                    "n_pairs", "n_docs"))


# --------------------------------------------------------------------------
# Dedup-quality eval: LSH candidate precision/recall vs exact Jaccard
# --------------------------------------------------------------------------
@query(
    "lsh_eval_pr",
    f"""
    WITH sh AS ({_SHINGLE_SQL}),
    {_BANDS_SQL_FRAG.format(sig_cols=_minhash_sig_cols_sql)},
    df AS (SELECT sh, COUNT(*) AS n_docs FROM sh GROUP BY sh),
    filtered AS (SELECT s.doc_id, s.sh FROM sh s JOIN df ON s.sh = df.sh
                 WHERE df.n_docs <= 100),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM filtered GROUP BY doc_id),
    truth AS (
      SELECT p.doc_a, p.doc_b
      FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
            FROM filtered a JOIN filtered b
              ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id) p
      JOIN sizes sa ON p.doc_a = sa.doc_id
      JOIN sizes sb ON p.doc_b = sb.doc_id
      WHERE ROUND(CAST(p.shared AS DOUBLE)
                  / (sa.n_sh + sb.n_sh - p.shared), 4) >= 0.5
    ),
    m AS (
      SELECT (t.doc_a IS NOT NULL) AS in_t, (c.doc_a IS NOT NULL) AS in_c
      FROM truth t FULL OUTER JOIN pairs c
        ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    )
    SELECT
      CAST(COALESCE(SUM(CASE WHEN in_t AND in_c THEN 1 END), 0) AS BIGINT) AS tp,
      CAST(COALESCE(SUM(CASE WHEN in_c AND NOT in_t THEN 1 END), 0) AS BIGINT) AS fp,
      CAST(COALESCE(SUM(CASE WHEN in_t AND NOT in_c THEN 1 END), 0) AS BIGINT) AS fn,
      ROUND(CAST(COALESCE(SUM(CASE WHEN in_t AND in_c THEN 1 END), 0) AS DOUBLE)
            / GREATEST(COALESCE(SUM(CASE WHEN in_c THEN 1 END), 0), 1), 4)
        AS precision_at_gt,
      ROUND(CAST(COALESCE(SUM(CASE WHEN in_t AND in_c THEN 1 END), 0) AS DOUBLE)
            / GREATEST(COALESCE(SUM(CASE WHEN in_t THEN 1 END), 0), 1), 4)
        AS recall_at_gt
    FROM m
    """,
    doc="dedup-quality eval harness: precision/recall of the MinHash-LSH "
        "candidate generator against exact Jaccard>=0.5 ground truth "
        "(df<=100 capped domain, same as ngram_jaccard_pairs). Both sides "
        "are already-bounded pair sets, so the full-outer metric join is "
        "candidate-sized — the truth side stays quadratic-bounded only "
        "because the eval runs on a sample; at corpus scale you sample "
        "strata first and run this same plan per stratum. The candidate "
        "CTEs compose _BANDS_SQL_FRAG, so the eval's candidate definition "
        "can never drift from the dedup pipeline it evaluates",
)
def lsh_eval_pr(spark, sf_dir):
    cand = minhash_lsh_candidates(spark, sf_dir)
    truth = (ngram_jaccard_pairs(spark, sf_dir)
             .filter(F.col("jaccard") >= 0.5).select("doc_a", "doc_b"))
    t = truth.alias("t")
    c = cand.alias("c")
    m = (t.join(c, (F.col("t.doc_a") == F.col("c.doc_a"))
                & (F.col("t.doc_b") == F.col("c.doc_b")), "full_outer")
         .select(F.col("t.doc_a").isNotNull().alias("in_t"),
                 F.col("c.doc_a").isNotNull().alias("in_c")))
    one = F.lit(1)
    tp = F.coalesce(F.sum(F.when(F.col("in_t") & F.col("in_c"), one)),
                    F.lit(0)).cast("bigint")
    fp = F.coalesce(F.sum(F.when(F.col("in_c") & ~F.col("in_t"), one)),
                    F.lit(0)).cast("bigint")
    fn = F.coalesce(F.sum(F.when(F.col("in_t") & ~F.col("in_c"), one)),
                    F.lit(0)).cast("bigint")
    n_c = F.coalesce(F.sum(F.when(F.col("in_c"), one)), F.lit(0))
    n_t = F.coalesce(F.sum(F.when(F.col("in_t"), one)), F.lit(0))
    return m.agg(
        tp.alias("tp"), fp.alias("fp"), fn.alias("fn"),
        F.round(tp.cast("double") / F.greatest(n_c, one), 4)
         .alias("precision_at_gt"),
        F.round(tp.cast("double") / F.greatest(n_t, one), 4)
         .alias("recall_at_gt"))


# --------------------------------------------------------------------------
# SimHash fingerprint (64-bit, md5-nibble bits)
# --------------------------------------------------------------------------
# 64-bit fingerprint from the first 16 hex digits of md5(token): bit
# b = 4p+j is bit j of hex digit p. The token stream explodes x16 (one row
# per hex POSITION, not per bit) and aggregates nibble-value COUNTS per
# (doc, position) — at most 16x16 rows per doc regardless of length — then
# derives the 4 bit-votes per position from the counts. Same per-token cost
# as a 16-bit fingerprint, 4x the width. Bit 63 is the sign bit: DuckDB
# refuses 1<<63 (overflow-checked), so both engines spell it (1<<62)*-2;
# the fingerprint is the two's-complement int64 of the 64 majority bits.
_SIMHASH64_FP_SQL = """tok AS (
      SELECT doc_id, MD5(w) AS h
      FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w
            FROM documents) t
    ),
    nib AS (
      SELECT doc_id, p,
             STRPOS('0123456789abcdef',
                    SUBSTR(h, CAST(p AS INT) + 1, 1)) - 1 AS val
      FROM tok, (SELECT UNNEST(RANGE(0, 16)) AS p)
    ),
    cnt AS (SELECT doc_id, p, val, COUNT(*) AS c
            FROM nib GROUP BY doc_id, p, val),
    votes AS (
      SELECT doc_id, p * 4 + j AS b,
             SUM(c * (((val >> j) & 1) * 2 - 1)) AS v
      FROM cnt, (SELECT UNNEST(RANGE(0, 4)) AS j)
      GROUP BY doc_id, p * 4 + j
    ),
    fp AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN v > 0 THEN
                        CASE WHEN b = 63 THEN (CAST(1 AS BIGINT) << 62) * -2
                             ELSE CAST(1 AS BIGINT) << CAST(b AS INT) END
                      ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id
    )"""


@query(
    "simhash_fingerprints",
    f"""
    WITH {_SIMHASH64_FP_SQL}
    SELECT doc_id, simhash FROM fp
    """,
    doc="SimHash (Charikar 2002): per-token md5-derived bit votes, "
        "majority per bit -> 64-bit fingerprint; near-dups land within a "
        "small Hamming ball (see simhash_near_pairs for the banded "
        "retrieval). Scale: explode x16 hex positions (not x64 bits), "
        "nibble-value counts bound the first agg at 256 rows/doc, and "
        "both aggs fold map-side.",
)
def simhash_fingerprints(spark, sf_dir):
    # HASH-repartition on doc_id (not round-robin spread): the vote
    # aggregation clusters on doc_id, so HashPartitioning(doc_id) lets it
    # run exchange-free. One shuffle of the small pre-explosion rows
    # total. r14 optimization: the previous shape exploded each token
    # x16 hex positions and chained THREE aggregations (nibble-value
    # counts -> x4 bit explode -> per-bit votes -> fingerprint fold);
    # all 64 bit-votes are now 64 fixed-width SUM buffers of ONE hash
    # aggregate over the token rows (no x16 row materialization, no
    # second/third agg), and the fingerprint is a row-local projection
    # over the 64 vote columns. Vote math is unchanged integer
    # arithmetic (sum over tokens of ((nibble >> j) & 1) * 2 - 1 equals
    # the old count-weighted fold term by term), so the int64
    # fingerprint is value-identical — the oracle keeps the staged
    # UNNEST spelling and the hash gate re-proves equality.
    n = spark.sparkContext.defaultParallelism
    d = T(spark, sf_dir, "documents").repartition(n, "doc_id")
    tok = (d.select("doc_id", F.explode(_words()).alias("w"))
           .select("doc_id", F.md5("w").alias("h")))
    vote_aggs = []
    for p in range(16):
        nib = F.expr(f"CAST(conv(substr(h, {p + 1}, 1), 16, 10) AS INT)")
        for j in range(4):
            b = p * 4 + j
            vote_aggs.append(
                F.sum(F.shiftright(nib, j).bitwiseAND(F.lit(1)) * 2 - 1)
                .alias(f"v{b}"))
    votes = tok.groupBy("doc_id").agg(*vote_aggs)
    # bit 63 is the sign bit: (1<<62)*-2 spells -2^63 without overflow
    # (same spelling as the oracle)
    terms = [
        F.when(F.col(f"v{b}") > 0,
               F.lit(((1 << 62) * -2) if b == 63 else (1 << b))
               .cast("long")).otherwise(F.lit(0).cast("long"))
        for b in range(64)]
    fp = terms[0]
    for t in terms[1:]:
        fp = fp + t
    return votes.select("doc_id", fp.cast("long").alias("simhash"))


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------
@query(
    "text_quality",
    """
    SELECT doc_id,
           LENGTH(text) AS n_chars_m,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '\\w+')) AS INT) AS n_tokens,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '[.!?,;]')) AS INT) AS n_punct,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '\\d')) AS INT) AS n_digits,
           ROUND(CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text),
                 '\\b(the|a|an|and|or|of|to|in)\\b')) AS DOUBLE) /
                 GREATEST(LEN(REGEXP_EXTRACT_ALL(text, '\\w+')), 1), 4)
             AS stopword_ratio,
           ROUND(CAST(LENGTH(text) AS DOUBLE) /
                 GREATEST(LEN(REGEXP_EXTRACT_ALL(text, '\\w+')), 1), 4)
             AS chars_per_token
    FROM documents
    """,
    doc="quality scoring: token/punct/digit counts, stopword ratio, "
        "chars-per-token — pure JVM regexp (no UDF)",
)
def text_quality(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    n_tok = F.regexp_count("text", F.lit(r"\w+"))
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_m"),
        n_tok.alias("n_tokens"),
        F.regexp_count("text", F.lit(r"[.!?,;]")).alias("n_punct"),
        F.regexp_count("text", F.lit(r"\d")).alias("n_digits"),
        F.round(
            F.regexp_count(F.lower("text"),
                           F.lit(r"\b(the|a|an|and|or|of|to|in)\b"))
            .cast("double") / F.greatest(n_tok, F.lit(1)), 4)
        .alias("stopword_ratio"),
        F.round(F.length("text").cast("double") / F.greatest(n_tok, F.lit(1)), 4)
        .alias("chars_per_token"),
    )


@query(
    "text_langid",
    """
    WITH scored AS (
      SELECT doc_id, lang,
             LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\\b(the|and|of)\\b')) AS s_en,
             LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\\b(der|und|die)\\b')) AS s_de,
             LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\\b(el|los|que)\\b')) AS s_es,
             LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\\b(le|les|est)\\b')) AS s_fr
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_es >= s_fr THEN 'es'
                ELSE 'fr' END AS predicted_lang
    FROM scored
    """,
    doc="language-ID n-gram/stopword heuristic with argmax CASE chain; "
        "`lang` column retained as ground truth",
)
def text_langid(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    low = F.lower("text")
    s = {k: F.regexp_count(low, F.lit(rf"\b({p})\b")).alias(f"s_{k}")
         for k, p in [("en", "the|and|of"), ("de", "der|und|die"),
                      ("es", "el|los|que"), ("fr", "le|les|est")]}
    scored = d.select("doc_id", "lang", *s.values())
    return scored.select(
        "doc_id", "lang",
        F.when((F.col("s_en") >= F.col("s_de")) & (F.col("s_en") >= F.col("s_es"))
               & (F.col("s_en") >= F.col("s_fr")), "en")
        .when((F.col("s_de") >= F.col("s_es")) & (F.col("s_de") >= F.col("s_fr")), "de")
        .when(F.col("s_es") >= F.col("s_fr"), "es")
        .otherwise("fr").alias("predicted_lang"),
    )


@query(
    "text_source_stats",
    """
    SELECT source, lang, COUNT(*) AS n_docs,
           ROUND(AVG(CAST(n_chars AS DOUBLE)), 2) AS avg_chars,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
    FROM documents
    GROUP BY source, lang
    """,
    doc="corpus stats rollup by (source, lang)",
)
def text_source_stats(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return d.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(F.col("n_chars").cast("double")), 2).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@query(
    "text_token_counts",
    r"""
    SELECT doc_id,
           LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS n_ws_tokens,
           LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
             AS n_bpe_tokens,
           LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z]+')) AS n_alpha,
           LEN(REGEXP_EXTRACT_ALL(text, '[0-9]+')) AS n_num,
           LEN(REGEXP_EXTRACT_ALL(text, '[^A-Za-z0-9\s]')) AS n_sym,
           LEN(LIST_DISTINCT(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z]+')))
             AS n_distinct_words
    FROM documents
    """,
    doc="token counting: whitespace tokens vs a BPE-ish pre-tokenizer regex "
        "(alpha runs | digit runs | single symbols — the GPT-2 pre-tokenizer "
        "shape) plus distinct-word vocabulary size. Pure JVM regexp, "
        "narrow/no-shuffle, scales linearly",
)
def text_token_counts(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    # r14 optimization: the three BPE-ish token classes (alpha runs,
    # digit runs, single symbols) are DISJOINT character classes, so the
    # alternation's match set is exactly the union of the three class
    # match sets and n_bpe_tokens = n_alpha + n_num + n_sym — one fewer
    # full regex pass over every document (the oracle keeps the
    # alternation spelling; equality is structural, re-proven by the
    # exact gate).
    n_alpha = F.regexp_count("text", F.lit(r"[A-Za-z]+"))
    n_num = F.regexp_count("text", F.lit(r"[0-9]+"))
    n_sym = F.regexp_count("text", F.lit(r"[^A-Za-z0-9\s]"))
    return d.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_ws_tokens"),
        (n_alpha + n_num + n_sym).alias("n_bpe_tokens"),
        n_alpha.alias("n_alpha"),
        n_num.alias("n_num"),
        n_sym.alias("n_sym"),
        F.size(F.array_distinct(
            F.expr(r"regexp_extract_all(lower(text), '[a-z]+', 0)")))
        .alias("n_distinct_words"),
    )


@query(
    "doc_fingerprint_winnow",
    r"""
    WITH sh AS (
      -- two equal-length UNNESTs zip row-wise in DuckDB: (pos, rolling hash)
      SELECT doc_id,
             UNNEST(RANGE(1, GREATEST(LEN(words) - 1, 1))) - 1 AS pos,
             UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(words) - 1, 1)),
                    i -> MD5(words[i] || ' ' || words[i+1] || ' ' || words[i+2])))
               AS h
      FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS words FROM documents) t
      WHERE LEN(words) >= 3
    ),
    winmin AS (
      SELECT doc_id,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      FROM sh
    )
    SELECT DISTINCT doc_id, fp FROM winmin
    """,
    doc="document fingerprinting by winnowing: rolling hash (md5) over word "
        "3-gram shingles, keep the window-min hash of every 4-shingle window "
        "(MOSS-style local minima), distinct per doc. Window-min is a "
        "partition-local scan — no extra shuffle beyond the per-doc "
        "repartition; fingerprint set size is ~n/w per doc",
)
def doc_fingerprint_winnow(spark, sf_dir):
    # r14 optimization: winnowing is per-document and order-local, so the
    # whole face is now a ROW-LOCAL array program — rolling md5 shingle
    # hashes, window-min over every 4-shingle window (slice + array_min;
    # the tail windows truncate exactly like ROWS BETWEEN CURRENT ROW AND
    # 3 FOLLOWING), array_distinct per doc, one explode. The previous
    # shape posexploded every shingle, shuffled them into a doc_id
    # window sort, and ran a global DISTINCT (two full-width exchanges +
    # a sort); this plan has NO exchange at all past the spread — the
    # 100 TB cost is exactly one pass over the corpus. The hash array is
    # bound once per row by wrapping it in a one-element array and
    # transforming that (element_at(transform(array(struct(h)),
    # st -> ...), 1)): a lambda variable cannot be inlined, whereas naming
    # the array with withColumn would let CollapseProject inline the O(n)
    # md5 fold into the per-window lambda and recompute it per element.
    d = spread(T(spark, sf_dir, "documents"))
    words = _words()
    k = 3
    sh = F.transform(F.sequence(F.lit(0), F.size(words) - k),
                     lambda i: F.md5(F.array_join(F.slice(words, i + 1, k),
                                                  " ")))
    wins = F.element_at(
        F.transform(
            F.array(F.struct(sh.alias("h"))),
            lambda st: F.transform(
                F.sequence(F.lit(1), F.size(st["h"])),
                lambda i: F.array_min(F.slice(st["h"], i, 4)))),
        1)
    return (d.filter(F.size(words) >= k)
            .select("doc_id",
                    F.explode(F.array_distinct(wins)).alias("fp")))


_CHUNK = 32    # tokens per chunk
_STRIDE = 24   # chunk stride (overlap = _CHUNK - _STRIDE = 8 tokens)


@query(
    "text_chunk_overlap",
    f"""
    WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks
               FROM documents),
    st AS (SELECT doc_id, toks,
                  UNNEST(RANGE(0, LEN(toks), {_STRIDE})) AS start
           FROM t)
    SELECT doc_id,
           CAST(start // {_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(start AS BIGINT) AS start_tok,
           CAST(LEAST({_CHUNK}, LEN(toks) - start) AS BIGINT) AS n_tok,
           MD5(ARRAY_TO_STRING(toks[start + 1 : start + {_CHUNK}], ' '))
             AS chunk_hash
    FROM st
    """,
    doc=f"RAG chunking: sliding windows of {_CHUNK} tokens at stride "
        f"{_STRIDE} ({_CHUNK - _STRIDE}-token overlap so retrieval never "
        "loses a sentence to a chunk boundary), emitting per-chunk "
        "position, length, and content hash — the id a vector store "
        "dedups on before embedding. All row-local JVM array ops "
        "(sequence/slice/array_join, no UDF, no shuffle at all: the "
        "explode fans out inside the scan stage), so at 100 TB the cost "
        "is exactly one pass over the corpus; the hash makes the face "
        "exact cross-engine",
)
def text_chunk_overlap(spark, sf_dir):
    d = spread(T(spark, sf_dir, "documents"))
    words = _words()
    starts = F.sequence(F.lit(0), F.size(words) - 1, F.lit(_STRIDE))
    return (d.select("doc_id", words.alias("toks"),
                     F.explode(starts).alias("start"))
            .select(
                "doc_id",
                F.expr(f"start div {_STRIDE}").cast("bigint")
                .alias("chunk_idx"),
                F.col("start").cast("bigint").alias("start_tok"),
                F.least(F.lit(_CHUNK), F.size("toks") - F.col("start"))
                .cast("bigint").alias("n_tok"),
                F.md5(F.array_join(
                    F.slice("toks", F.col("start") + 1, _CHUNK), " "))
                .alias("chunk_hash")))


_KG = 8        # substring-dedup gram width (tokens)


@query(
    "text_kgram_dup_profile",
    f"""
    WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks
               FROM documents),
    g AS (
      SELECT doc_id,
             MD5(ARRAY_TO_STRING(toks[i + 1 : i + {_KG}], ' ')) AS h
      FROM (SELECT doc_id, toks,
                   UNNEST(RANGE(0, LEN(toks) - {_KG} + 1)) AS i
            FROM t WHERE LEN(toks) >= {_KG})
    ),
    stats AS (SELECT h, COUNT(DISTINCT doc_id) AS ndocs FROM g GROUP BY h)
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN s.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_grams,
           ROUND(CAST(SUM(CASE WHEN s.ndocs >= 2 THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 4) AS dup_ratio
    FROM g JOIN stats s ON s.h = g.h
    GROUP BY g.doc_id
    """,
    doc=f"substring-level duplication profile (Lee et al. 2022, "
        f"'Deduplicating Training Data Makes Language Models Better'): "
        f"every {_KG}-token gram POSITION is hashed (md5 of the joined "
        "window — the exact-dedup analog of that paper's suffix-array "
        "spans), gram document-frequency is one hash-keyed count-distinct, "
        "and each document gets the fraction of its gram positions that "
        "also occur in another document — the cut score substring dedup "
        "thresholds on. Scale: the explode is one corpus pass fanning out "
        "x(len-k+1) inside the scan stage; both the df count and the "
        "position⋈df join are equi-keyed on the gram hash (linear, "
        "map-side-combining); nothing is pairwise — doc similarity never "
        "materializes, only per-gram counts, which is why this shape "
        "survives 100 TB where a doc-pair join would not",
)
def text_kgram_dup_profile(spark, sf_dir):
    d = spread(T(spark, sf_dir, "documents"))
    words = _words()
    sh = F.transform(
        F.sequence(F.lit(0), F.size(words) - _KG),
        lambda i: F.md5(F.array_join(F.slice(words, i + 1, _KG), " ")))
    docs = d.filter(F.size(words) >= _KG)
    g = docs.select("doc_id", F.explode(sh).alias("h"))
    from .core import fresh_persist
    g = fresh_persist("kgram_g", g)
    # "gram occurs in >= 2 docs" needs only whether the doc ids differ,
    # not their count: min != max is the same predicate as
    # COUNT(DISTINCT doc_id) >= 2 with ONE map-side-combined exchange
    # instead of the two-phase distinct agg (guide §2.3). Only the
    # DUPLICATED grams come back — a left-semi probe of the position
    # table — so the per-doc fold's exchange carries dup positions
    # only, map-side combined to |docs| rows.
    duph = (g.groupBy("h")
            .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
            .filter(F.col("mn") != F.col("mx")).select("h"))
    ndup = (g.join(duph, "h", "left_semi")
            .groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_dup_grams")))
    # n_grams needs no join at all: the explode emits exactly
    # size(words) - _KG + 1 positions per document row, so the total is
    # a row-local expression on the narrow documents scan (guide §2.4 —
    # the old plan shipped every gram position through the stats join
    # and a full-width doc_id exchange just to count them).
    base = (docs.groupBy("doc_id")
            .agg(F.sum(F.size(words) - F.lit(_KG - 1))
                 .cast("bigint").alias("n_grams")))
    nd = F.coalesce(F.col("n_dup_grams"), F.lit(0).cast("bigint"))
    return (base.join(ndup, "doc_id", "left")
            .select("doc_id", "n_grams",
                    nd.alias("n_dup_grams"),
                    F.round(nd.cast("double") / F.col("n_grams"), 4)
                    .alias("dup_ratio")))


_CMS_D = 4     # sketch rows (independent hashes)
_CMS_W = 256   # buckets per row (two md5 hex digits)


def _cms_oracle() -> str:
    # bucket index = first two hex digits of md5(token || ':' || row)
    idx = ("(STRPOS('0123456789abcdef', SUBSTR(h, 1, 1)) - 1) * 16 + "
           "STRPOS('0123456789abcdef', SUBSTR(h, 2, 1)) - 1")
    return f"""
    WITH tok AS (
      SELECT UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
    ),
    hashed AS (
      SELECT w, r, MD5(w || ':' || CAST(r AS VARCHAR)) AS h
      FROM tok, (SELECT UNNEST(RANGE(0, {_CMS_D})) AS r)
    ),
    cms AS (
      SELECT r, {idx} AS idx, CAST(COUNT(*) AS BIGINT) AS c
      FROM hashed GROUP BY r, idx
    ),
    exact AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM tok GROUP BY w
    ),
    topk AS (
      SELECT w, exact_cnt FROM exact
      ORDER BY exact_cnt DESC, w ASC LIMIT 10
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM tok),
    probes AS (
      SELECT t.w, t.exact_cnt, p.r,
             (STRPOS('0123456789abcdef',
                     SUBSTR(MD5(t.w || ':' || CAST(p.r AS VARCHAR)), 1, 1))
              - 1) * 16 +
             STRPOS('0123456789abcdef',
                    SUBSTR(MD5(t.w || ':' || CAST(p.r AS VARCHAR)), 2, 1))
              - 1 AS idx
      FROM topk t, (SELECT UNNEST(RANGE(0, {_CMS_D})) AS r) p
    ),
    est AS (
      SELECT p.w, p.exact_cnt, MIN(c.c) AS est_cnt
      FROM probes p JOIN cms c ON c.r = p.r AND c.idx = p.idx
      GROUP BY p.w, p.exact_cnt
    )
    SELECT e.w AS token, e.exact_cnt, e.est_cnt,
           e.est_cnt >= e.exact_cnt AS over_ok,
           (e.est_cnt - e.exact_cnt) * {_CMS_W} <= 4 * n.total AS bound_ok
    FROM est e CROSS JOIN n
    ORDER BY e.exact_cnt DESC, e.w ASC
    """


@query(
    "agg_count_min_sketch",
    _cms_oracle(),
    doc=f"Count-Min sketch (Cormode-Muthukrishnan 2005): d={_CMS_D} "
        f"hash rows x w={_CMS_W} buckets built as ONE group-by over "
        "(row, md5-derived bucket) — the sketch is mergeable by "
        f"construction (counts add), bounded at {_CMS_D * _CMS_W} cells "
        "total regardless of corpus size, and folds map-side, so at "
        "100 TB each executor ships 1 KB of partial sketch. Probing the "
        "top-10 exact tokens: estimate = min over rows of the token's "
        "bucket count; the face emits the CMS contract as booleans — "
        "estimates never undercount (structural) and overcount by at "
        f"most 4N/w (Markov bound at 4x slack; margin-tested). Completes "
        "the mergeable-sketch tier (KLL quantiles, Theta set ops, "
        "Misra-Gries heavy hitters, HLL distinct) with the frequency "
        "point-query sketch. All-integer, hash-exact",
)
def agg_count_min_sketch(spark, sf_dir):
    # the token explode is NOT persisted: caching a corpus-sized explode
    # is the one move that wouldn't survive 100 TB. Its ONLY consumer is
    # the VOCAB-sized exact count table, which persists and feeds
    # everything else — including the sketch build: cms[r][idx] counts
    # token INSTANCES, and summing exact_cnt over the words hashing to a
    # cell is the same integer, so the x4 row explode and the 4 md5
    # calls per token instance collapse to 4 md5 calls per DISTINCT
    # word (guide §2.3, aggregate before you fan out). Nothing
    # corpus-sized is ever materialized or re-hashed.
    d = spread(T(spark, sf_dir, "documents"))
    tok = d.select(F.explode(_words()).alias("w"))

    rows = F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("r")
    bucket = F.expr("CAST(conv(substr(md5(concat(w, ':', CAST(r AS STRING)))"
                    ", 1, 2), 16, 10) AS INT)")

    from .core import fresh_persist
    exact = fresh_persist(
        "cms_exact",
        tok.groupBy("w").agg(F.count("*").cast("bigint")
                             .alias("exact_cnt")))

    cms = (exact.select("w", "exact_cnt", rows)
           .select("r", bucket.alias("idx"), "exact_cnt")
           .groupBy("r", "idx")
           .agg(F.sum("exact_cnt").cast("bigint").alias("c")))
    topk = (exact.orderBy(F.desc("exact_cnt"), F.asc("w")).limit(10))
    total = exact.agg(F.sum("exact_cnt").cast("bigint").alias("total"))

    probes = (topk.select("w", "exact_cnt", rows)
              .select("w", "exact_cnt", "r", bucket.alias("idx")))
    est = (probes.join(F.broadcast(cms), ["r", "idx"])
           .groupBy("w", "exact_cnt")
           .agg(F.min("c").alias("est_cnt")))
    return (est.crossJoin(F.broadcast(total))
            .select(F.col("w").alias("token"), "exact_cnt", "est_cnt",
                    (F.col("est_cnt") >= F.col("exact_cnt"))
                    .alias("over_ok"),
                    ((F.col("est_cnt") - F.col("exact_cnt")) * _CMS_W
                     <= 4 * F.col("total")).alias("bound_ok"))
            .orderBy(F.desc("exact_cnt"), F.asc("token")))


# --------------------------------------------------------------------------
# Embedding similarity search
# --------------------------------------------------------------------------
@query(
    "embed_cosine_topk",
    """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    sims AS (
      SELECT e.vec_id, e.label,
             ROUND(
               LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(e.embedding) + 1),
                        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
               / (SQRT(LIST_SUM(LIST_TRANSFORM(e.embedding,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * SQRT(LIST_SUM(LIST_TRANSFORM(q.qv,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
               AS cosine
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> 0
    )
    SELECT vec_id, label, cosine FROM sims
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 10
    """,
    doc="brute-force cosine top-k against a broadcast query vector — the "
        "exact ANN baseline; dot/norm via zip_with + aggregate (JVM "
        "higher-order fns, no UDF)",
)
def embed_cosine_topk(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    e = spread(e)
    q = (e.filter(F.col("vec_id") == 0)
         .select(F.col("embedding").alias("qv")))
    dot = F.aggregate(
        F.zip_with("embedding", "qv",
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    norm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label",
                F.round(dot / (norm("embedding") * norm("qv")), 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


@query(
    "embed_centroids",
    """
    SELECT label, dim, ROUND(AVG(CAST(x AS DOUBLE)), 6) AS centroid_x
    FROM (SELECT label,
                 UNNEST(RANGE(1, LEN(embedding) + 1)) AS dim,
                 UNNEST(embedding) AS x
          FROM embeddings) t
    GROUP BY label, dim
    """,
    doc="per-label centroids via posexplode + hash agg (element-wise array "
        "mean expressed relationally — partial-agg friendly at scale)",
)
def embed_centroids(spark, sf_dir):
    e = spread(T(spark, sf_dir, "embeddings"))
    return (
        e.select("label", F.posexplode("embedding").alias("dim0", "x"))
        .select("label", (F.col("dim0") + 1).cast("long").alias("dim"),
                F.col("x").cast("double").alias("x"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg("x"), 6).alias("centroid_x"))
    )


@query(
    "embed_knn_per_label",
    """
    WITH cents AS (
      SELECT label, dim, AVG(CAST(x AS DOUBLE)) AS cx
      FROM (SELECT label, UNNEST(RANGE(1, LEN(embedding) + 1)) AS dim,
                   UNNEST(embedding) AS x FROM embeddings) t
      GROUP BY label, dim
    ),
    flat AS (
      SELECT vec_id, label, UNNEST(RANGE(1, LEN(embedding) + 1)) AS dim,
             UNNEST(embedding) AS x
      FROM embeddings
    ),
    dists AS (
      SELECT f.vec_id, f.label,
             SQRT(SUM((CAST(f.x AS DOUBLE) - c.cx) *
                      (CAST(f.x AS DOUBLE) - c.cx))) AS dist
      FROM flat f JOIN cents c ON f.label = c.label AND f.dim = c.dim
      GROUP BY f.vec_id, f.label
    ),
    ranked AS (
      SELECT vec_id, label, ROUND(dist, 6) AS dist,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY ROUND(dist, 6), vec_id) AS rn
      FROM dists
    )
    SELECT label, vec_id, dist, rn FROM ranked WHERE rn <= 5
    """,
    doc="IVF-style building block: distance of every vector to its label "
        "centroid, top-5 most-central per label (join on exploded dims + "
        "window top-k)",
)
def embed_knn_per_label(spark, sf_dir):
    e = spread(T(spark, sf_dir, "embeddings"))
    flat = (e.select("vec_id", "label", F.posexplode("embedding").alias("dim0", "x"))
            .select("vec_id", "label", (F.col("dim0") + 1).cast("long").alias("dim"),
                    F.col("x").cast("double").alias("x")))
    cents = flat.groupBy("label", "dim").agg(F.avg("x").alias("cx"))
    dists = (
        flat.join(cents, ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(F.sqrt(F.sum((F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx"))))
             .alias("dist"))
    )
    w = Window.partitionBy("label").orderBy(F.round(F.col("dist"), 6), F.col("vec_id"))
    return (
        dists.select("label", "vec_id", F.round("dist", 6).alias("dist"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("label", "vec_id", "dist", "rn")
    )


# --------------------------------------------------------------------------
# Multimodal columns (binary payload plumbing; decode is a deterministic stub)
# --------------------------------------------------------------------------
@query(
    "multimodal_meta",
    """
    SELECT doc_id,
           OCTET_LENGTH(ENCODE(text)) AS n_bytes,
           MD5(text) AS content_hash,
           SUBSTR(MD5(text), 1, 8) AS chunk_key
    FROM documents
    """,
    doc="multimodal column pattern: opaque binary payload + typed metadata; "
        "byte length, content hash, partition/chunk key. Real decode "
        "(image/audio) is a mapInPandas stub — see llm/multimodal.py",
)
def multimodal_meta(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    payload = F.encode("text", "utf-8")
    return d.select(
        "doc_id",
        F.octet_length(payload).alias("n_bytes"),
        F.md5("text").alias("content_hash"),
        F.substring(F.md5("text"), 1, 8).alias("chunk_key"),
    )


# --------------------------------------------------------------------------
# Dedup clustering: connected components over near-dup candidate pairs
# --------------------------------------------------------------------------
# (the sig/bands/pairs CTE fragment is _BANDS_SQL_FRAG, defined with the
# signature column list next to _minhash_sig_cols_sql above)


@query(
    "dedup_components",
    f"""
    WITH RECURSIVE sh AS ({_SHINGLE_SQL}),
    {_BANDS_SQL_FRAG.format(sig_cols=_minhash_sig_cols_sql)},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
    reach(doc_id, r) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.doc_id
    )
    SELECT doc_id, MIN(r) AS component,
           COUNT(*) OVER (PARTITION BY MIN(r)) AS component_size
    FROM reach GROUP BY doc_id
    """,
    doc="near-dup CLUSTERING: connected components over the MinHash/LSH "
        "candidate graph via iterative min-label propagation (each round = "
        "one join + one min-agg; converges in O(diameter) rounds — "
        "diameters of dup clusters are tiny, and at web scale the same "
        "loop with large-star/small-star runs in O(log n) rounds). The "
        "component id picks the canonical keeper (min doc_id). Oracle: "
        "DuckDB recursive CTE computing min reachable id",
)
def dedup_components(spark, sf_dir):
    # Iteration hygiene for an unbounded-round driver loop:
    # - edges are localCheckpoint'ed ONCE (eager): the whole LSH candidate
    #   pipeline runs a single time and every round re-reads materialized
    #   blocks instead of re-deriving the lineage;
    # - each round's labels are eagerly localCheckpoint'ed too, so lineage
    #   stays O(1) across rounds (an uncheckpointed cache chain grows the
    #   plan linearly and eventually stack-overflows the planner);
    # - convergence is folded into the round's own materialization: the
    #   per-row `chg` flag is computed inside the same select, and the
    #   check is a limit(1) scan of already-checkpointed blocks — no extra
    #   join-and-count recomputation per round.
    # At web scale the same loop would alternate large-star/small-star
    # (Kiveris et al.) for O(log n) rounds; dup-cluster diameters here are
    # tiny so plain min-label propagation converges in 2-3.
    # localCheckpoint (vs reliable checkpoint) trades executor-loss
    # recoverability for zero-HDFS-roundtrip speed: lineage is truncated,
    # so losing an executor mid-loop loses blocks unrecoverably. For an
    # interactive/bench session that is the right trade; a production run
    # on preemptible nodes should set a checkpoint dir and use .checkpoint.
    # Superseded rounds are unpersisted explicitly: DataFrame.unpersist()
    # does NOT free localCheckpoint blocks (they live behind a LogicalRDD,
    # not the cache manager), so we grab the internal RDD handle.

    def _chk_rdd(df):
        plan = df._jdf.queryExecution().analyzed()
        try:
            return plan.rdd()  # LogicalRDD's checkpointed internal RDD
        except Exception:
            return None

    pairs = minhash_lsh_candidates(spark, sf_dir)
    edges = (pairs.selectExpr("doc_a AS src", "doc_b AS dst")
             .unionAll(pairs.selectExpr("doc_b AS src", "doc_a AS dst"))
             .localCheckpoint())
    labels = (edges.select(F.col("src").alias("doc_id")).distinct()
              .withColumn("component", F.col("doc_id"))
              .localCheckpoint())
    prev_rdd = _chk_rdd(labels)
    for _ in range(20):  # diameter bound; tiny dup clusters converge in 2-3
        nbr = (edges.join(labels, edges.src == labels.doc_id)
               .groupBy(F.col("dst").alias("doc_id"))
               .agg(F.min("component").alias("nbr_min")))
        new_comp = F.least("component", F.coalesce("nbr_min", "component"))
        new_labels = (labels.join(nbr, "doc_id", "left")
                      .select("doc_id", new_comp.alias("component"),
                              (new_comp < F.col("component")).alias("chg"))
                      .localCheckpoint())  # eager: the round's one real job
        changed = new_labels.filter("chg").limit(1).count()
        labels = new_labels.drop("chg")
        if prev_rdd is not None:   # superseded round's blocks, free now
            prev_rdd.unpersist(False)
        prev_rdd = _chk_rdd(new_labels)
        if changed == 0:
            break
    edges_rdd = _chk_rdd(edges)    # loop done; final labels don't read edges
    if edges_rdd is not None:
        edges_rdd.unpersist(False)
    w = Window.partitionBy("component")
    return labels.select("doc_id", "component",
                         F.count("*").over(w).alias("component_size"))


@query(
    "text_repetition",
    """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    SELECT doc_id,
           CAST(len(w) AS INT) AS n_words,
           ROUND(1 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 4)
               AS dup_word_frac,
           ROUND(1 - CAST(len(list_distinct(
                     list_transform(list_zip(w[1:-2], w[2:]),
                                    p -> p[1] || ' ' || p[2])))
                 AS DOUBLE) / (len(w) - 1), 4) AS dup_bigram_frac,
           ROUND(CAST(list_max(list_transform(list_distinct(w),
                     x -> len(list_filter(w, y -> y = x))))
                 AS DOUBLE) / len(w), 4) AS top_word_frac
    FROM d
    """,
    doc="Gopher-style repetition quality signals per document: duplicate "
        "word fraction, duplicate bigram fraction, and the mass of the "
        "single most frequent word. All higher-order array functions on "
        "the split token list — zero shuffles, zero UDFs, one narrow "
        "projection per doc, so the filter runs at scan speed over 100 TB "
        "(the mode-word scan is O(distinct x words) per doc, bounded by "
        "document length, never by corpus size)",
)
def text_repetition(spark, sf_dir):
    d = T(spark, sf_dir, "documents").withColumn("w", F.split("text", " "))
    n = F.size("w")
    bigrams = F.expr(
        "transform(slice(w, 1, size(w) - 1), (x, i) -> concat(x, ' ', w[i + 1]))")
    top_n = F.array_max(F.expr(
        "transform(array_distinct(w), x -> size(filter(w, y -> y = x)))"))
    return d.select(
        "doc_id",
        n.cast("int").alias("n_words"),
        F.round(1 - F.size(F.array_distinct("w")).cast("double") / n, 4)
         .alias("dup_word_frac"),
        F.round(1 - F.size(F.array_distinct(bigrams)).cast("double") / (n - 1), 4)
         .alias("dup_bigram_frac"),
        F.round(top_n.cast("double") / n, 4).alias("top_word_frac"),
    )


@query(
    "text_pii_redact",
    """
    WITH aug AS (
        SELECT doc_id,
               text || ' contact user' || doc_id ||
               '@mail.example or phone 555-' ||
               lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') AS t
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, 'user[0-9]+@[a-z]+[.][a-z]+'))
                AS INT) AS n_emails,
           CAST(len(regexp_extract_all(t, '555-[0-9]{4}')) AS INT)
                AS n_phones,
           regexp_replace(regexp_replace(t, 'user[0-9]+@[a-z]+[.][a-z]+',
                                         '<EMAIL>', 'g'),
                          '555-[0-9]{4}', '<PHONE>', 'g') AS redacted
    FROM aug
    """,
    doc="PII detection + redaction over documents: count and mask "
        "email/phone-shaped spans with JVM regexp_replace (patterns kept "
        "in the RE2-compatible subset so Java and RE2 agree). The corpus "
        "has no organic PII, so a deterministic synthetic contact line is "
        "appended per doc and then provably redacted — the full output "
        "string is hash-compared against the oracle. Narrow projection, "
        "scan-speed at 100 TB",
)
def text_pii_redact(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example or phone 555-"),
        F.lpad(((F.col("doc_id") * 7) % 10000).cast("string"), 4, "0"))
    email = r"user[0-9]+@[a-z]+[.][a-z]+"
    phone = r"555-[0-9]{4}"
    t = d.select("doc_id", aug.alias("t"))
    return t.select(
        "doc_id",
        F.regexp_count("t", F.lit(email)).cast("int").alias("n_emails"),
        F.regexp_count("t", F.lit(phone)).cast("int").alias("n_phones"),
        F.regexp_replace(F.regexp_replace("t", email, "<EMAIL>"),
                         phone, "<PHONE>").alias("redacted"),
    )


@query(
    "dedup_incremental",
    """
    WITH old AS (
        SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 5 <> 0
    ),
    batch AS (
        SELECT md5(text) AS fp, MIN(doc_id) AS keep_doc_id,
               COUNT(*) AS n_in_batch
        FROM documents WHERE doc_id % 5 = 0
        GROUP BY md5(text)
    )
    SELECT b.keep_doc_id, b.n_in_batch
    FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM old o WHERE o.fp = b.fp)
    """,
    doc="incremental exact dedup: a new ingest batch (doc_id % 5 = 0 "
        "stands in for today's crawl) dedups internally (min-doc_id per "
        "md5 fingerprint) then LEFT ANTI joins the historical corpus's "
        "DISTINCT fingerprint set. Both join sides are key-only — the "
        "history never ships documents, just 16-byte fingerprints, and "
        "at 100 TB the anti-join is the shape runtime bloom-filter "
        "pruning accelerates. The append-only complement of dedup_exact's "
        "full-corpus pass",
)
def dedup_incremental(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    fp = F.md5("text")
    old = (d.filter(F.col("doc_id") % 5 != 0)
           .select(fp.alias("fp")).distinct())
    batch = (d.filter(F.col("doc_id") % 5 == 0)
             .groupBy(fp.alias("fp"))
             .agg(F.min("doc_id").alias("keep_doc_id"),
                  F.count("*").alias("n_in_batch")))
    return (batch.join(old, "fp", "left_anti")
            .select("keep_doc_id", "n_in_batch"))


@query(
    "text_vocab_topk",
    """
    SELECT w AS word, COUNT(*) AS n
    FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents) t
    GROUP BY w
    ORDER BY n DESC, w ASC
    LIMIT 50
    """,
    doc="global vocabulary top-50: explode words, one partially-aggregated "
        "count keyed by word (shuffle volume = distinct vocabulary after "
        "map-side combine, not token count), then orderBy+limit compiles "
        "to TakeOrderedAndProject — per-partition top-50 merged on the "
        "driver, never a global sort. The corpus-statistics staple for "
        "tokenizer training and stopword derivation",
)
def text_vocab_topk(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return (d.select(F.explode(F.split("text", " ")).alias("word"))
            .groupBy("word").agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), F.asc("word"))
            .limit(50))


@query(
    "text_lm_score",
    """
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS w
                   FROM documents),
    bg AS (
        SELECT doc_id, UNNEST(w[1:-2]) AS w1, UNNEST(w[2:]) AS w2
        FROM words
    ),
    pair_c AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
    head_c AS (SELECT w1, SUM(c2) AS c1 FROM pair_c GROUP BY 1)
    SELECT b.doc_id,
           CAST(COUNT(*) AS INT) AS n_bigrams,
           ROUND(AVG(LOG2(CAST(p.c2 AS DOUBLE) / h.c1)), 4)
               AS avg_log2_prob
    FROM bg b
    JOIN pair_c p ON b.w1 = p.w1 AND b.w2 = p.w2
    JOIN head_c h ON b.w1 = h.w1
    GROUP BY b.doc_id
    """,
    doc="LM-quality scoring (the CCNet/KenLM perplexity-filter proxy, "
        "self-trained): a word-bigram model is fit on the corpus itself "
        "in one aggregation pass — P(w2|w1) = c(w1,w2)/c(w1) — and each "
        "document scores avg log2 P over its bigrams. The model is "
        "vocabulary-sized (size-adaptive joins — AQE broadcasts the "
        "count tables while they fit), so scoring is scan + model joins "
        "+ one doc-keyed aggregation; at 100 TB "
        "the model phase is a partially-aggregated count whose shuffle "
        "is the bigram vocabulary, never the token stream. Low scores "
        "flag incoherent/repetitive docs — the quality gate after "
        "text_quality's surface stats",
)
def text_lm_score(spark, sf_dir):
    d = T(spark, sf_dir, "documents").withColumn("w", F.split("text", " "))
    bg = d.select(
        "doc_id",
        F.explode(F.expr(
            "transform(slice(w, 1, size(w) - 1), "
            "(x, i) -> struct(x AS w1, w[i + 1] AS w2))")).alias("b")) \
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    pair_c = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    head_c = pair_c.groupBy("w1").agg(F.sum("c2").alias("c1"))
    logp = F.log2(F.col("c2").cast("double") / F.col("c1"))
    # NO broadcast hints on the model tables: both grow with the corpus
    # vocabulary, and F.broadcast ignores size — past Spark's 8 GB
    # broadcast cap the face would throw rather than degrade (the r13
    # defect class fixed in crossentropy_matrix_fold /
    # mix_perplexity_buckets). The scoring joins shuffled on
    # (w1, w2)/(w1) are the scale-safe plan; AQE broadcasts them on its
    # own while they are small.
    return (bg.join(pair_c, ["w1", "w2"])
            .join(head_c, "w1")
            .groupBy("doc_id")
            .agg(F.count("*").cast("int").alias("n_bigrams"),
                 F.round(F.avg(logp), 4).alias("avg_log2_prob")))


@query(
    "text_tfidf_topterms",
    """
    WITH tf AS (
        SELECT doc_id, w, COUNT(*) AS tf
        FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w
              FROM documents) t
        GROUP BY doc_id, w
    ),
    df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.w,
               tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df) AS tfidf
        FROM tf JOIN df ON tf.w = df.w CROSS JOIN n
    ),
    ranked AS (
        SELECT doc_id, w, tfidf,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, w ASC) AS rn
        FROM scored
    )
    SELECT doc_id, w AS term, ROUND(tfidf, 4) AS tfidf
    FROM ranked WHERE rn <= 3
    """,
    doc="TF-IDF top terms: term frequency per (doc, word) in one "
        "doc+word-keyed aggregation, document frequency + corpus size as "
        "vocabulary-sized side aggregates broadcast back, then the top-3 "
        "terms per doc by a doc-keyed window (ties break on the term). "
        "The classic IR weighting — keyword extraction, sparse retrieval, "
        "topic labeling — at two big-table shuffles (tf agg + window; "
        "df/n broadcast)",
)
def text_tfidf_topterms(spark, sf_dir):
    from pyspark.sql.window import Window

    d = T(spark, sf_dir, "documents")
    tf = (d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
          .groupBy("doc_id", "w").agg(F.count("*").alias("tf")))
    df = tf.groupBy("w").agg(F.count("*").alias("df"))
    # corpus size as an IN-PLAN broadcast scalar, not a driver-side
    # count(): the eager count added a full extra documents scan to every
    # construction of this query (the crossJoin pattern used by
    # rfm_segments / dq_ks_drift)
    nd = d.agg(F.count("*").cast("double").alias("n_docs"))
    tfidf = F.col("tf") * F.log(F.col("n_docs") / F.col("df"))
    w_rank = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("w"))
    # no hint on df: every term is scored, so the document-frequency
    # table is the full corpus vocabulary — unboundedly growing, the r13
    # forced-broadcast defect class. Shuffled join on w is the
    # scale-safe plan; AQE broadcasts it while it fits. nd stays hinted
    # (1 row at any scale).
    return (tf.join(df, "w")
            .crossJoin(F.broadcast(nd))
            .withColumn("tfidf", tfidf)
            .withColumn("rn", F.row_number().over(w_rank))
            .filter(F.col("rn") <= 3)
            .select("doc_id", F.col("w").alias("term"),
                    F.round("tfidf", 4).alias("tfidf")))


_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_QUERY = ("spark", "shuffle", "window")


@query(
    "text_bm25_search",
    f"""
    WITH tf AS (
        SELECT doc_id, w, COUNT(*) AS tf
        FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w
              FROM documents) t
        GROUP BY doc_id, w
    ),
    dlen AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl
              FROM dlen),
    df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
    q AS (SELECT UNNEST(['spark', 'shuffle', 'window']) AS w),
    scored AS (
        SELECT tf.doc_id,
               SUM(LN((CAST(s.n_docs AS DOUBLE) - df.df + 0.5)
                      / (df.df + 0.5) + 1.0)
                   * (tf.tf * ({_BM25_K1} + 1.0))
                   / (tf.tf + {_BM25_K1}
                      * (1.0 - {_BM25_B}
                         + {_BM25_B} * (CAST(d.dl AS DOUBLE) / s.avgdl))))
                   AS score
        FROM tf
        JOIN q ON tf.w = q.w
        JOIN df ON tf.w = df.w
        JOIN dlen d ON tf.doc_id = d.doc_id
        CROSS JOIN stats s
        GROUP BY tf.doc_id
    )
    SELECT doc_id, ROUND(score, 4) AS bm25
    FROM scored
    ORDER BY score DESC, doc_id ASC
    LIMIT 10
    """,
    doc="BM25 ranked retrieval (k1=1.2, b=0.75) for a fixed 3-term query: "
        "term frequencies and doc lengths from one doc+word aggregation, "
        "document frequencies and corpus stats broadcast back, the "
        "query-term semi-join prunes the tf table BEFORE scoring, and "
        "the final top-10 is TakeOrdered. Sparse retrieval beside the "
        "dense ANN tiers (embed_*) — together the hybrid-search pair "
        "every retrieval stack runs. Scoring shape written identically "
        "in both engines so doubles hash-match",
)
def text_bm25_search(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    tf = (d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
          .groupBy("doc_id", "w").agg(F.count("*").alias("tf")))
    dlen = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dlen.agg(F.count("*").alias("n_docs"),
                     F.avg("dl").alias("avgdl"))
    q = spark.createDataFrame([(t,) for t in _BM25_QUERY], "w STRING")
    # tf is pruned to the query terms FIRST, and df (document frequency)
    # is computed from the pruned rows: df(w) = COUNT of (doc, w) rows,
    # so restricting to w IN q before the groupBy yields byte-identical
    # counts for every term the inner join can use. The old spelling
    # aggregated the FULL vocabulary and force-broadcast it — a table
    # that grows with the corpus and hard-fails past Spark's 8 GB
    # broadcast cap; df_q is <= |query| rows at any corpus size.
    tf_q = tf.join(F.broadcast(q), "w")
    df_q = tf_q.groupBy("w").agg(F.count("*").alias("df"))
    idf = F.log((F.col("n_docs").cast("double") - F.col("df") + 0.5)
                / (F.col("df") + 0.5) + 1.0)
    denom = (F.col("tf") + _BM25_K1
             * (1.0 - _BM25_B
                + _BM25_B * (F.col("dl").cast("double") / F.col("avgdl"))))
    term_score = idf * (F.col("tf") * (_BM25_K1 + 1.0)) / denom
    return (tf_q
            .join(F.broadcast(df_q), "w")
            .join(dlen, "doc_id")
            .crossJoin(F.broadcast(stats))
            .groupBy("doc_id")
            .agg(F.sum(term_score).alias("score"))
            .select("doc_id", F.round("score", 4).alias("bm25"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(10))


_RRF_K = 60


@query(
    "hybrid_search_rrf",
    f"""
    WITH tf AS (
        SELECT doc_id, w, COUNT(*) AS tf
        FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w
              FROM documents) t
        GROUP BY doc_id, w
    ),
    dlen AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dlen),
    df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
    q AS (SELECT UNNEST(['spark', 'shuffle', 'window']) AS w),
    bm AS (
        SELECT tf.doc_id,
               SUM(LN((CAST(s.n_docs AS DOUBLE) - df.df + 0.5)
                      / (df.df + 0.5) + 1.0)
                   * (tf.tf * ({_BM25_K1} + 1.0))
                   / (tf.tf + {_BM25_K1}
                      * (1.0 - {_BM25_B}
                         + {_BM25_B} * (CAST(d.dl AS DOUBLE) / s.avgdl))))
                   AS score
        FROM tf JOIN q ON tf.w = q.w JOIN df ON tf.w = df.w
        JOIN dlen d ON tf.doc_id = d.doc_id CROSS JOIN stats s
        GROUP BY tf.doc_id
    ),
    bm_rank AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC)
                   AS r
        FROM bm ORDER BY score DESC, doc_id ASC LIMIT 50
    ),
    qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
    dense AS (
        SELECT e.vec_id AS doc_id,
               LIST_SUM(LIST_TRANSFORM(RANGE(1, 65),
                   i -> CAST(e.embedding[i] AS DOUBLE)
                        * CAST(qv.v[i] AS DOUBLE)))
               / (SQRT(LIST_SUM(LIST_TRANSFORM(e.embedding,
                       x -> CAST(x AS DOUBLE) * x)))
                  * SQRT(LIST_SUM(LIST_TRANSFORM(qv.v,
                       x -> CAST(x AS DOUBLE) * x)))) AS cos
        FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> 0
    ),
    dense_rank_ AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id ASC)
                   AS r
        FROM dense ORDER BY cos DESC, doc_id ASC LIMIT 50
    )
    SELECT COALESCE(b.doc_id, d.doc_id) AS doc_id,
           ROUND(COALESCE(1.0 / ({_RRF_K} + b.r), 0.0)
                 + COALESCE(1.0 / ({_RRF_K} + d.r), 0.0), 6) AS rrf
    FROM bm_rank b FULL OUTER JOIN dense_rank_ d ON b.doc_id = d.doc_id
    ORDER BY rrf DESC, doc_id ASC
    LIMIT 10
    """,
    doc="hybrid retrieval: reciprocal-rank fusion (k=60) of the BM25 "
        "top-50 (sparse, over documents) and the cosine top-50 (dense, "
        "over the matching embeddings ids) — the standard fusion that "
        "needs no score calibration because only RANKS cross systems. "
        "Each system's candidate list is top-K bounded, so the fusion "
        "join is K-sized regardless of corpus scale; the rank windows "
        "run over those bounded lists, never the corpus. The "
        "sparse+dense pattern every production retrieval stack ships",
)
def hybrid_search_rrf(spark, sf_dir):
    from pyspark.sql.window import Window

    # BM25 stack rebuilt here (not via text_bm25_search) so the top-50
    # rank list and the fusion share one lazy plan
    d = T(spark, sf_dir, "documents")
    tf = (d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
          .groupBy("doc_id", "w").agg(F.count("*").alias("tf")))
    dlen = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dlen.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    q = spark.createDataFrame([(t,) for t in _BM25_QUERY], "w STRING")
    # query-pruned df, identical counts for the joined terms — see
    # text_bm25_search: the full-vocabulary dfreq broadcast was the r13
    # unbounded-broadcast defect class
    tf_q = tf.join(F.broadcast(q), "w")
    dfreq_q = tf_q.groupBy("w").agg(F.count("*").alias("df"))
    idf = F.log((F.col("n_docs").cast("double") - F.col("df") + 0.5)
                / (F.col("df") + 0.5) + 1.0)
    denom = (F.col("tf") + _BM25_K1
             * (1.0 - _BM25_B
                + _BM25_B * (F.col("dl").cast("double") / F.col("avgdl"))))
    bm = (tf_q.join(F.broadcast(dfreq_q), "w")
          .join(dlen, "doc_id").crossJoin(F.broadcast(stats))
          .groupBy("doc_id").agg(F.sum(idf * (F.col("tf") * (_BM25_K1 + 1.0))
                                       / denom).alias("score"))
          .orderBy(F.desc("score"), F.asc("doc_id")).limit(50))
    bm_rank = bm.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("score"),
                                                F.asc("doc_id")))) \
        .select("doc_id", "r")

    e = T(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    dot = F.aggregate(F.zip_with("embedding", "qv",
                                 lambda x, y: x.cast("double")
                                 * y.cast("double")),
                      F.lit(0.0), lambda acc, x: acc + x)
    nrm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))
    dense = (e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(qv))
             .select(F.col("vec_id").alias("doc_id"),
                     (dot / (nrm("embedding") * nrm("qv"))).alias("cos"))
             .orderBy(F.desc("cos"), F.asc("doc_id")).limit(50))
    dense_rank = dense.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("cos"),
                                                F.asc("doc_id")))) \
        .select("doc_id", "r")

    b, dn = bm_rank.alias("b"), dense_rank.alias("d")
    rrf = (F.coalesce(1.0 / (_RRF_K + F.col("b.r")), F.lit(0.0))
           + F.coalesce(1.0 / (_RRF_K + F.col("d.r")), F.lit(0.0)))
    return (b.join(dn, F.col("b.doc_id") == F.col("d.doc_id"), "full_outer")
            .select(F.coalesce(F.col("b.doc_id"), F.col("d.doc_id"))
                    .alias("doc_id"),
                    F.round(rrf, 6).alias("rrf"))
            .orderBy(F.desc("rrf"), F.asc("doc_id"))
            .limit(10))


@query(
    "embed_kmeans_lloyd",
    """
    WITH flat AS (
      SELECT vec_id, UNNEST(RANGE(1, LEN(embedding) + 1)) AS dim,
             CAST(UNNEST(embedding) AS DOUBLE) AS x
      FROM embeddings
    ),
    cents1 AS (
      SELECT vec_id AS cluster, dim, x AS cx FROM flat
      WHERE vec_id BETWEEN 1 AND 4
    ),
    dist1 AS (
      SELECT f.vec_id, c.cluster, ROUND(SUM((f.x - c.cx) * (f.x - c.cx)), 6) AS d2
      FROM flat f JOIN cents1 c ON f.dim = c.dim
      GROUP BY f.vec_id, c.cluster
    ),
    assign1 AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cluster) AS rn
        FROM dist1) WHERE rn = 1
    ),
    cents2 AS (
      SELECT a.cluster, f.dim, AVG(f.x) AS cx
      FROM flat f JOIN assign1 a ON f.vec_id = a.vec_id
      GROUP BY a.cluster, f.dim
    ),
    dist2 AS (
      SELECT f.vec_id, c.cluster, ROUND(SUM((f.x - c.cx) * (f.x - c.cx)), 6) AS d2
      FROM flat f JOIN cents2 c ON f.dim = c.dim
      GROUP BY f.vec_id, c.cluster
    ),
    assign2 AS (
      SELECT vec_id, cluster, d2 FROM (
        SELECT vec_id, cluster, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cluster) AS rn
        FROM dist2) WHERE rn = 1
    )
    SELECT cluster, COUNT(*) AS n_members, ROUND(SUM(d2), 3) AS sse
    FROM assign2 GROUP BY cluster
    """,
    doc="k-means, two Lloyd iterations unrolled into ONE lazy DataFrame "
        "program (k=4, init = vectors 1..4): assignment is an exploded-dim "
        "join + argmin rank, the centroid update is a partial-agg "
        "element-wise mean — no driver loop, no collect between "
        "iterations. Scale shape: each iteration re-keys only on dim "
        "(64 rows per vector) and cluster stats stay k*dim-sized; "
        "distances are ROUNDed before the argmin rank so float summation "
        "order can't flip an assignment across engines (same discipline "
        "as embed_knn_per_label). Fixed-iteration unrolling mirrors "
        "graph_pagerank; MLlib KMeans is the convergence-loop sibling",
)
def embed_kmeans_lloyd(spark, sf_dir):
    e = spread(T(spark, sf_dir, "embeddings"))
    flat = (e.select("vec_id", F.posexplode("embedding").alias("dim0", "xf"))
            .select("vec_id", (F.col("dim0") + 1).alias("dim"),
                    F.col("xf").cast("double").alias("x")))

    def assign(cents, with_d2=False):
        d = (flat.alias("f")
             .join(F.broadcast(cents).alias("c"), "dim")
             .groupBy("vec_id", "cluster")
             .agg(F.round(F.sum((F.col("x") - F.col("cx"))
                                * (F.col("x") - F.col("cx"))), 6)
                  .alias("d2")))
        w = Window.partitionBy("vec_id").orderBy("d2", "cluster")
        a = d.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
        return a.select("vec_id", "cluster", "d2") if with_d2 \
            else a.select("vec_id", "cluster")

    cents1 = (flat.filter(F.col("vec_id").between(1, 4))
              .select(F.col("vec_id").alias("cluster"), "dim",
                      F.col("x").alias("cx")))
    assign1 = assign(cents1)
    cents2 = (flat.join(assign1, "vec_id")
              .groupBy("cluster", "dim").agg(F.avg("x").alias("cx")))
    assign2 = assign(cents2, with_d2=True)
    return (assign2.groupBy("cluster")
            .agg(F.count("*").alias("n_members"),
                 F.round(F.sum("d2"), 3).alias("sse")))


@query(
    "jaccard_prefix_filter",
    f"""
    WITH sh AS ({_SHINGLE_SQL}),
    df AS (SELECT sh, COUNT(*) AS n_docs FROM sh GROUP BY sh),
    filtered AS (SELECT s.doc_id, s.sh FROM sh s JOIN df ON s.sh = df.sh
                 WHERE df.n_docs <= 100),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM filtered GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM filtered a JOIN filtered b
        ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.doc_a, p.doc_b,
           ROUND(CAST(p.shared AS DOUBLE) /
                 (sa.n_sh + sb.n_sh - p.shared), 4) AS jaccard
    FROM pairs p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
    WHERE CAST(p.shared AS DOUBLE) / (sa.n_sh + sb.n_sh - p.shared) >= 0.2
    """,
    doc="AllPairs/PPJoin-style PREFIX-FILTERED set-similarity join at "
        "Jaccard >= 0.2 — the exact-result scale path between quadratic "
        "ngram_jaccard_pairs and recall-lossy LSH. Shingles are globally "
        "ordered by (document frequency, shingle) so each doc's prefix "
        "(|x| - ceil(0.2|x|) + 1 rarest shingles) is provably sufficient: "
        "two sets with no prefix overlap cannot reach the threshold, so "
        "ONLY prefix shingles enter the candidate self-join — join "
        "fan-out drops from df^2 per shingle over all shingles to the "
        "rare prefix subset — and candidates are then verified with an "
        "exact candidate-driven intersection count (join per candidate "
        "pair, not all-pairs). Same df<=100 stop-shingle guard as the "
        "quadratic twin; oracle is the exact quadratic join, which the "
        "no-false-negatives guarantee must reproduce bit-for-bit",
)
def jaccard_prefix_filter(spark, sf_dir):
    t = 0.2
    sh = _shingles_df(spark, sf_dir)
    wdf = Window.partitionBy("sh")
    filtered = (sh.withColumn("n_docs", F.count("*").over(wdf))
                .filter(F.col("n_docs") <= 100))
    wdoc = Window.partitionBy("doc_id")
    wrank = Window.partitionBy("doc_id").orderBy("n_docs", "sh")
    ranked = (filtered
              .withColumn("n_sh", F.count("*").over(wdoc))
              .withColumn("rn", F.row_number().over(wrank)))
    prefix = (ranked
              .filter(F.col("rn")
                      <= F.col("n_sh") - F.ceil(F.lit(t) * F.col("n_sh")) + 1)
              .select("doc_id", "sh"))
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (a.join(b, (F.col("a.sh") == F.col("b.sh"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())
    # set sizes ride on the shingle rows (window count per doc) so the
    # verification join needs no per-doc sizes table — broadcasting one
    # (one row per document) would be an unbounded broadcast at corpus
    # scale; carrying n_sh is a free column on rows already shuffling
    sets = (filtered
            .withColumn("n_sh", F.count("*").over(wdoc))
            .select("doc_id", "sh", "n_sh"))
    fa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"),
                     F.col("n_sh").alias("na"))
    fb = sets.select(F.col("doc_id").alias("doc_b2"), F.col("sh").alias("shb"),
                     F.col("n_sh").alias("nb"))
    shared = (cand.join(fa, "doc_a")
              .join(fb, (F.col("doc_b") == F.col("doc_b2"))
                    & (F.col("sha") == F.col("shb")))
              .groupBy("doc_a", "doc_b")
              .agg(F.count("*").alias("shared"),
                   F.min("na").alias("n_a"),   # constant per doc
                   F.min("nb").alias("n_b")))
    jac = (F.col("shared").cast("double")
           / (F.col("n_a") + F.col("n_b") - F.col("shared")))
    return (shared
            .filter(jac >= t)
            .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard")))


@query(
    "embed_pca_power",
    """
    WITH flat AS (
      SELECT vec_id, UNNEST(RANGE(1, LEN(embedding) + 1)) AS dim,
             CAST(UNNEST(embedding) AS DOUBLE) AS x
      FROM embeddings
    ),
    mu AS (SELECT dim, AVG(x) AS m FROM flat GROUP BY dim),
    centered AS (
      SELECT f.vec_id, f.dim, f.x - mu.m AS c
      FROM flat f JOIN mu ON f.dim = mu.dim
    ),
    n AS (SELECT COUNT(DISTINCT vec_id) AS n FROM flat),
    cov AS (
      SELECT a.dim AS i, b.dim AS j,
             ROUND(SUM(a.c * b.c) / (SELECT n FROM n), 6) AS a
      FROM centered a JOIN centered b ON a.vec_id = b.vec_id
      GROUP BY a.dim, b.dim
    ),
    u1 AS (SELECT i, a AS u FROM cov WHERE j = 1),
    v1 AS (
      SELECT i, ROUND(u / SQRT((SELECT SUM(u * u) FROM u1)), 8) AS v
      FROM u1
    ),
    u2 AS (
      SELECT cov.i, SUM(cov.a * v1.v) AS u
      FROM cov JOIN v1 ON cov.j = v1.i
      GROUP BY cov.i
    )
    SELECT u2.i AS dim,
           ROUND(u2.u / SQRT((SELECT SUM(u * u) FROM u2)), 6) AS component,
           ROUND(SQRT((SELECT SUM(u * u) FROM u2)), 4) AS eigenvalue
    FROM u2
    """,
    doc="top principal component of the embedding cloud by UNROLLED power "
        "iteration, entirely in-plan (no driver loop, no collect): dim "
        "means -> centered values -> covariance as an outer-product "
        "partial aggregate (state is dim^2 = 4096 cells regardless of "
        "row count — the canonical distributed-covariance shape), then "
        "two matrix-vector steps where the 64x64 matrix is joined "
        "against the current 64-row vector and renormalized via a scalar "
        "cross join. The eigenvalue estimate is |A v|/|v| after the "
        "second step. Covariance is rounded before iterating and the "
        "unit vector after each normalize, so both engines iterate "
        "bit-identical state (same discipline as embed_kmeans_lloyd); "
        "fixed-iteration unrolling mirrors graph_pagerank",
)
def embed_pca_power(spark, sf_dir):
    e = spread(T(spark, sf_dir, "embeddings"))
    flat = (e.select("vec_id", F.posexplode("embedding").alias("dim0", "xf"))
            .select("vec_id", (F.col("dim0") + 1).alias("dim"),
                    F.col("xf").cast("double").alias("x")))
    mu = flat.groupBy("dim").agg(F.avg("x").alias("m"))
    centered = (flat.join(F.broadcast(mu), "dim")
                .select("vec_id", "dim", (F.col("x") - F.col("m")).alias("c")))
    n = flat.agg(F.countDistinct("vec_id").alias("n"))
    a_, b_ = centered.alias("a"), centered.alias("b")
    cov = (a_.join(b_, "vec_id")
           .groupBy(F.col("a.dim").alias("i"), F.col("b.dim").alias("j"))
           .agg(F.sum(F.col("a.c") * F.col("b.c")).alias("s"))
           .crossJoin(F.broadcast(n))
           .select("i", "j", F.round(F.col("s") / F.col("n"), 6).alias("a")))
    u1 = cov.filter(F.col("j") == 1).select("i", F.col("a").alias("u"))
    norm1 = u1.agg(F.sqrt(F.sum(F.col("u") * F.col("u"))).alias("nv"))
    v1 = (u1.crossJoin(F.broadcast(norm1))
          .select(F.col("i").alias("vi"),
                  F.round(F.col("u") / F.col("nv"), 8).alias("v")))
    u2 = (cov.join(F.broadcast(v1), F.col("j") == F.col("vi"))
          .groupBy("i").agg(F.sum(F.col("a") * F.col("v")).alias("u")))
    norm2 = u2.agg(F.sqrt(F.sum(F.col("u") * F.col("u"))).alias("nv"))
    return (u2.crossJoin(F.broadcast(norm2))
            .select(F.col("i").alias("dim"),
                    F.round(F.col("u") / F.col("nv"), 6).alias("component"),
                    F.round("nv", 4).alias("eigenvalue")))


@query(
    "simhash_near_pairs",
    f"""
    WITH {_SIMHASH64_FP_SQL}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(BIT_COUNT(XOR(a.simhash, b.simhash)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE BIT_COUNT(XOR(a.simhash, b.simhash)) <= 3
    """,
    doc="SimHash near-duplicate PAIRS at Hamming distance <= 3 over the "
        "64-bit fingerprints, found without a quadratic scan: the "
        "fingerprint splits into 4 disjoint 16-bit blocks (Manku et al. "
        "2007), and by pigeonhole any pair within distance 3 must agree "
        "on at least one whole block, so candidates come from an "
        "equi-join on (band, block) keys — EXACT banding (zero false "
        "negatives), then verified with bit_count(xor). 16-bit blocks "
        "make random collisions 1/65536 per band (4 bands), vs 1/16 for "
        "a nibble banding — candidate volume stays ~n^2/2^14 smaller, "
        "which is what keeps the self-join feasible at corpus scale. "
        "Completes the near-dup toolkit: fingerprints alone "
        "(simhash_fingerprints) only catch hamming-0; this catches the "
        "3-bit neighborhood at banded-join cost. Oracle is the quadratic "
        "exact pair scan",
)
def simhash_near_pairs(spark, sf_dir):
    fp = simhash_fingerprints(spark, sf_dir)
    band_structs = F.array(*[
        F.struct(F.lit(i).alias("band"),
                 F.expr(f"(simhash >> {16 * i}) & 65535").alias("blk"))
        for i in range(4)])
    bands = (fp.select("doc_id", "simhash",
                       F.explode(band_structs).alias("bb"))
             .select("doc_id", "simhash", F.col("bb.band").alias("band"),
                     F.col("bb.blk").alias("blk")))
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(F.expr("a.simhash ^ b.simhash")).cast("int")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.blk") == F.col("b.blk"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    ham.alias("hamming"))
            .filter(F.col("hamming") <= 3)
            .distinct())


@query(
    "langid_confusion",
    """
    WITH scored AS (
      SELECT doc_id, lang,
             LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\\b(the|and|of)\\b')) AS s_en,
             LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\\b(der|und|die)\\b')) AS s_de,
             LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\\b(el|los|que)\\b')) AS s_es,
             LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\\b(le|les|est)\\b')) AS s_fr
      FROM documents
    ),
    pred AS (
      SELECT lang AS actual,
             CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                  WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                  WHEN s_es >= s_fr THEN 'es'
                  ELSE 'fr' END AS predicted
      FROM scored
    ),
    cells AS (
      SELECT actual, predicted, COUNT(*) AS n
      FROM pred GROUP BY actual, predicted
    ),
    tot AS (SELECT actual, SUM(n) AS t FROM cells GROUP BY actual)
    SELECT c.actual, c.predicted, c.n,
           ROUND(c.n / CAST(t.t AS DOUBLE), 4) AS share_of_actual
    FROM cells c JOIN tot t ON c.actual = t.actual
    """,
    doc="confusion matrix of the stopword language-ID heuristic against "
        "the labeled lang column — the evaluation harness every "
        "classifier-driven curation gate needs before it filters a "
        "corpus: per-(actual, predicted) counts plus row-normalized "
        "shares (recall on the diagonal). One narrow scan computes the "
        "scores, the matrix is a partial-agg groupBy over at most "
        "|langs|^2 cells, and the row totals join back BROADCAST — "
        "shuffle volume is bounded by the label-domain size, never the "
        "corpus. Evaluates the same CASE-argmax as text_langid",
)
def langid_confusion(spark, sf_dir):
    pred = (text_langid(spark, sf_dir)
            .select(F.col("lang").alias("actual"),
                    F.col("predicted_lang").alias("predicted")))
    cells = pred.groupBy("actual", "predicted").agg(F.count("*").alias("n"))
    tot = cells.groupBy("actual").agg(F.sum("n").alias("t"))
    return (cells.join(F.broadcast(tot), "actual")
            .select("actual", "predicted", "n",
                    F.round(F.col("n") / F.col("t").cast("double"), 4)
                     .alias("share_of_actual")))


@query(
    "vocab_zipf_slope",
    """
    WITH counts AS (
      SELECT w, COUNT(*) AS c FROM (
        SELECT UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents) t
      GROUP BY w
    ),
    ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS r
      FROM counts
    ),
    top AS (SELECT r, c FROM ranked WHERE r <= 1000)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
           ROUND(REGR_SLOPE(LN(CAST(c AS DOUBLE)), LN(CAST(r AS DOUBLE))), 4)
             AS zipf_slope,
           ROUND(REGR_INTERCEPT(LN(CAST(c AS DOUBLE)),
                                LN(CAST(r AS DOUBLE))), 4) AS zipf_intercept,
           ROUND(REGR_R2(LN(CAST(c AS DOUBLE)), LN(CAST(r AS DOUBLE))), 4)
             AS r2
    FROM top
    """,
    doc="Zipf's-law fit of the corpus vocabulary: log-frequency vs "
        "log-rank least squares over the top-1000 words (natural text "
        "slopes toward -1; a far-off slope flags synthetic or degenerate "
        "corpora — a cheap distribution-level quality gate no per-doc "
        "score catches). Word counts partially aggregate map-side; the "
        "rank window orders only the VOCABULARY (bounded, not corpus-"
        "sized) and regr_slope/intercept/r2 fold in one pass — inputs "
        "are logs of exact integers, so both engines regress identical "
        "points. Total tie-break (count DESC, word) keeps ranks stable "
        "across engines",
)
def vocab_zipf_slope(spark, sf_dir):
    d = spread(T(spark, sf_dir, "documents"))
    counts = (d.select(F.explode(_words()).alias("w"))
              .groupBy("w").agg(F.count("*").alias("c")))
    wr = Window.orderBy(F.desc("c"), "w")
    top = (counts.withColumn("r", F.row_number().over(wr))
           .filter(F.col("r") <= 1000))
    lc = F.log(F.col("c").cast("double"))
    lr = F.log(F.col("r").cast("double"))
    return top.agg(
        F.count("*").cast("bigint").alias("n_words"),
        F.round(F.regr_slope(lc, lr), 4).alias("zipf_slope"),
        F.round(F.regr_intercept(lc, lr), 4).alias("zipf_intercept"),
        F.round(F.regr_r2(lc, lr), 4).alias("r2"))


@query(
    "dedup_chunk_exact",
    """
    WITH ch AS (
      SELECT doc_id,
             UNNEST(RANGE(0, CAST(CEIL(LEN(words) / 10.0) AS INT)))
               AS chunk_idx,
             UNNEST(LIST_TRANSFORM(
                 RANGE(0, CAST(CEIL(LEN(words) / 10.0) AS INT)),
                 i -> ARRAY_TO_STRING(words[i*10+1 : i*10+10], ' ')))
               AS chunk
      FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS words
            FROM documents) t
    ),
    ranked AS (
      SELECT doc_id, chunk_idx,
             ROW_NUMBER() OVER (PARTITION BY MD5(chunk)
                                ORDER BY doc_id, chunk_idx) AS rn
      FROM ch
    )
    SELECT doc_id, COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_chunks,
           ROUND(1.0 - SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END)
                       / CAST(COUNT(*) AS DOUBLE), 4) AS retained_frac
    FROM ranked GROUP BY doc_id
    """,
    doc="chunk-level exact dedup (the CCNet/C4 paragraph-dedup shape on "
        "paragraph-free text): each doc splits into consecutive 10-word "
        "chunks, every chunk repeated ANYWHERE else in the corpus — "
        "cross-doc boilerplate, not just whole-doc copies — is dropped "
        "except its first occurrence (global keep-first by (doc_id, "
        "chunk_idx)), and each doc reports its retained fraction. The "
        "chunk explosion is a narrow flatMap (~n_words/10 rows per doc); "
        "keep-first is ONE md5-keyed window (row_number over a total "
        "order, so it is deterministic AND resumable) and the per-doc "
        "rollup is the second shuffle. The two equal-length UNNESTs in "
        "the oracle zip row-wise (DuckDB positional semantics)",
)
def dedup_chunk_exact(spark, sf_dir):
    d = spread(T(spark, sf_dir, "documents"))
    words = _words()
    n_ch = F.ceil(F.size(words) / F.lit(10.0)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_ch - 1),
        lambda i: F.array_join(F.slice(words, i * 10 + 1, 10), " "))
    c = d.select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk"))
    w = Window.partitionBy(F.md5("chunk")).orderBy("doc_id", "chunk_idx")
    ranked = c.withColumn("rn", F.row_number().over(w))
    dup = F.when(F.col("rn") > 1, 1).otherwise(0)
    return (ranked.groupBy("doc_id")
            .agg(F.count("*").alias("n_chunks"),
                 F.sum(dup).cast("bigint").alias("n_dup_chunks"),
                 F.round(1.0 - F.sum(dup) / F.count("*").cast("double"), 4)
                  .alias("retained_frac")))


@query(
    "dedup_keep_list",
    f"""
    WITH RECURSIVE sh AS ({_SHINGLE_SQL}),
    {_BANDS_SQL_FRAG.format(sig_cols=_minhash_sig_cols_sql)},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
    reach(doc_id, r) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.doc_id
    ),
    comp AS (SELECT doc_id, MIN(r) AS component FROM reach GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE(c.component, d.doc_id) AS component,
           CAST(COALESCE(c.component, d.doc_id) = d.doc_id AS INT) AS keep
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    """,
    doc="end-to-end near-dup dedup DECISION over the whole corpus: every "
        "document gets (component, keep) — near-dup clusters from the "
        "MinHash/LSH candidate graph (dedup_components) keep only their "
        "min-id canonical member; documents with no near-dup candidates "
        "form singleton components and are always kept. This is the "
        "actionable keep-list a curation pipeline anti-joins against "
        "(compare dedup_exact, which decides only exact-hash copies). "
        "Scale: the component loop's hygiene is dedup_components'; the "
        "final step is one left join of the corpus against the "
        "candidate-doc labels (a small fraction of the corpus — AQE "
        "broadcasts when it fits).",
)
def dedup_keep_list(spark, sf_dir):
    comp = dedup_components(spark, sf_dir).select("doc_id", "component")
    d = T(spark, sf_dir, "documents").select("doc_id")
    return (d.join(comp, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("component", "doc_id").alias("component"),
                    (F.coalesce("component", "doc_id") == F.col("doc_id"))
                    .cast("int").alias("keep")))


_HEX = "0123456789abcdef"

# 16-bit uniform hash from the first 4 hex digits of MD5(doc_id): the
# cross-engine replayable "random" draw (Spark conv(hex) vs DuckDB STRPOS
# digit expansion, the dsir_importance idiom) used for deterministic
# mixture thinning and shard assignment in pipeline_curate_shard
_U16_SQL = (
    f"((STRPOS('{_HEX}', SUBSTR(m, 1, 1)) - 1) * 4096"
    f" + (STRPOS('{_HEX}', SUBSTR(m, 2, 1)) - 1) * 256"
    f" + (STRPOS('{_HEX}', SUBSTR(m, 3, 1)) - 1) * 16"
    f" + (STRPOS('{_HEX}', SUBSTR(m, 4, 1)) - 1))")


@query(
    "pipeline_curate_shard",
    f"""
    WITH RECURSIVE sh AS ({_SHINGLE_SQL}),
    {_BANDS_SQL_FRAG.format(sig_cols=_minhash_sig_cols_sql)},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
    reach(doc_id, r) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.doc_id
    ),
    comp AS (SELECT doc_id, MIN(r) AS component FROM reach GROUP BY doc_id),
    exact AS (
      SELECT doc_id,
             MIN(doc_id) OVER (PARTITION BY MD5(LOWER(TRIM(
               REGEXP_REPLACE(text, '\\s+', ' ', 'g'))))) AS keep_id
      FROM documents
    ),
    gated AS (
      SELECT d.doc_id, d.lang, d.n_chars,
             CAST({_U16_SQL} AS BIGINT) AS u
      FROM documents d
      JOIN (SELECT doc_id FROM exact WHERE doc_id = keep_id) ek
        USING (doc_id)
      LEFT JOIN comp c ON c.doc_id = d.doc_id
      CROSS JOIN LATERAL (SELECT MD5(CAST(d.doc_id AS VARCHAR)) AS m) h
      WHERE COALESCE(c.component, d.doc_id) = d.doc_id
        AND LEAST((LEN(REGEXP_EXTRACT_ALL(LOWER(d.text),
                       '\\b(the|and|of)\\b')) * 20)
                  // GREATEST(LEN(REGEXP_EXTRACT_ALL(d.text, '\\w+')), 1),
                  9) >= 1
    ),
    counts AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS c FROM documents GROUP BY lang
    ),
    arrs AS (SELECT LIST(c ORDER BY lang) AS cs, SUM(c) AS n FROM counts),
    den AS (
      SELECT n, LIST_SUM(LIST_TRANSFORM(cs,
                 x -> SQRT(CAST(x AS DOUBLE) / n))) AS d
      FROM arrs
    ),
    rates AS (
      SELECT lang,
             CAST(FLOOR(LEAST(CAST(1.0 AS DOUBLE),
                    CAST(0.5 AS DOUBLE)
                    * (SQRT(CAST(c AS DOUBLE) / n) / d)
                    / (CAST(c AS DOUBLE) / n))
                  * CAST(65536.0 AS DOUBLE)) AS BIGINT) AS thr
      FROM counts CROSS JOIN den
    ),
    mixed AS (
      SELECT g.doc_id, g.n_chars, g.u, g.u % 8 AS shard
      FROM gated g JOIN rates r USING (lang)
      WHERE g.u < r.thr
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(u) AS BIGINT) AS sum_u,
           CAST(SUM(u * u) AS BIGINT) AS sum_uu,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM mixed GROUP BY shard ORDER BY shard
    """,
    doc="the COMPOSED curation pipeline a real corpus run executes, as one "
        "lazily-built plan with one oracled output: raw documents -> exact "
        "dedup (normalized-md5 window, keep min doc_id) -> MinHash/LSH "
        "near-dup keep-list (the dedup_keep_list decision, left-semi) -> "
        "quality gate (the integer stopword-score bucket >= 1, "
        "quality_calibration's arithmetic) -> temperature-mix thinning "
        "(T=2 sqrt weights over the raw lang strata; each doc keeps iff "
        "its 16-bit MD5 draw < floor(min(1, 0.5*boost)*65536) — "
        "deterministic stratified sampling, no RNG) -> 8-way hash shards "
        "with a manifest row per shard (doc count, integer checksum "
        "moments sum_u/sum_uu, byte total) — the llm/shards.py manifest "
        "construction without the filesystem write, so the whole "
        "composition is exact-gateable. Every stage is the SAME "
        "arithmetic as its standalone face; the md5-derived draw and "
        "shard id are cross-engine via the dsir hex idiom. Scale shape: "
        "two corpus-wide shuffles (fp window, doc_id semi-join chain), "
        "the LSH pipeline's own banded joins (bounded-bucket by "
        "construction), a strata-sized broadcast for the mix thresholds, "
        "and a shard-count-sized final agg; nothing quadratic, no "
        "collect beyond dedup_components' documented O(1)-per-round "
        "convergence probes. checksum sums are 16/32-bit-bounded ints "
        "over corpus rows — cross 2^63 only past 2^31 rows per shard "
        "(switch to DECIMAL(38,0) there, the established rule)",
)
def pipeline_curate_shard(spark, sf_dir):
    d = spread(T(spark, sf_dir, "documents"))
    # stage 1: exact dedup survivors (one fp-keyed window shuffle)
    fp = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    exact = (d.select("doc_id", "lang", "text", "n_chars", fp.alias("fp"))
             .withColumn("_keep", F.min("doc_id").over(
                 Window.partitionBy("fp")))
             .filter(F.col("doc_id") == F.col("_keep"))
             .drop("fp", "_keep"))
    # stage 2: near-dup keep-list (LSH + components), as a semi-join
    near = (dedup_keep_list(spark, sf_dir)
            .filter(F.col("keep") == 1).select("doc_id"))
    # stage 3: quality gate — integer bucket arithmetic, no float boundary
    bucket = F.expr(
        "CAST(LEAST((regexp_count(lower(text), '\\\\b(the|and|of)\\\\b') "
        "* 20) div GREATEST(regexp_count(text, '\\\\w+'), 1), 9) AS BIGINT)")
    u = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4),
                16, 10).cast("bigint"))
    gated = (exact.join(near, "doc_id", "semi")
             .filter(bucket >= 1)
             .select("doc_id", "lang", "n_chars", u.alias("u")))
    # stage 4: temperature-mix thinning thresholds from the RAW strata
    # (mixture targets are defined on the source distribution; cached —
    # the strata table feeds both the denominator fold and the rate rows)
    counts = (d.groupBy("lang")
              .agg(F.count("*").cast("bigint").alias("c")).cache())
    den = (counts
           .agg(F.array_sort(F.collect_list(F.struct("lang", "c")))
                .alias("arr"), F.sum("c").alias("n"))
           .select("n", F.aggregate(
               F.col("arr"), F.lit(0.0),
               lambda acc, x: acc
               + F.sqrt(x["c"].cast("double") / F.col("n"))).alias("d")))
    p = F.col("c").cast("double") / F.col("n")
    w = F.sqrt(p) / F.col("d")
    thr = F.floor(F.least(F.lit(1.0), F.lit(0.5) * w / p)
                  * F.lit(65536.0)).cast("bigint")
    rates = (counts.crossJoin(F.broadcast(den))
             .select("lang", thr.alias("thr")))
    mixed = (gated.join(F.broadcast(rates), "lang")
             .filter(F.col("u") < F.col("thr")))
    # stage 5: deterministic 8-way shards + manifest (llm/shards.py shape)
    return (mixed.withColumn("shard", F.col("u") % 8)
            .groupBy("shard")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("u").cast("bigint").alias("sum_u"),
                 F.sum(F.col("u") * F.col("u")).cast("bigint")
                 .alias("sum_uu"),
                 F.sum("n_chars").cast("bigint").alias("sum_chars"))
            .orderBy("shard"))


@query(
    "dsir_importance",
    f"""
    WITH tok AS (
      SELECT doc_id, lang,
             (STRPOS('{_HEX}', SUBSTR(MD5(w), 1, 1)) - 1) * 16
             + (STRPOS('{_HEX}', SUBSTR(MD5(w), 2, 1)) - 1) AS b
      FROM (SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS w
            FROM documents) t
    ),
    src AS (SELECT b, COUNT(*) AS c_src FROM tok GROUP BY b),
    tgt AS (SELECT b, COUNT(*) AS c_tgt FROM tok WHERE lang = 'en' GROUP BY b),
    tots AS (SELECT (SELECT SUM(c_src) FROM src) AS n_src,
                    (SELECT SUM(c_tgt) FROM tgt) AS n_tgt),
    llr AS (
      SELECT s.b,
             CAST(ROUND(
               LN((CAST(COALESCE(t.c_tgt, 0) + 1 AS DOUBLE) / (n_tgt + 256))
                  / (CAST(s.c_src + 1 AS DOUBLE) / (n_src + 256)))
               * 1000000) AS BIGINT) AS lw_q
      FROM src s LEFT JOIN tgt t ON s.b = t.b CROSS JOIN tots
    )
    SELECT tok.doc_id,
           CAST(COUNT(*) AS INT) AS n_tokens,
           SUM(lw_q) / 1000000.0 AS log_importance
    FROM tok JOIN llr ON tok.b = llr.b
    GROUP BY tok.doc_id
    """,
    doc="DSIR-style importance weighting (Xie et al. 2023): hashed-unigram "
        "bag-of-words features (md5 -> 256 buckets), target distribution = "
        "the lang='en' slice, source = the whole corpus; a document's log "
        "importance weight is sum over its tokens of "
        "ln(p_target(bucket)/p_source(bucket)) with add-1 smoothing. "
        "Sampling proportional to these weights tilts a raw crawl toward "
        "the target domain. Scale: both distributions are 256-row model "
        "tables (one partial-agg pass over the token stream each; the "
        "token stream itself never shuffles twice — the per-doc sum rides "
        "the doc_id aggregation), and scoring is scan + broadcast joins. "
        "Per-bucket log-ratios are quantized to an integer 1e-6 grid "
        "BEFORE the per-doc sum so the sum is exact integer arithmetic — "
        "order-independent and therefore engine-independent (a raw double "
        "sum over hundreds of terms depends on partial-agg order and can "
        "flake any rounded cross-engine comparison).",
)
def dsir_importance(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    tok = (d.select("doc_id", "lang",
                    F.explode(F.split("text", " ")).alias("w"))
           .withColumn("b", F.conv(F.substring(F.md5("w"), 1, 2), 16, 10)
                       .cast("int"))
           .drop("w"))
    src = tok.groupBy("b").agg(F.count("*").alias("c_src"))
    tgt = (tok.filter(F.col("lang") == "en")
           .groupBy("b").agg(F.count("*").alias("c_tgt")))
    joined = src.join(tgt, "b", "left")
    tots = joined.agg(
        F.sum("c_src").alias("n_src"),
        F.sum(F.coalesce("c_tgt", F.lit(0))).alias("n_tgt"))
    llr = (joined.crossJoin(F.broadcast(tots))
           .select("b", F.round(F.log(
               ((F.coalesce("c_tgt", F.lit(0)) + 1).cast("double")
                / (F.col("n_tgt") + 256))
               / ((F.col("c_src") + 1).cast("double") / (F.col("n_src") + 256)))
               * 1000000).cast("bigint")
               .alias("lw_q")))
    return (tok.join(F.broadcast(llr), "b")
            .groupBy("doc_id")
            .agg(F.count("*").cast("int").alias("n_tokens"),
                 (F.sum("lw_q") / F.lit(1000000.0)).alias("log_importance")))


@query(
    "ngram_novelty",
    f"""
    WITH sh AS ({_SHINGLE_SQL}),
    flagged AS (
      SELECT doc_id,
             CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY sh)
                  THEN 1 ELSE 0 END AS novel
      FROM sh
    )
    SELECT doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(novel) AS BIGINT) AS n_novel,
           CAST(SUM(novel) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS novelty
    FROM flagged
    GROUP BY doc_id
    """,
    doc="per-document n-gram novelty: the fraction of a doc's distinct "
        "word-3-gram shingles whose global FIRST appearance (min doc_id "
        "— ingestion order) is this doc. The curation signal behind "
        "dedup scheduling: novelty ~1 docs contribute new content, "
        "novelty ~0 docs are recombinations of already-seen text and "
        "dedup/downsample first. Plan: shingle flatMap -> the first-seen "
        "flag is a MIN window over the shingle partition (ONE "
        "shingle-keyed shuffle — an agg + join-back formulation would "
        "scan and shuffle the shingle stream twice) -> doc-keyed partial "
        "agg. The fraction is an exact integer ratio — bit-identical "
        "across engines, no ROUND needed",
)
def ngram_novelty(spark, sf_dir):
    from pyspark.sql.window import Window

    sh = _shingles_df(spark, sf_dir)
    novel = F.when(
        F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("sh")),
        1).otherwise(0)
    return (sh.select("doc_id", novel.alias("novel"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shingles"),
                 F.sum("novel").cast("bigint").alias("n_novel"))
            .select("doc_id", "n_shingles", "n_novel",
                    (F.col("n_novel").cast("double")
                     / F.col("n_shingles").cast("double")).alias("novelty")))


@query(
    "minhash_jaccard_est",
    f"""
    WITH sh AS ({_SHINGLE_SQL}),
    {_BANDS_SQL_FRAG.format(sig_cols=_minhash_sig_cols_sql)},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    shared AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS c
      FROM pairs p
      JOIN sh a ON a.doc_id = p.doc_a
      JOIN sh b ON b.doc_id = p.doc_b AND b.sh = a.sh
      GROUP BY p.doc_a, p.doc_b
    ),
    est AS (
      SELECT p.doc_a, p.doc_b,
             {" + ".join(f"(CASE WHEN sa.sig{s} = sb.sig{s} THEN 1 ELSE 0 END)"
                         for s in range(_N_SIGS))} AS n_match
      FROM pairs p
      JOIN sig sa ON sa.doc_id = p.doc_a
      JOIN sig sb ON sb.doc_id = p.doc_b
    )
    SELECT e.doc_a, e.doc_b,
           CAST(e.n_match AS BIGINT) AS n_match,
           CAST(e.n_match AS DOUBLE) / {_N_SIGS}.0 AS j_est,
           CAST(COALESCE(s.c, 0) AS DOUBLE)
             / CAST(za.n + zb.n - COALESCE(s.c, 0) AS DOUBLE) AS j_exact,
           ABS(CAST(e.n_match AS DOUBLE) / {_N_SIGS}.0
               - CAST(COALESCE(s.c, 0) AS DOUBLE)
                 / CAST(za.n + zb.n - COALESCE(s.c, 0) AS DOUBLE)) AS abs_err
    FROM est e
    LEFT JOIN shared s ON s.doc_a = e.doc_a AND s.doc_b = e.doc_b
    JOIN sizes za ON za.doc_id = e.doc_a
    JOIN sizes zb ON zb.doc_id = e.doc_b
    """,
    doc="MinHash estimator calibration per LSH candidate pair: the "
        "sketch's Jaccard ESTIMATE (matching signature fraction, k=8) "
        "against the exact shingle Jaccard, with the absolute error — "
        "the eval that tells you whether to spend more signature "
        "components (error ~ 1/sqrt(k)). Candidate CTEs compose the SAME "
        "_BANDS_SQL_FRAG as the dedup pipeline, so the estimator under "
        "eval can't drift from the one in production. All three metrics "
        "are exact integer ratios on both engines — full hash match. "
        "Plan: pairs are LSH-bounded; signatures re-attach by doc_id "
        "equi-join; the shared-shingle count joins pair-constrained "
        "shingle sides",
)
def minhash_jaccard_est(spark, sf_dir):
    sh = _shingles_df(spark, sf_dir)
    cand = minhash_lsh_candidates(spark, sf_dir)
    sig = minhash_signatures(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sig.select(F.col("doc_id").alias("doc_a"),
                    *[F.col(f"sig{s}").alias(f"a{s}") for s in range(_N_SIGS)])
    sb = sig.select(F.col("doc_id").alias("doc_b"),
                    *[F.col(f"sig{s}").alias(f"b{s}") for s in range(_N_SIGS)])
    n_match = sum(
        F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0)
        for s in range(_N_SIGS))
    est = (cand.join(sa, "doc_a").join(sb, "doc_b")
           .select("doc_a", "doc_b", n_match.cast("bigint").alias("n_match")))
    shra = sh.select(F.col("doc_id").alias("doc_a"), "sh")
    shrb = sh.select(F.col("doc_id").alias("_db"),
                     F.col("sh").alias("_shb"))
    shared = (cand.join(shra, "doc_a")
              .join(shrb, (F.col("_shb") == F.col("sh"))
                    & (F.col("_db") == F.col("doc_b")))
              .groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("c")))
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    j_est = F.col("n_match").cast("double") / float(_N_SIGS)
    c = F.coalesce(F.col("c"), F.lit(0))
    j_exact = (c.cast("double")
               / (F.col("na") + F.col("nb") - c).cast("double"))
    return (est.join(shared, ["doc_a", "doc_b"], "left")
            .join(za, "doc_a").join(zb, "doc_b")
            .select("doc_a", "doc_b", "n_match",
                    j_est.alias("j_est"), j_exact.alias("j_exact"),
                    F.abs(j_est - j_exact).alias("abs_err")))


@query(
    "quality_calibration",
    """
    WITH scored AS (
      SELECT doc_id,
             (lang = 'en') AS is_en,
             LEN(REGEXP_EXTRACT_ALL(LOWER(text),
                 '\\b(the|and|of)\\b')) AS s_en,
             GREATEST(LEN(REGEXP_EXTRACT_ALL(text, '\\w+')), 1) AS n_tok
      FROM documents
    )
    SELECT CAST(LEAST((s_en * 20) // n_tok, 9) AS BIGINT) AS bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           CAST(SUM(CASE WHEN is_en THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS pos_rate
    FROM scored
    GROUP BY 1
    """,
    doc="classifier-calibration (reliability) table for the "
        "English-stopword scorer against the lang label: docs bucketed "
        "by score, per bucket the observed positive rate — the curve "
        "that tells you whether a quality/language gate's threshold "
        "means what it claims before you filter a corpus with it. "
        "Buckets come from INTEGER arithmetic ((s_en*20) div n_tok, "
        "capped) so membership can't flip at a float boundary; rates "
        "are exact integer ratios. One scan, one partial agg",
)
def quality_calibration(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    s_en = F.regexp_count(F.lower("text"), F.lit(r"\b(the|and|of)\b"))
    n_tok = F.greatest(F.regexp_count("text", F.lit(r"\w+")), F.lit(1))
    bucket = F.least((s_en * 20).cast("bigint") / n_tok.cast("bigint"),
                     F.lit(9))
    scored = d.select(
        (F.col("lang") == "en").alias("is_en"),
        F.expr("CAST(LEAST((regexp_count(lower(text), "
               "'\\\\b(the|and|of)\\\\b') * 20) div "
               "GREATEST(regexp_count(text, '\\\\w+'), 1), 9) AS BIGINT)")
        .alias("bucket"))
    pos = F.sum(F.when(F.col("is_en"), 1).otherwise(0)).cast("bigint")
    return (scored.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"), pos.alias("n_pos"))
            .select("bucket", "n_docs", "n_pos",
                    (F.col("n_pos").cast("double")
                     / F.col("n_docs").cast("double")).alias("pos_rate")))


@query(
    "text_heavy_hitters",
    """
    WITH toks AS (
      SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
    ),
    tot AS (SELECT COUNT(*) AS n FROM toks)
    SELECT token, CAST(COUNT(*) AS BIGINT) AS freq,
           ROUND(COUNT(*) / CAST((SELECT n FROM tot) AS DOUBLE), 6)
             AS share
    FROM toks GROUP BY token
    HAVING COUNT(*) * 200 > (SELECT n FROM tot)
    """,
    doc="exact heavy hitters (tokens with frequency > n/k, k=200) via "
        "the two-pass sketch-then-recount pattern that makes top-k "
        "tractable at 100 TB: pass 1 runs a MERGEABLE Misra-Gries "
        "summary per partition inside mapInPandas (k counters of "
        "bounded memory; each Arrow batch is value_counts-merged, then "
        "pruned by subtracting the (k+1)-th largest count — the "
        "summary-merge form of MG, total undercount <= n_p/(k+1) per "
        "partition). Any token with GLOBAL frequency > n/k must exceed "
        "n_p/(k+1) in at least one partition (averaging argument), so "
        "the union of partition survivors is a SUPERSET of the true "
        "heavy hitters under ANY partitioning. Pass 2 broadcast-semi-"
        "joins the tiny candidate set (<= k per partition) back and "
        "recounts EXACTLY, filtering freq*k > n with pure integer "
        "arithmetic — the output is the exact deterministic answer, "
        "independent of which extra candidates the sketch happened to "
        "carry, which is what makes the face hash-stable while still "
        "exercising the sketch. The oracle is the definitionally exact "
        "GROUP BY ... HAVING. EXACTLY two token-stream passes: the "
        "sketch pass also counts its partition's tokens (total-n rides "
        "along for free), and its <= k-per-partition output is pulled "
        "to the driver — a metadata-sized collect, the same class as "
        "agg_exact_median_selection's histogram rounds — so the recount "
        "pass filters on an InSet of candidate literals (hash-set "
        "lookup, no join at all) and shuffles only candidate tokens. "
        "No full-vocabulary shuffle ever happens",
)
def text_heavy_hitters(spark, sf_dir):
    k = 200
    toks = (spread(T(spark, sf_dir, "documents"))
            .select(F.explode(_words()).alias("token")))

    def mg_sketch(batches):
        import pandas as pd
        counters: dict = {}
        n_part = 0
        for pdf in batches:
            n_part += len(pdf)
            for t, c in pdf["token"].value_counts().items():
                counters[t] = counters.get(t, 0) + int(c)
            if len(counters) > k:
                off = sorted(counters.values(), reverse=True)[k]
                counters = {t: c - off for t, c in counters.items()
                            if c > off}
        # sentinel row (token NULL) carries the partition's exact size
        yield pd.DataFrame({
            "token": list(counters) + [None],
            "part_n": pd.array([0] * len(counters) + [n_part],
                               dtype="Int64")})

    # pass 1: sketch + per-partition totals; <= k+1 rows per partition
    rows = toks.mapInPandas(mg_sketch,
                            "token string, part_n bigint").collect()
    cand = sorted({r.token for r in rows if r.token is not None})
    n = sum(r.part_n for r in rows if r.token is None)
    if not cand or n == 0:
        return (spark.range(0)
                .select(F.lit("").alias("token"),
                        F.lit(0).cast("bigint").alias("freq"),
                        F.lit(0.0).alias("share")))
    # pass 2: exact recount of candidates only
    return (toks.filter(F.col("token").isin(cand))
            .groupBy("token")
            .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
            .filter(F.col("freq") * k > F.lit(int(n)))
            .select("token", "freq",
                    F.round(F.col("freq") / F.lit(float(n)), 6)
                    .alias("share")))


@query(
    "bpe_pair_counts",
    """
    WITH w AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS f
      FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS word
            FROM documents) u
      WHERE LENGTH(word) >= 2
      GROUP BY word
    ),
    p AS (
      SELECT SUBSTR(w.word, CAST(t.i AS INT), 2) AS pair, w.f
      FROM w, UNNEST(RANGE(1, LENGTH(w.word))) AS t(i)
    )
    SELECT pair, CAST(SUM(f) AS BIGINT) AS total
    FROM p GROUP BY pair
    ORDER BY total DESC, pair ASC
    LIMIT 20
    """,
    doc="the first iteration of BPE tokenizer training at corpus scale: "
        "count adjacent character pairs weighted by word frequency and "
        "surface the top merge candidates (the pair a BPE trainer would "
        "merge first). The token stream collapses to a DISTINCT-WORD "
        "frequency table before any pair enumeration — pair explosion is "
        "then bounded by vocabulary size times word length, NOT corpus "
        "size, which is exactly how production BPE trainers scale (work "
        "per merge round is O(vocab), the 100 TB corpus is touched once "
        "for the word count). Pair generation is an in-plan sequence "
        "explode + substring — all JVM, no UDF; counts are exact "
        "integers, ties at the top-20 boundary broken by pair text, so "
        "the face is hash-exact. Corpus is ASCII so character and byte "
        "pairs coincide (a byte-level trainer would pre-map to bytes)",
)
def bpe_pair_counts(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    words = (d.select(F.explode(_words()).alias("word"))
             .filter(F.length("word") >= 2)
             .groupBy("word")
             .agg(F.count("*").cast("bigint").alias("f")))
    pairs = (words
             .select("word", "f",
                     F.explode(F.sequence(F.lit(1), F.length("word") - 1))
                     .alias("i"))
             .select(F.col("word").substr(F.col("i"), F.lit(2)).alias("pair"),
                     "f"))
    return (pairs.groupBy("pair")
            .agg(F.sum("f").cast("bigint").alias("total"))
            .orderBy(F.desc("total"), F.asc("pair"))
            .limit(20))


@query(
    "embed_hard_negatives",
    """
    WITH a AS (
      SELECT vec_id AS anchor_id, label AS anchor_label, embedding AS av
      FROM embeddings WHERE vec_id % 50 = 0
    ),
    sims AS (
      SELECT a.anchor_id, a.anchor_label,
             e.vec_id AS neg_id, e.label AS neg_label,
             ROUND(
               LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(e.embedding) + 1),
                        i -> CAST(e.embedding[i] AS DOUBLE)
                             * CAST(a.av[i] AS DOUBLE)))
               / (SQRT(LIST_SUM(LIST_TRANSFORM(e.embedding,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * SQRT(LIST_SUM(LIST_TRANSFORM(a.av,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
               AS cosine
      FROM embeddings e CROSS JOIN a
      WHERE e.label <> a.anchor_label
    ),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                       ORDER BY cosine DESC, neg_id) AS rn
          FROM sims)
    SELECT anchor_id, anchor_label, neg_id, neg_label, cosine
    FROM r WHERE rn <= 3
    """,
    doc="hard-negative mining for contrastive training: for each anchor "
        "vector, the top-3 most cosine-similar vectors with a DIFFERENT "
        "label — the negatives that sit closest to the decision boundary "
        "and carry the most gradient signal. Anchors (a small deterministic "
        "id-stride sample) broadcast against the corpus, so the scan is "
        "one pass with no shuffle of the embedding column; the per-anchor "
        "top-3 is a window over anchor-id partitions whose input is "
        "already down to one row per (anchor, candidate). Ranking uses the "
        "ROUNDED cosine with a neg_id tie-break so the order the hash sees "
        "is identical in both engines (the dot/norm folds are ordered "
        "element walks, same as embed_cosine_topk). At corpus scale the "
        "brute-force candidate set would first be cut by the IVF/LSH "
        "routes (embed_ivf_probe2, embed_ann_lsh) before this exact "
        "re-rank — this face is the exact baseline those approximate",
)
def embed_hard_negatives(spark, sf_dir):
    from pyspark.sql.window import Window

    e = spread(T(spark, sf_dir, "embeddings"))
    a = (e.filter(F.col("vec_id") % 50 == 0)
         .select(F.col("vec_id").alias("anchor_id"),
                 F.col("label").alias("anchor_label"),
                 F.col("embedding").alias("av")))
    dot = F.aggregate(
        F.zip_with("embedding", "av",
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    norm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))
    sims = (e.crossJoin(F.broadcast(a))
            .filter(F.col("label") != F.col("anchor_label"))
            .select("anchor_id", "anchor_label",
                    F.col("vec_id").alias("neg_id"),
                    F.col("label").alias("neg_label"),
                    F.round(dot / (norm("embedding") * norm("av")), 6)
                    .alias("cosine")))
    w = Window.partitionBy("anchor_id").orderBy(F.desc("cosine"),
                                                F.asc("neg_id"))
    return (sims.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .drop("rn"))


# --------------------------------------------------------------------------
# Collocation mining + containment dedup
# --------------------------------------------------------------------------
@query(
    "text_collocations_pmi",
    """
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents
    ),
    uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT UNNEST(ws) AS w FROM toks) u GROUP BY w
    ),
    big AS (
      SELECT ws[CAST(i AS INT)] AS w1, ws[CAST(i AS INT) + 1] AS w2,
             CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM toks, UNNEST(RANGE(1, LEN(ws))) AS t(i)
      GROUP BY 1, 2
    ),
    n AS (SELECT CAST(SUM(LEN(ws) - 1) AS BIGINT) AS nb
          FROM toks WHERE LEN(ws) >= 2)
    SELECT b.w1, b.w2, b.c_ab, u1.c AS c_a, u2.c AS c_b,
           ROUND(CAST(b.c_ab AS DOUBLE) * CAST(n.nb AS DOUBLE)
                 / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)), 6) AS lift
    FROM big b JOIN uni u1 ON u1.w = b.w1 JOIN uni u2 ON u2.w = b.w2
    CROSS JOIN n
    WHERE b.c_ab >= 5
    ORDER BY lift DESC, b.w1, b.w2
    LIMIT 20
    """,
    doc="collocation mining: the top-20 adjacent word pairs by PMI lift "
        "P(ab)/(P(a)P(b)) — the classic phrase-detection pass (word2vec's "
        "phrase step, Gensim Phrases) run before tokenizer/vocab training. "
        "Bigrams come from an in-plan slice/zip of the token array (no "
        "window shuffle, no UDF); the corpus collapses to unigram and "
        "bigram count tables, so the two count joins move vocabulary-sized "
        "data, never corpus-sized (unhinted: AQE broadcasts them at small "
        "scale, SMJ at billion-token vocabularies). One multiply/divide tree over "
        "EXACT integer counts — IEEE-correctly-rounded ops on identical "
        "inputs are bit-identical across engines, no libm LN in sight, so "
        "ranking + the LIMIT-20 cut land identically in both engines "
        "(residual ties broken by pair text). The min-support cut (c_ab "
        ">= 5) is what bounds output at 100 TB: pairs are Zipf-distributed "
        "and the long random tail dies at the filter",
)
def text_collocations_pmi(spark, sf_dir):
    d = spread(T(spark, sf_dir, "documents"))
    ws = _words()
    toks = d.select("doc_id", ws.alias("ws"))
    uni = (toks.select(F.explode("ws").alias("w"))
           .groupBy("w").agg(F.count("*").cast("bigint").alias("c")))
    pairs = (toks.filter(F.size("ws") >= 2)
             .select(F.explode(F.arrays_zip(
                 F.slice("ws", 1, F.size("ws") - 1).alias("w1"),
                 F.expr("slice(ws, 2, size(ws) - 1)").alias("w2")))
                 .alias("p"))
             .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")))
    # bigram-type counts cached: N (= Σ c_ab, exactly the bigram total)
    # and the support-filtered table both read it — without the cache the
    # 100 TB corpus would be scanned a third time just to count tokens.
    # uni cached for the same reason: it feeds BOTH attach joins.
    big_all = (pairs.groupBy("w1", "w2")
               .agg(F.count("*").cast("bigint").alias("c_ab"))
               .cache())
    big = big_all
    nb = big_all.agg(F.sum("c_ab").cast("bigint").alias("nb"))
    uni = uni.cache()
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))
    lift = (F.col("c_ab").cast("double") * F.col("nb").cast("double")
            / (F.col("c_a").cast("double") * F.col("c_b").cast("double")))
    # no broadcast hint on the unigram sides: the vocabulary of a 100 TB
    # corpus does not fit an executor; AQE converts these to broadcast
    # joins at small scale on runtime stats and keeps SMJ at vocab scale
    return (big.filter(F.col("c_ab") >= 5)
            .join(u1, "w1")
            .join(u2, "w2")
            .crossJoin(F.broadcast(nb))
            .select("w1", "w2", "c_ab", "c_a", "c_b",
                    F.round(lift, 6).alias("lift"))
            .orderBy(F.desc("lift"), F.asc("w1"), F.asc("w2"))
            .limit(20))


@query(
    "text_ngram_containment",
    f"""
    WITH sh AS ({_SHINGLE_SQL}),
    df AS (SELECT sh, COUNT(*) AS d FROM sh GROUP BY sh),
    shf AS (SELECT s.doc_id, s.sh
            FROM sh s JOIN df ON df.sh = s.sh WHERE df.d <= 50),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
              FROM shf GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM shf a JOIN shf b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b, i.n_common, sa.sz AS size_a, sb.sz AS size_b,
           ROUND(CAST(i.n_common AS DOUBLE)
                 / CAST(LEAST(sa.sz, sb.sz) AS DOUBLE), 6) AS containment
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE i.n_common * 10 >= LEAST(sa.sz, sb.sz) * 3
    ORDER BY containment DESC, doc_a, doc_b
    """,
    doc="containment (asymmetric Jaccard) over 3-gram shingle sets: "
        "|A∩B| / min(|A|,|B|) — catches SUB-document duplication "
        "(one doc embedded in a longer one) that symmetric Jaccard "
        "dilutes below threshold. Candidates come from the shared-shingle "
        "equi-join AFTER a document-frequency cut (df <= 50) that removes "
        "stop-shingles — the same frequency bound that keeps "
        "ngram_jaccard_pairs' candidate count linear at 100 TB (a shingle "
        "seen in d docs contributes d^2 pairs; capping d caps the "
        "blow-up). The threshold test is integer cross-multiplication "
        "(10*common >= 3*min_size), so no float comparison sits on the "
        "keep/drop boundary; the reported containment divides two exact "
        "integers — bit-identical in both engines",
)
def text_ngram_containment(spark, sf_dir):
    from .core import fresh_persist

    sh = _shingles_df(spark, sf_dir, k=3)
    df_cut = (sh.groupBy("sh").agg(F.count("*").alias("d"))
              .filter(F.col("d") <= 50))
    shf = sh.join(df_cut.select("sh"), "sh")
    # ONE shingle-keyed fold of the df-kept doc set — bounded at <= 50
    # ids per shingle BY the cut above, so the agg buffer is
    # metadata-sized at any corpus size — riding the df-cut join's
    # existing sh partitioning. The shared-shingle SELF-JOIN (two more
    # sh exchanges + sorts of the whole shingle table) and the
    # full-table doc_id exchange behind `sizes` are gone: pairs and
    # per-doc sizes are row-local explodes of the folded set (the
    # corpus_source_overlap idiom, r14). Persisted because both
    # branches consume it (r14: 2.5 -> measured below; outputs
    # byte-equal, pinned vs python sets in test_round7b_faces).
    # INVARIANT the fold depends on: (doc_id, sh) pairs are UNIQUE in
    # shf — doc_shingles array_distincts per doc and emits one row per
    # (doc, shingle) — so collect_set == collect_list here and the
    # set fold reproduces the self-join's multiset counts exactly. A
    # documents fixture carrying duplicate doc_id rows would break
    # that equivalence (the set would silently dedup what the join
    # counted with multiplicity).
    sets = fresh_persist(
        "cont_sets",
        shf.groupBy("sh").agg(F.array_sort(F.collect_set("doc_id"))
                              .alias("ds")))
    sizes = (sets.select(F.explode("ds").alias("doc_id"))
             .groupBy("doc_id")
             .agg(F.count("*").cast("bigint").alias("sz")))
    # all (a < b) doc pairs of each shingle's sorted set, emitted
    # row-locally (fan-out <= 50^2/2 per shingle) and counted per pair —
    # the exact multiset the shingle-keyed self-join produced
    combos = F.expr(
        "flatten(transform(sequence(0, size(ds) - 2),"
        " i -> transform(sequence(i + 1, size(ds) - 1),"
        " j -> struct(ds[i] AS a, ds[j] AS b))))")
    inter = (sets.filter(F.size("ds") >= 2)
             .select(F.explode(combos).alias("p"))
             .groupBy(F.col("p.a").alias("doc_a"),
                      F.col("p.b").alias("doc_b"))
             .agg(F.count("*").cast("bigint").alias("n_common")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("sz").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("sz").alias("size_b"))
    mn = F.least("size_a", "size_b")
    # sizes is per-doc (corpus-cardinality) — unhinted joins let AQE
    # broadcast at small scale without pinning a 100 TB-corpus broadcast
    return (inter.join(sa, "doc_a")
            .join(sb, "doc_b")
            .filter(F.col("n_common") * 10 >= mn * 3)
            .select("doc_a", "doc_b", "n_common", "size_a", "size_b",
                    F.round(F.col("n_common").cast("double")
                            / mn.cast("double"), 6).alias("containment"))
            .orderBy(F.desc("containment"), F.asc("doc_a"), F.asc("doc_b")))


@query(
    "text_approx_top_k",
    """
    WITH toks AS (
      SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
    ),
    freq AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS f FROM toks GROUP BY token
    ),
    th AS (
      SELECT MIN(f) AS thf FROM (
        SELECT f FROM freq ORDER BY f DESC, token LIMIT 20)
    )
    SELECT CAST(20 AS BIGINT) AS k,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM freq, th
             WHERE f >= thf) AS closure_size,
           (SELECT thf FROM th) AS threshold_freq,
           1 AS overlap_ok, 1 AS counts_ok
    """,
    doc="sketch-based top-k with Spark 4's approx_top_k aggregate, "
        "contracted against the exact answer: the approximate top-20 "
        "tokens must all land inside the exact TIE-CLOSURE (every token "
        "whose count >= the 20th-highest count) and report the true "
        "counts. The closure comparison is what makes the face "
        "deterministic: at the rank-20 boundary equal-count tokens are "
        "interchangeable, so set-vs-set equality would be engine-"
        "internal tie luck, while closure membership is invariant. "
        "Complements text_heavy_hitters (hand-built Misra-Gries): this "
        "is the built-in one-shuffle sketch path a dashboard would use, "
        "with maxItemsTracked (10k) >> vocabulary here, so estimates "
        "are exact at test scale and degrade gracefully at 100 TB "
        "vocabularies; the oracle pins the exact closure size and "
        "threshold frequency",
)
def text_approx_top_k(spark, sf_dir):
    d = spread(T(spark, sf_dir, "documents"))
    toks = d.select(F.explode(_words()).alias("token")).cache()
    freq = (toks.groupBy("token")
            .agg(F.count("*").cast("bigint").alias("f")))
    th = (freq.orderBy(F.desc("f"), F.asc("token")).limit(20)
          .agg(F.min("f").alias("thf")))
    closure = (freq.crossJoin(F.broadcast(th))
               .filter(F.col("f") >= F.col("thf")))
    cl_stats = closure.agg(
        F.count("*").cast("bigint").alias("closure_size"),
        F.max("thf").alias("threshold_freq"))
    approx = (toks.agg(F.expr("approx_top_k(token, 20)").alias("tk"))
              .select(F.explode("tk").alias("e"))
              .select(F.col("e.item").alias("token"),
                      F.col("e.count").cast("bigint").alias("est")))
    joined = (approx.join(closure.select("token",
                                         F.col("f").alias("exact_f")),
                          "token", "left")
              .agg(F.sum(F.col("exact_f").isNotNull().cast("int"))
                   .alias("in_closure"),
                   F.sum((F.col("est") == F.col("exact_f")).cast("int"))
                   .alias("exact_counts"),
                   F.count("*").alias("n_items")))
    return (joined.crossJoin(F.broadcast(cl_stats))
            .select(F.col("n_items").cast("bigint").alias("k"),
                    "closure_size", "threshold_freq",
                    (F.col("in_closure") == F.col("n_items")).cast("int")
                    .alias("overlap_ok"),
                    (F.col("exact_counts") == F.col("n_items")).cast("int")
                    .alias("counts_ok")))


@query(
    "text_ttr_profile",
    """
    WITH toks AS (
      SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
    ),
    wc AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
           FROM toks GROUP BY source, w)
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
             AS ttr,
           ROUND(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS hapax_share
    FROM wc GROUP BY source ORDER BY source
    """,
    doc="lexical-diversity profile per source: type-token ratio and "
        "hapax-legomena share — low TTR flags template/boilerplate "
        "sources, abnormally high hapax share flags OCR noise or "
        "gibberish; both are standard pre-training source-triage "
        "signals beside text_source_stats' length morphology and "
        "vocab_zipf_slope's distribution fit. The corpus collapses to "
        "the (source, word) count table in one partial-agg pass and "
        "the three statistics are integer counts + two exact "
        "divisions — hash-exact, vocabulary-sized state, no "
        "corpus-sized shuffle",
)
def text_ttr_profile(spark, sf_dir):
    d = spread(T(spark, sf_dir, "documents"))
    wc = (d.select("source", F.explode(_words()).alias("w"))
          .groupBy("source", "w")
          .agg(F.count("*").cast("bigint").alias("c")))
    return (wc.groupBy("source")
            .agg(F.sum("c").cast("bigint").alias("n_tokens"),
                 F.count("*").cast("bigint").alias("n_types"),
                 F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
                 .cast("bigint").alias("n_hapax"))
            .select("source", "n_tokens", "n_types", "n_hapax",
                    F.round(F.col("n_types").cast("double")
                            / F.col("n_tokens").cast("double"), 6)
                    .alias("ttr"),
                    F.round(F.col("n_hapax").cast("double")
                            / F.col("n_types").cast("double"), 6)
                    .alias("hapax_share"))
            .orderBy("source"))


@query(
    "split_leakage_safe",
    f"""
    WITH RECURSIVE sh AS ({_SHINGLE_SQL}),
    {_BANDS_SQL_FRAG.format(sig_cols=_minhash_sig_cols_sql)},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
    reach(doc_id, r) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.doc_id
    ),
    comp AS (SELECT doc_id, MIN(r) AS component FROM reach GROUP BY doc_id),
    assigned AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    )
    SELECT doc_id, component,
           CASE WHEN SUBSTRING(MD5(CAST(component AS VARCHAR)), 1, 1)
                     <= 'c'
                THEN 'train' ELSE 'test' END AS split
    FROM assigned
    """,
    doc="LEAKAGE-SAFE train/test split: a random doc-level split leaks "
        "whenever two near-duplicates land on opposite sides (the test "
        "set 'novel' example was memorized from train — the "
        "contamination mode Lee et al. 2022 measure). Here the split "
        "unit is the near-dup CLUSTER: connected components over the "
        "MinHash/LSH candidate graph (dedup_components' loop), "
        "singleton components for candidate-free docs, and every doc "
        "inherits its component's side — so NO candidate pair can "
        "straddle the split, structurally (pinned in "
        "test_round9_faces.py by joining the pair list against the "
        "assignment). Assignment is seedless and engine-portable: "
        "first hex digit of md5(component) <= 'c' -> train (13/16 = "
        "81.25% expected), so re-runs, backfills and both engines "
        "agree row-for-row. Scale: the only corpus-sized work beyond "
        "the LSH pipeline is one left join against the "
        "candidate-doc labels (a small fraction of the corpus — AQE "
        "broadcasts when it fits) and a row-local hash",
)
def split_leakage_safe(spark, sf_dir):
    comp = dedup_components(spark, sf_dir).select("doc_id", "component")
    d = T(spark, sf_dir, "documents").select("doc_id")
    assigned = (d.join(comp, "doc_id", "left")
                .select("doc_id",
                        F.coalesce("component", "doc_id").alias("component")))
    return assigned.select(
        "doc_id", "component",
        F.when(F.substring(F.md5(F.col("component").cast("string")), 1, 1)
               <= "c", "train").otherwise("test").alias("split"))


@query(
    "dedup_ngram_coverage",
    f"""
    WITH sh AS ({_SHINGLE_SQL}),
    owners AS (SELECT sh, MIN(doc_id) AS owner FROM sh GROUP BY sh)
    SELECT s.doc_id,
           CAST(COUNT(*) AS INT) AS n_shingles,
           CAST(SUM(CASE WHEN o.owner < s.doc_id THEN 1 ELSE 0 END) AS INT)
             AS n_dup,
           ROUND(SUM(CASE WHEN o.owner < s.doc_id THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS dup_coverage
    FROM sh s JOIN owners o ON s.sh = o.sh
    GROUP BY s.doc_id
    """,
    doc="corpus-level duplication coverage (the distributed approximation "
        "of Lee et al. 2022 ExactSubstr dedup): for every document, the "
        "fraction of its distinct word-3-grams whose FIRST OWNER (global "
        "min doc_id over the whole corpus) is an earlier document — i.e. "
        "how much of this doc is already covered somewhere else. Unlike "
        "the pairwise faces (ngram_jaccard_pairs, minhash_lsh_candidates) "
        "this is linear in total shingle count with NO pair join: one "
        "hash-agg to elect each shingle's owner, one equi-join of the "
        "shingle table back to the owner table on the shingle key (both "
        "sides pre-deduped per key, bounded fan-out = docs-per-shingle), "
        "one hash-agg back to doc grain. A true suffix-array ExactSubstr "
        "is inherently sequential; first-owner k-gram coverage is the "
        "shape that survives 100 TB — every stage is a keyed shuffle on "
        "uniformly-hashed text keys, no single-task stage, no quadratic "
        "candidate set. Filter downstream on dup_coverage >= tau to drop "
        "mostly-derivative docs while always keeping the earliest copy "
        "(owner rule is the same deterministic min-doc_id keep rule as "
        "dedup_exact/dedup_keep_list)",
)
def dedup_ngram_coverage(spark, sf_dir):
    # r14 optimization note: an owner-count fold + row-local shingle
    # count (the text_kgram_dup_profile shape) was implemented and
    # MEASURED SLOWER at both sf0.1 (1.51 -> 2.15 min) and sf1
    # (3.52 -> 3.88): unlike that face there is no two-phase distinct
    # agg to remove here — the post-join doc agg is already map-side
    # combined, so its exchange carries |docs| rows, while the
    # "row-local" count re-runs the whole split+distinct shingle
    # construction a second time. Rejected; the join shape stays.
    sh = _shingles_df(spark, sf_dir)
    owners = sh.groupBy("sh").agg(F.min("doc_id").alias("owner"))
    dup = (F.col("owner") < F.col("doc_id")).cast("int")
    return (sh.join(owners, "sh")
            .groupBy("doc_id")
            .agg(F.count("*").cast("int").alias("n_shingles"),
                 F.sum(dup).cast("int").alias("n_dup"),
                 F.round(F.sum(dup) / F.count("*").cast("double"), 4)
                  .alias("dup_coverage")))


# --------------------------------------------------------------------------
# Retrieval ranking evaluation: NDCG@k
# --------------------------------------------------------------------------
_NDCG_K = 10
_NDCG_TERMS = ("spark", "window", "hash", "join")


def _term_ranked(d):
    """The judged retrieval frame BOTH ranking evals share (so NDCG and
    MRR can never disagree on system, truth, or rank rule): per
    (term, matching doc) the graded relevance rel = LEAST(tf, 3), the
    length-normalized integer score key (tf*10000) DIV n_tokens, and
    the per-term position from bucketed_range_rank (score DESC, doc_id
    ASC — no single-task-per-term window). Term 'join' is a literal
    array explode inside the scan (narrow); tf >= 1 prunes to matching
    docs before any shuffle."""
    from .dataprep import bucketed_range_rank

    m = (d.select(
            "doc_id",
            F.explode(F.array(*[F.lit(t) for t in _NDCG_TERMS]))
            .alias("term"),
            _words().alias("ws"))
         .select(
            "term", "doc_id",
            F.size(F.filter("ws", lambda w: w == F.col("term")))
            .cast("bigint").alias("tf"),
            F.size("ws").cast("bigint").alias("n_tokens")))
    hits = (m.filter(F.col("tf") >= 1)
            .select("term", "doc_id",
                    F.least(F.col("tf"), F.lit(3)).alias("rel"),
                    F.expr("CAST((tf * 10000) DIV GREATEST(n_tokens, 1) "
                           "AS BIGINT)").alias("score_key")))
    return bucketed_range_rank(hits, ["term"], "score_key", "doc_id",
                               key_max=10000, n_buckets=40,
                               out_col="pos").cache()
# the standard DCG discount 1/log2(pos+1), materialized ONCE in Python and
# injected into BOTH engines as identical double literals — LOG2 is a libm
# transcendental whose last ulp is not guaranteed to agree between the JVM
# and DuckDB, but a shared literal table is bit-identical by construction
_NDCG_DISC = tuple(1.0 / __import__("math").log2(p + 1)
                   for p in range(1, _NDCG_K + 1))
_DISC_SQL = "[" + ", ".join(repr(v) for v in _NDCG_DISC) + "]"
_TERMS_SQL = ", ".join(f"('{t}')" for t in _NDCG_TERMS)


@query(
    "rank_ndcg_eval",
    f"""
    WITH q(term) AS (VALUES {_TERMS_SQL}),
    m AS (
      SELECT q.term, d.doc_id,
             CAST(LEN(LIST_FILTER(STRING_SPLIT(d.text, ' '),
                                  w -> w = q.term)) AS BIGINT) AS tf,
             CAST(LEN(STRING_SPLIT(d.text, ' ')) AS BIGINT) AS n_tokens
      FROM documents d CROSS JOIN q
    ),
    hits AS (
      SELECT term, doc_id, LEAST(tf, 3) AS rel,
             CAST((tf * 10000) // GREATEST(n_tokens, 1) AS BIGINT)
               AS score_key
      FROM m WHERE tf >= 1
    ),
    ranked AS (
      SELECT term, doc_id, rel, score_key,
             ROW_NUMBER() OVER (PARTITION BY term
                                ORDER BY score_key DESC, doc_id) AS pos
      FROM hits
    ),
    per_q AS (
      SELECT term,
             CAST(COUNT(*) AS BIGINT) AS n_matched,
             SUM(CASE WHEN rel = 3 THEN 1 ELSE 0 END) AS c3,
             SUM(CASE WHEN rel = 2 THEN 1 ELSE 0 END) AS c2,
             SUM(CASE WHEN rel = 1 THEN 1 ELSE 0 END) AS c1
      FROM ranked GROUP BY term
    ),
    dcg AS (
      SELECT term,
             LIST_SUM(LIST_TRANSFORM(
               LIST({{'p': pos, 'g': CAST((1 << rel) - 1 AS BIGINT)}}
                    ORDER BY pos),
               x -> x.g * ({_DISC_SQL})[x.p])) AS dcg10
      FROM ranked WHERE pos <= {_NDCG_K} GROUP BY term
    ),
    idcg AS (
      SELECT term,
             LIST_SUM(LIST_TRANSFORM(RANGE(1, {_NDCG_K} + 1), s ->
               (CASE WHEN s <= c3 THEN 7
                     WHEN s <= c3 + c2 THEN 3
                     WHEN s <= c3 + c2 + c1 THEN 1
                     ELSE 0 END) * ({_DISC_SQL})[s])) AS idcg10
      FROM per_q
    )
    SELECT p.term, p.n_matched,
           ROUND(d.dcg10, 6) AS dcg10,
           ROUND(i.idcg10, 6) AS idcg10,
           ROUND(CASE WHEN i.idcg10 > 0 THEN d.dcg10 / i.idcg10
                      ELSE 0.0 END, 6) AS ndcg10
    FROM per_q p JOIN dcg d USING (term) JOIN idcg i USING (term)
    """,
    doc=f"NDCG@{_NDCG_K} retrieval-ranking evaluation (Järvelin & "
        "Kekäläinen 2002) — the eval that closes the search tier's loop: "
        "lsh_eval_pr scores candidate RECALL, ann_recall_at_k scores ANN "
        "fidelity, this scores RANKING quality with graded relevance. "
        "Judged system: length-normalized term frequency (the bm25-ish "
        "integer key (tf*10000) DIV n_tokens); graded truth: rel = "
        "LEAST(tf, 3) with gain 2^rel - 1. IDCG needs no second sort: "
        "with 4 relevance grades the ideal top-k is determined by the "
        "per-grade COUNTS alone (fill slots greedily 7,3,1), so it is an "
        "ordered fold over slot 1..k against the cumulative grade counts "
        "— an aggregate, not a ranking. Hash-exactness: gains and counts "
        "are integers; the discount table 1/log2(pos+1) is computed once "
        "in Python and injected into both engines as identical double "
        "literals (log2 is libm, shared literals are bit-identical by "
        "construction); DCG/IDCG are ordered folds over pos-sorted, "
        "slot-ordered lists. PLAN: the term 'join' is an explode of a "
        f"{len(_NDCG_TERMS)}-literal array inside the scan (narrow), "
        "tf >= 1 prunes to matching docs before any shuffle, the per-term "
        "top-k routes through bucketed_range_rank (no single-task-per-"
        "term window at 100 TB), and everything after pos <= k is "
        "per-term-sized. Plan-asserted in test_plans.py",
)
def rank_ndcg_eval(spark, sf_dir):
    ranked = _term_ranked(T(spark, sf_dir, "documents"))
    disc = F.array(*[F.lit(v) for v in _NDCG_DISC])
    per_q = (ranked.groupBy("term")
             .agg(F.count("*").cast("bigint").alias("n_matched"),
                  F.sum((F.col("rel") == 3).cast("bigint")).alias("c3"),
                  F.sum((F.col("rel") == 2).cast("bigint")).alias("c2"),
                  F.sum((F.col("rel") == 1).cast("bigint")).alias("c1")))
    dcg = (ranked.filter(F.col("pos") <= _NDCG_K)
           .groupBy("term")
           .agg(F.array_sort(F.collect_list(F.struct(
                    F.col("pos").alias("p"),
                    F.expr("CAST(shiftleft(1, CAST(rel AS INT)) - 1 "
                           "AS BIGINT)").alias("g")))).alias("arr"))
           .select("term",
                   F.aggregate(
                       F.col("arr"), F.lit(0.0),
                       lambda acc, x: acc + x["g"]
                       * F.element_at(disc, x["p"].cast("int")))
                   .alias("dcg10")))
    idcg = per_q.select(
        "term",
        F.aggregate(
            F.sequence(F.lit(1), F.lit(_NDCG_K)), F.lit(0.0),
            lambda acc, s: acc
            + F.when(s <= F.col("c3"), F.lit(7))
               .when(s <= F.col("c3") + F.col("c2"), F.lit(3))
               .when(s <= F.col("c3") + F.col("c2") + F.col("c1"),
                     F.lit(1))
               .otherwise(F.lit(0)).cast("bigint")
            * F.element_at(disc, s.cast("int"))).alias("idcg10"))
    return (per_q.select("term", "n_matched")
            .join(dcg, "term").join(idcg, "term")
            .select("term", "n_matched",
                    F.round("dcg10", 6).alias("dcg10"),
                    F.round("idcg10", 6).alias("idcg10"),
                    F.round(F.when(F.col("idcg10") > 0,
                                   F.col("dcg10") / F.col("idcg10"))
                            .otherwise(F.lit(0.0)), 6).alias("ndcg10")))


# --------------------------------------------------------------------------
# Quality-gate survival curve
# --------------------------------------------------------------------------
@query(
    "quality_survival_curve",
    """
    WITH scored AS (
      SELECT CAST(LEN(REGEXP_EXTRACT_ALL(text, '\\w+')) AS BIGINT)
               AS n_tokens,
             CAST((CAST(LEN(LIST_DISTINCT(REGEXP_EXTRACT_ALL(LOWER(text),
                        '\\w+'))) AS BIGINT) * 10000)
                  // GREATEST(CAST(LEN(REGEXP_EXTRACT_ALL(text, '\\w+'))
                              AS BIGINT), 1) AS BIGINT) AS score_key
      FROM documents
    ),
    bkt AS (
      SELECT LEAST(score_key // 1000, 10) AS b,
             CAST(COUNT(*) AS BIGINT) AS nd,
             CAST(SUM(n_tokens) AS BIGINT) AS nt
      FROM scored GROUP BY 1
    ),
    tot AS (SELECT SUM(nd) AS all_d, SUM(nt) AS all_t FROM bkt),
    grid AS (SELECT UNNEST(RANGE(0, 10)) AS g),
    surv AS (
      SELECT g.g * 1000 AS threshold,
             CAST(COALESCE(SUM(bkt.nd), 0) AS BIGINT) AS n_docs_kept,
             CAST(COALESCE(SUM(bkt.nt), 0) AS BIGINT) AS n_tokens_kept
      FROM grid g LEFT JOIN bkt ON bkt.b >= g.g
      GROUP BY g.g
    )
    SELECT CAST(threshold AS BIGINT) AS threshold, n_docs_kept,
           n_tokens_kept,
           ROUND(CAST(n_tokens_kept AS DOUBLE) / all_t, 6)
             AS token_survival
    FROM surv CROSS JOIN tot
    """,
    doc="quality-gate survival curve — the planning query run BEFORE "
        "committing to a corpus filter threshold: for each candidate "
        "cut on the mix tier's exact integer lexical-diversity score "
        "((n_dist*10000) DIV n_tokens, the same key mix_token_budget and "
        "mix_curriculum_interleave rank by), how many documents and "
        "tokens survive score >= cut, and the surviving token share. "
        "One corpus scan reduces to an 11-row score-bucket rollup "
        "(score DIV 1000, partial-agg'd map-side); the suffix sums over "
        "buckets are grid x bucket work on that metadata-sized table — "
        "the curve NEVER rescans the corpus per threshold, which is the "
        "difference between one pass and ten at 100 TB. All counts "
        "BIGINT; the only float is the final share division. "
        "Plan-asserted single scan in test_plans.py",
)
def quality_survival_curve(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return survival_fold(survival_bucket_rollup(d).cache())


def survival_bucket_rollup(docs):
    """The 11-row score-bucket rollup (b, nd, nt) for ANY (text) frame
    — the one fact-sized reduction quality_survival_curve AND its
    streaming twin (streaming/ops.survival_curve_sink) share. Bucket
    counts are BIGINT and ADDITIVE across micro-batches, the property
    the incremental sink's fold rests on."""
    scored = docs.select(
        F.regexp_count("text", F.lit(r"\w+")).cast("bigint")
        .alias("n_tokens"),
        F.expr("CAST((CAST(size(array_distinct(regexp_extract_all("
               "lower(text), '\\\\w+', 0))) AS BIGINT) * 10000) DIV "
               "GREATEST(CAST(regexp_count(text, '\\\\w+') AS BIGINT), 1) "
               "AS BIGINT)").alias("score_key"))
    return (scored
            .groupBy(F.expr("LEAST(score_key DIV 1000, 10)").cast("bigint")
                     .alias("b"))
            .agg(F.count("*").cast("bigint").alias("nd"),
                 F.sum("n_tokens").cast("bigint").alias("nt")))


def survival_fold(bkt):
    """Threshold sweep over a (b, nd, nt) bucket rollup — grid x bucket
    work on the metadata-sized table, shared verbatim by the batch face
    and the streaming twin so the twin cannot drift."""
    spark = bkt.sparkSession
    tot = bkt.agg(F.sum("nd").alias("all_d"), F.sum("nt").alias("all_t"))
    grid = spark.range(0, 10).select(F.col("id").alias("g"))
    surv = (grid.join(F.broadcast(bkt), F.col("b") >= F.col("g"), "left")
            .groupBy("g")
            .agg(F.coalesce(F.sum("nd"), F.lit(0)).cast("bigint")
                 .alias("n_docs_kept"),
                 F.coalesce(F.sum("nt"), F.lit(0)).cast("bigint")
                 .alias("n_tokens_kept")))
    return (surv.crossJoin(F.broadcast(tot))
            .select((F.col("g") * 1000).cast("bigint").alias("threshold"),
                    "n_docs_kept", "n_tokens_kept",
                    F.round(F.col("n_tokens_kept").cast("double")
                            / F.col("all_t"), 6).alias("token_survival")))


# --------------------------------------------------------------------------
# Duplicate-cluster size profile
# --------------------------------------------------------------------------
@query(
    "dedup_cluster_stats",
    """
    WITH fp AS (
      SELECT MD5(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g')))) AS fp
      FROM documents
    ),
    cl AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS k FROM fp GROUP BY fp),
    tot AS (SELECT SUM(k) AS n FROM cl)
    SELECT k AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(COUNT(*) * k AS BIGINT) AS n_docs,
           CAST(COUNT(*) * (k - 1) AS BIGINT) AS n_redundant,
           ROUND(CAST(COUNT(*) * k AS DOUBLE) / MAX(tot.n), 6) AS doc_share
    FROM cl CROSS JOIN tot
    GROUP BY k
    """,
    doc="exact-duplicate CLUSTER SIZE PROFILE — the corpus-health "
        "histogram a dedup run is judged by (how much redundancy, in "
        "what shape: many pairs vs few giant mirror clusters drive "
        "different dedup strategies): same normalize->md5 fingerprint as "
        "dedup_exact, clusters sized by one hash-agg, then the "
        "histogram is a second agg over the CLUSTER table (NDV-sized, "
        "not corpus-sized). n_redundant = (k-1) per cluster is exactly "
        "the doc count dedup_exact's keep-min rule would drop — "
        "sum(n_redundant) reconciles against it. All counts BIGINT; the "
        "only float is the final share. Scale: two keyed hash-aggs, "
        "both map-side combined; the second input is |distinct "
        "fingerprints| rows; no joins beyond the 1-row total attach",
)
def dedup_cluster_stats(spark, sf_dir):
    d = spread(T(spark, sf_dir, "documents"))
    fp = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    cl = (d.select(fp.alias("fp"))
          .groupBy("fp").agg(F.count("*").cast("bigint").alias("k"))
          .cache())
    return cluster_histogram(cl)


def cluster_histogram(cl):
    """Histogram fold over a (fp, k) cluster-size table — NDV-sized
    work, shared verbatim by dedup_cluster_stats and its streaming twin
    (streaming/ops.cluster_stats_sink) so the twin cannot drift."""
    tot = cl.agg(F.sum("k").alias("n"))
    return (cl.crossJoin(F.broadcast(tot))
            .groupBy(F.col("k").alias("cluster_size"))
            .agg(F.count("*").cast("bigint").alias("n_clusters"),
                 (F.count("*") * F.first("k")).cast("bigint")
                 .alias("n_docs"),
                 (F.count("*") * (F.first("k") - 1)).cast("bigint")
                 .alias("n_redundant"),
                 F.round((F.count("*") * F.first("k")).cast("double")
                         / F.max("n"), 6).alias("doc_share")))


# --------------------------------------------------------------------------
# Corpus-QA tier (r12): rule-based quality gating, token-level cleanup,
# cross-source overlap, quality-priority dedup
# --------------------------------------------------------------------------
def norm_fp_col(text_col: str = "text"):
    """Whitespace-normalized md5 fingerprint — the exact-dedup key
    every dedup face/sink spells; exported so compositions
    (llm/curation.assemble_v3) reuse it instead of copying it."""
    return F.md5(F.lower(F.trim(F.regexp_replace(text_col, r"\s+", " "))))


def diversity_score_col(text_col: str = "text"):
    """Integer lexical-diversity score key (distinct tokens x 10000 DIV
    tokens) — the quality ordering the mix tier and
    dedup_best_of_cluster share."""
    return F.expr(
        f"CAST((CAST(size(array_distinct(regexp_extract_all("
        f"lower({text_col}), '\\\\w+', 0))) AS BIGINT) * 10000) DIV "
        f"GREATEST(CAST(regexp_count({text_col}, '\\\\w+') AS BIGINT), 1) "
        f"AS BIGINT)")


def collapse_repeats_col(text_col: str = "text"):
    """Cleaned word ARRAY with immediate repeats collapsed — the
    text_collapse_repeats construction, exported for compositions.
    Index lambdas: 0-based in Spark; element_at is 1-based and its
    index is GREATEST(i,1)-guarded because OR does not short-circuit
    element_at(_, 0)'s runtime error."""
    ws = F.split(text_col, " ")
    return F.filter(
        ws, lambda x, i: (i == F.lit(0))
        | (x != F.element_at(ws, F.greatest(i, F.lit(1)))))

@query(
    "quality_gopher_rules",
    """
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws,
             CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(LEN(REGEXP_EXTRACT_ALL(text, '[^\\w\\s]')) AS BIGINT)
               AS n_sym,
             CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text),
                  '\\b(the|a|an|and|or|of|to|in)\\b')) AS BIGINT)
               AS n_stop,
             CAST(LEN(LIST_DISTINCT(string_split(text, ' '))) AS BIGINT)
               AS n_dist
      FROM documents
    ),
    m AS (
      SELECT doc_id, n_words, n_stop,
             ROUND(CAST(LIST_SUM(LIST_TRANSFORM(ws, x -> LENGTH(x)))
                        AS DOUBLE) / GREATEST(n_words, 1), 4)
               AS mean_word_len,
             ROUND(CAST(n_sym AS DOUBLE) / GREATEST(n_words, 1), 4)
               AS symbol_ratio,
             ROUND(1.0 - CAST(n_dist AS DOUBLE) / GREATEST(n_words, 1), 4)
               AS dup_word_ratio
      FROM w
    ),
    r AS (
      SELECT *,
             CAST(n_words BETWEEN 50 AND 100000 AS INT) AS r_word_count,
             CAST(mean_word_len BETWEEN 3.0 AND 10.0 AS INT)
               AS r_mean_word_len,
             CAST(symbol_ratio <= 0.1 AS INT) AS r_symbol_ratio,
             CAST(n_stop >= 2 AS INT) AS r_stopwords,
             CAST(dup_word_ratio <= 0.6 AS INT) AS r_dup_words
      FROM m
    )
    SELECT doc_id, n_words, mean_word_len, symbol_ratio, n_stop,
           dup_word_ratio, r_word_count, r_mean_word_len, r_symbol_ratio,
           r_stopwords, r_dup_words,
           CAST(5 - (r_word_count + r_mean_word_len + r_symbol_ratio
                     + r_stopwords + r_dup_words) AS INT) AS n_rules_failed,
           CAST((r_word_count + r_mean_word_len + r_symbol_ratio
                 + r_stopwords + r_dup_words) = 5 AS INT) AS passes
    FROM r
    """,
    doc="Gopher-style rule-based quality gate (Rae et al. 2021, "
        "'Scaling Language Models: ... Gopher', Table A1, adapted to "
        "word granularity): five explicit 0/1 rule flags — word count "
        "in [50, 100k], mean word length in [3, 10], symbol-to-word "
        "ratio <= 0.1, >= 2 stopwords, duplicate-word ratio <= 0.6 — "
        "plus n_rules_failed and the overall pass bit, so a pipeline "
        "can both filter AND attribute every removal to a rule. "
        "Hash-exactness: word/symbol/stopword/distinct counts are "
        "BIGINT; every ratio is a single guarded division ROUNDed to 4 "
        "and rules compare the ROUNDED value, so both engines gate on "
        "identical doubles. Scale: pure per-row projection — one scan, "
        "ZERO exchanges (same class as text_token_counts); at 100 TB "
        "the cost is the scan itself",
)
def quality_gopher_rules(spark, sf_dir):
    # no spread(): the zero-exchange scan IS the claim (plan-pinned);
    # at 100 TB the input arrives in many splits already
    r = gopher_doc_flags(T(spark, sf_dir, "documents"))
    tot = sum((F.col(a) for a in GOPHER_RULES[1:]),
              F.col(GOPHER_RULES[0]))
    return r.select(
        "doc_id", "n_words", "mean_word_len", "symbol_ratio", "n_stop",
        "dup_word_ratio", *GOPHER_RULES,
        (F.lit(5) - tot).cast("int").alias("n_rules_failed"),
        (tot == 5).cast("int").alias("passes"))


GOPHER_RULES = ("r_word_count", "r_mean_word_len", "r_symbol_ratio",
                "r_stopwords", "r_dup_words")


def with_gopher_metrics(df, text_col: str = "text"):
    """APPEND the five Gopher metrics + 0/1 rule flags computed from
    `text_col` to any frame — the one rule construction
    quality_gopher_rules, quality_rule_stats, the streaming
    gopher_stats_sink AND llm/curation.assemble_v3 share, so none of
    them can drift from the gate they attribute. The flags compare the
    ROUNDED metric expressions, exactly like the oracles."""
    ws = F.split(text_col, " ")
    n = F.size(ws).cast("bigint")
    g1 = F.greatest(n, F.lit(1))
    mwl = F.round(
        F.aggregate(ws, F.lit(0), lambda a, x: a + F.length(x))
        .cast("double") / g1, 4)
    sym = F.round(
        F.regexp_count(text_col, F.lit(r"[^\w\s]")).cast("double") / g1, 4)
    stop = F.regexp_count(
        F.lower(text_col), F.lit(r"\b(the|a|an|and|or|of|to|in)\b"))\
        .cast("bigint")
    dup = F.round(
        F.lit(1.0)
        - F.size(F.array_distinct(ws)).cast("double") / g1, 4)
    rules = [
        ("r_word_count", (n >= 50) & (n <= 100000)),
        ("r_mean_word_len", (mwl >= 3.0) & (mwl <= 10.0)),
        ("r_symbol_ratio", sym <= 0.1),
        ("r_stopwords", stop >= 2),
        ("r_dup_words", dup <= 0.6),
    ]
    assert tuple(a for a, _ in rules) == GOPHER_RULES
    return df.select(
        "*", n.alias("n_words"), mwl.alias("mean_word_len"),
        sym.alias("symbol_ratio"), stop.alias("n_stop"),
        dup.alias("dup_word_ratio"),
        *[c.cast("int").alias(a) for a, c in rules])


def gopher_doc_flags(docs):
    """(doc_id, metrics, flags) view of with_gopher_metrics over a
    (doc_id, text) frame — the shape the gate and rollup consume."""
    return with_gopher_metrics(docs.select("doc_id", "text")).drop("text")


def gopher_rule_counts(docs):
    """1-row BIGINT failure-count rollup over ANY (doc_id, text) frame
    — ADDITIVE across micro-batches (each doc counted once in its own
    batch), the property gopher_stats_sink's incremental fold rests
    on. Columns: n_docs, fail_<rule> x5, n_pass."""
    r = gopher_doc_flags(docs)
    tot = sum((F.col(a) for a in GOPHER_RULES[1:]),
              F.col(GOPHER_RULES[0]))
    # coalesce: an EMPTY batch aggregates to one row of NULL sums,
    # which would poison the sink's cross-batch SUM — zeros are the
    # additive identity the fold needs
    aggs = [F.count("*").cast("bigint").alias("n_docs")]
    aggs += [F.coalesce(F.sum(F.lit(1) - F.col(a)), F.lit(0))
             .cast("bigint").alias(a.replace("r_", "fail_", 1))
             for a in GOPHER_RULES]
    aggs.append(F.coalesce(F.sum((tot == 5).cast("int")), F.lit(0))
                .cast("bigint").alias("n_pass"))
    return r.agg(*aggs)


def gopher_stats_fold(cnt):
    """Share arithmetic over a summed rule-count rollup — 1-row work,
    shared verbatim by quality_rule_stats and gopher_stats_sink."""
    fails = [a.replace("r_", "fail_", 1) for a in GOPHER_RULES]
    g1 = F.greatest(F.col("n_docs"), F.lit(1))
    return cnt.select(
        "n_docs", *fails, "n_pass",
        *[F.round(F.col(f).cast("double") / g1, 6)
          .alias(f.replace("fail_", "share_fail_", 1)) for f in fails],
        F.round(F.col("n_pass").cast("double") / g1, 6)
        .alias("pass_rate"))


@query(
    "quality_rule_stats",
    """
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws,
             CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(LEN(REGEXP_EXTRACT_ALL(text, '[^\\w\\s]')) AS BIGINT)
               AS n_sym,
             CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text),
                  '\\b(the|a|an|and|or|of|to|in)\\b')) AS BIGINT)
               AS n_stop,
             CAST(LEN(LIST_DISTINCT(string_split(text, ' '))) AS BIGINT)
               AS n_dist
      FROM documents
    ),
    r AS (
      SELECT CAST(n_words BETWEEN 50 AND 100000 AS INT) AS r1,
             CAST(ROUND(CAST(LIST_SUM(LIST_TRANSFORM(ws,
                    x -> LENGTH(x))) AS DOUBLE)
                    / GREATEST(n_words, 1), 4)
                  BETWEEN 3.0 AND 10.0 AS INT) AS r2,
             CAST(ROUND(CAST(n_sym AS DOUBLE) / GREATEST(n_words, 1), 4)
                  <= 0.1 AS INT) AS r3,
             CAST(n_stop >= 2 AS INT) AS r4,
             CAST(ROUND(1.0 - CAST(n_dist AS DOUBLE)
                        / GREATEST(n_words, 1), 4) <= 0.6 AS INT) AS r5
      FROM w
    ),
    c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COALESCE(SUM(1 - r1), 0) AS BIGINT) AS fail_word_count,
             CAST(COALESCE(SUM(1 - r2), 0) AS BIGINT)
               AS fail_mean_word_len,
             CAST(COALESCE(SUM(1 - r3), 0) AS BIGINT)
               AS fail_symbol_ratio,
             CAST(COALESCE(SUM(1 - r4), 0) AS BIGINT) AS fail_stopwords,
             CAST(COALESCE(SUM(1 - r5), 0) AS BIGINT) AS fail_dup_words,
             CAST(COALESCE(SUM(CASE WHEN r1 + r2 + r3 + r4 + r5 = 5
                                    THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS n_pass
      FROM r
    )
    SELECT n_docs, fail_word_count, fail_mean_word_len,
           fail_symbol_ratio, fail_stopwords, fail_dup_words, n_pass,
           ROUND(CAST(fail_word_count AS DOUBLE)
                 / GREATEST(n_docs, 1), 6) AS share_fail_word_count,
           ROUND(CAST(fail_mean_word_len AS DOUBLE)
                 / GREATEST(n_docs, 1), 6) AS share_fail_mean_word_len,
           ROUND(CAST(fail_symbol_ratio AS DOUBLE)
                 / GREATEST(n_docs, 1), 6) AS share_fail_symbol_ratio,
           ROUND(CAST(fail_stopwords AS DOUBLE)
                 / GREATEST(n_docs, 1), 6) AS share_fail_stopwords,
           ROUND(CAST(fail_dup_words AS DOUBLE)
                 / GREATEST(n_docs, 1), 6) AS share_fail_dup_words,
           ROUND(CAST(n_pass AS DOUBLE) / GREATEST(n_docs, 1), 6)
             AS pass_rate
    FROM c
    """,
    doc="corpus-level Gopher-gate attribution report: how many docs "
        "fail EACH of the five rules, how many pass all, and the "
        "per-rule failure shares — the one-row summary a corpus owner "
        "reads to see which rule is doing the filtering before "
        "committing to the gate (a rule failing 90% of a source is "
        "usually a rule bug, not a source problem). Same rule "
        "construction as quality_gopher_rules (shared "
        "gopher_doc_flags, so the report can never disagree with the "
        "per-doc gate); counts are BIGINT and additive across batches "
        "— the property the incremental gopher_stats_sink twin rests "
        "on. Scale: one scan -> one map-side-combined 1-row rollup; "
        "share arithmetic on that row",
)
def quality_rule_stats(spark, sf_dir):
    return gopher_stats_fold(
        gopher_rule_counts(T(spark, sf_dir, "documents")))


@query(
    "text_collapse_repeats",
    """
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    c AS (
      SELECT doc_id, ws,
             LIST_FILTER(ws, (x, i) -> i = 1 OR x != ws[i - 1]) AS cl
      FROM w
    )
    SELECT doc_id,
           CAST(LEN(ws) AS BIGINT) AS n_words,
           CAST(LEN(cl) AS BIGINT) AS n_clean,
           CAST(LEN(ws) - LEN(cl) AS BIGINT) AS n_collapsed,
           MD5(ARRAY_TO_STRING(cl, ' ')) AS clean_fp
    FROM c
    """,
    doc="token-level repetition cleanup (the C4/RefinedWeb 'remove "
        "duplicated content' step at word granularity, Raffel et al. "
        "2020 §2.2 / Penedo et al. 2023 — the fixture corpus is "
        "single-line, so the line-level rule degenerates and the "
        "word-level one is the honest analog): collapse IMMEDIATE "
        "word repeats with an index lambda (keep position i iff i==0 "
        "or w != prev), emit per-doc kept/collapsed counts and the md5 "
        "of the cleaned text so downstream exact-dedup can run on "
        "cleaned fingerprints. Index lambdas are 0-based in Spark and "
        "1-based in DuckDB; both sides express 'compare with previous "
        "element' in their own indexing, and Spark's element_at "
        "index is GREATEST(i,1)-guarded because OR does not "
        "short-circuit element_at(_, 0)'s runtime error. Scale: pure "
        "per-row projection, zero exchanges",
)
def text_collapse_repeats(spark, sf_dir):
    # no spread(): zero-exchange scan is the plan-pinned claim
    d = T(spark, sf_dir, "documents")
    ws = _words()
    cl = collapse_repeats_col()
    return d.select(
        "doc_id",
        F.size(ws).cast("bigint").alias("n_words"),
        F.size(cl).cast("bigint").alias("n_clean"),
        (F.size(ws) - F.size(cl)).cast("bigint").alias("n_collapsed"),
        F.md5(F.array_join(cl, " ")).alias("clean_fp"))


@query(
    "corpus_source_overlap",
    f"""
    WITH svoc AS ({_shingle_sql("source")}),
    sizes AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab FROM svoc
      GROUP BY source
    ),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM svoc a JOIN svoc b ON a.sh = b.sh AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT p.source_a, p.source_b,
           sa.vocab AS vocab_a, sb.vocab AS vocab_b, p.n_common,
           ROUND(CAST(p.n_common AS DOUBLE)
                 / (sa.vocab + sb.vocab - p.n_common), 6) AS jaccard
    FROM pairs p
    JOIN sizes sa ON p.source_a = sa.source
    JOIN sizes sb ON p.source_b = sb.source
    """,
    doc="cross-source corpus overlap: exact Jaccard between each source "
        "pair's distinct word-3-gram shingle sets (same shingle "
        "construction as the dedup family) — the corpus-level duplication "
        "map a mixture owner reads before weighting sources (two sources "
        "with high overlap should not both be upweighted; high "
        "containment of a small source flags it as a subset mirror). "
        "Pairs with zero common shingles do not appear (sparse join "
        "semantics). Scale: ONE shingle-keyed fold — collect_set(source) "
        "per shingle (set size bounded by |sources|, a categorical "
        "column, so the agg buffer is metadata-sized) — replaces both "
        "the distinct and the shingle-keyed self-join; vocab sizes and "
        "pair counts are row-local explodes of the per-shingle source "
        "set (fan-out <= |sources|^2 per shingle, never corpus-sized) "
        "aggregated to <= |sources|^2 rows; sizes attach by broadcast. "
        "The 100 TB hatch is real code: max_df=<threshold> applies the "
        "dedup family's document-frequency stop-shingle cut (the "
        "text_ngram_containment df<=50 pattern) to the WHOLE shingle "
        "space — now a row-local size(set) filter — so vocab sizes and "
        "pair counts both describe the non-ubiquitous shingle space and "
        "jaccard stays a well-defined Jaccard. max_df=None (the oracled "
        "face) is byte-identical to the uncut plan; max_df >= |sources| "
        "is output-identical by construction (pinned in test_corpus_qa)",
)
def corpus_source_overlap(spark, sf_dir, max_df: int | None = None):
    from .core import fresh_persist
    d = spread(T(spark, sf_dir, "documents"))
    # the dedup family's own shingle construction, keyed by source;
    # doc_shingles dedupes within a doc, collect_set below dedupes
    # across a source's docs (matching the SQL fragment's DISTINCT —
    # the old explicit .distinct() pass is subsumed by the set agg)
    svoc = doc_shingles(d.select("source", "text"), id_col="source")
    # ONE shingle-keyed fold: the per-shingle distinct source set,
    # sorted so pair emission below is canonically ordered (array_sort
    # and `<` share Spark's binary UTF8 string ordering). Set size is
    # bounded by |sources| (categorical), so the agg buffer is
    # metadata-sized regardless of corpus size. Persisted because both
    # the sizes and the pairs branch consume it (DeduplicateRelations
    # re-executes unpersisted subtrees per reference — the old plan
    # ran the scan+shingle+distinct stack 4x).
    sets = (svoc.groupBy("sh")
            .agg(F.array_sort(F.collect_set("source")).alias("ss")))
    if max_df is not None:
        # stop-shingle cut: drop shingles present in more than max_df
        # sources (boilerplate that appears everywhere) — now a
        # row-local size filter on the folded set, no extra agg/join
        sets = sets.filter(F.size("ss") <= int(max_df))
    sets = fresh_persist("source_overlap_sets", sets)
    sizes = (sets.select(F.explode("ss").alias("source"))
             .groupBy("source")
             .agg(F.count("*").cast("bigint").alias("vocab")))
    # all (a < b) source pairs of each shingle's set, emitted row-locally
    # (fan-out <= |sources|^2 per shingle) and counted per pair — the
    # exact multiset the old shingle-keyed self-join produced
    combos = F.expr(
        "flatten(transform(sequence(0, size(ss) - 2),"
        " i -> transform(sequence(i + 1, size(ss) - 1),"
        " j -> struct(ss[i] AS a, ss[j] AS b))))")
    pairs = (sets.filter(F.size("ss") >= 2)
             .select(F.explode(combos).alias("p"))
             .groupBy(F.col("p.a").alias("source_a"),
                      F.col("p.b").alias("source_b"))
             .agg(F.count("*").cast("bigint").alias("n_common")))
    sa = sizes.select(F.col("source").alias("source_a"),
                      F.col("vocab").alias("vocab_a"))
    sb = sizes.select(F.col("source").alias("source_b"),
                      F.col("vocab").alias("vocab_b"))
    return (pairs.join(F.broadcast(sa), "source_a")
            .join(F.broadcast(sb), "source_b")
            .select("source_a", "source_b", "vocab_a", "vocab_b",
                    "n_common",
                    F.round(F.col("n_common").cast("double")
                            / (F.col("vocab_a") + F.col("vocab_b")
                               - F.col("n_common")), 6).alias("jaccard")))


@query(
    "dedup_best_of_cluster",
    """
    WITH scored AS (
      SELECT MD5(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g')))) AS fp,
             doc_id,
             CAST((LEN(LIST_DISTINCT(REGEXP_EXTRACT_ALL(LOWER(text),
                       '\\w+'))) * 10000)
                  // GREATEST(LEN(REGEXP_EXTRACT_ALL(text, '\\w+')), 1)
                  AS BIGINT) AS score_key
      FROM documents
    ),
    ranked AS (
      SELECT fp, doc_id, score_key,
             ROW_NUMBER() OVER (PARTITION BY fp
                                ORDER BY score_key DESC, doc_id ASC) AS rn,
             COUNT(*) OVER (PARTITION BY fp) AS n_copies
      FROM scored
    )
    SELECT fp, doc_id AS keep_doc_id, score_key,
           CAST(n_copies AS BIGINT) AS n_copies
    FROM ranked WHERE rn = 1
    """,
    doc="quality-priority exact dedup: keep the HIGHEST-scoring doc per "
        "exact-dup cluster (lexical-diversity score key, ties to min "
        "doc_id) instead of dedup_exact's min-doc_id rule — what "
        "production dedup actually does when copies differ in trailing "
        "boilerplate after normalization-insensitive fingerprinting "
        "(keep the cleanest copy, not the first-crawled one). The score "
        "is the integer score_key the mix tier shares (no float "
        "division). Spark side is ONE hash-agg: max(struct(score_key, "
        "-doc_id)) per fingerprint — no window, no join; the oracle "
        "spells the same argmax as a window for clarity. Scale: "
        "map-side-combined agg on the fingerprint key, linear",
)
def dedup_best_of_cluster(spark, sf_dir):
    d = spread(T(spark, sf_dir, "documents"))
    scored = d.select(norm_fp_col().alias("fp"), "doc_id",
                      diversity_score_col().alias("score_key"))
    return (scored
            .groupBy("fp")
            .agg(F.max(F.struct(F.col("score_key"),
                                (-F.col("doc_id")).alias("nd"))).alias("b"),
                 F.count("*").cast("bigint").alias("n_copies"))
            .select("fp",
                    (-F.col("b.nd")).cast("bigint").alias("keep_doc_id"),
                    F.col("b.score_key").alias("score_key"), "n_copies"))


# --------------------------------------------------------------------------
# Corpus statistics + embedding-truncation eval (r12, second batch)
# --------------------------------------------------------------------------
@query(
    "vocab_growth_curve",
    """
    WITH mx AS (SELECT MAX(doc_id) + 1 AS m FROM documents),
    fs AS (
      SELECT w, MIN(doc_id) AS first_doc
      FROM (SELECT doc_id,
                   UNNEST(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z]+')) AS w
            FROM documents) t
      GROUP BY w
    ),
    vb AS (
      SELECT CAST((first_doc * 10) // m AS BIGINT) AS b,
             CAST(COUNT(*) AS BIGINT) AS nw
      FROM fs CROSS JOIN mx GROUP BY 1
    ),
    db AS (
      SELECT CAST((doc_id * 10) // m AS BIGINT) AS b,
             CAST(COUNT(*) AS BIGINT) AS nd
      FROM documents CROSS JOIN mx GROUP BY 1
    )
    SELECT CAST(b + 1 AS BIGINT) AS prefix_decile,
           CAST(SUM(nd) OVER (ORDER BY b) AS BIGINT) AS n_docs,
           CAST(SUM(COALESCE(nw, 0)) OVER (ORDER BY b) AS BIGINT)
             AS vocab
    FROM (SELECT db.b, db.nd, vb.nw FROM db LEFT JOIN vb USING (b)) g
    """,
    doc="Heaps'-law vocabulary growth curve: cumulative distinct-word "
        "vocabulary after each doc_id decile of the corpus — the "
        "sub-linear growth profile (V ~ n^beta) a corpus owner reads to "
        "estimate tokenizer vocabulary pressure and dedup headroom "
        "(a linear curve means the corpus keeps introducing novel text; "
        "a flat tail means it's repeating itself). The trick that makes "
        "it one aggregation instead of ten prefix scans: a word's "
        "contribution to every prefix is determined by its FIRST-SEEN "
        "doc_id, so vocab(prefix) = count of words with first_doc in "
        "the prefix — word -> min(doc_id) is one vocabulary-sized "
        "hash-agg, the decile rollup is 10 rows, and the running sums "
        "ride a 10-row window. All counts BIGINT; bucket arithmetic is "
        "integer DIV. Scale: one scan + one vocab-keyed agg; the "
        "10-row tail is free",
)
def vocab_growth_curve(spark, sf_dir):
    d = spread(T(spark, sf_dir, "documents"))
    mx = d.agg((F.max("doc_id") + 1).alias("m"))
    words = d.select(
        "doc_id",
        F.explode(F.regexp_extract_all(F.lower("text"),
                                       F.lit(r"[a-z]+"), F.lit(0)))
        .alias("w"))
    fs = words.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    vb = (fs.crossJoin(F.broadcast(mx))
          .groupBy(F.expr("CAST((first_doc * 10) DIV m AS BIGINT)")
                   .alias("b"))
          .agg(F.count("*").cast("bigint").alias("nw")))
    db = (d.crossJoin(F.broadcast(mx))
          .groupBy(F.expr("CAST((doc_id * 10) DIV m AS BIGINT)")
                   .alias("b"))
          .agg(F.count("*").cast("bigint").alias("nd")))
    g = db.join(vb, "b", "left")
    w10 = Window.orderBy("b")   # 10-row frame: metadata-sized
    return g.select(
        (F.col("b") + 1).cast("bigint").alias("prefix_decile"),
        F.sum("nd").over(w10).cast("bigint").alias("n_docs"),
        F.sum(F.coalesce("nw", F.lit(0))).over(w10).cast("bigint")
        .alias("vocab"))


@query(
    "tokenizer_fertility",
    r"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars,
           CAST(SUM(LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')))
                AS BIGINT) AS n_words,
           CAST(SUM(LEN(REGEXP_EXTRACT_ALL(text,
                '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT)
             AS n_bpe_tokens,
           ROUND(CAST(SUM(LEN(REGEXP_EXTRACT_ALL(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS DOUBLE)
                 / GREATEST(SUM(LEN(STRING_SPLIT_REGEX(TRIM(text),
                                                       '\s+'))), 1), 4)
             AS fertility,
           ROUND(CAST(SUM(LENGTH(text)) AS DOUBLE)
                 / GREATEST(SUM(LEN(REGEXP_EXTRACT_ALL(text,
                     '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))), 1), 4)
             AS chars_per_token
    FROM documents GROUP BY source
    """,
    doc="per-source tokenizer fertility report: BPE-ish tokens per "
        "whitespace word (the fertility metric multilingual-tokenizer "
        "teams track — fertility >> 1 on a source means the tokenizer "
        "fragments it and the source trains inefficiently) and chars "
        "per token, from the same GPT-2-shape pre-tokenizer regex as "
        "text_token_counts so the two faces can never disagree on what "
        "a token is. All corpus-sized quantities are BIGINT sums in "
        "one map-side-combined hash-agg; the two ratios are guarded "
        "single divisions on the |sources|-row result. Scale: one scan",
)
def tokenizer_fertility(spark, sf_dir):
    d = spread(T(spark, sf_dir, "documents"))
    bpe = F.regexp_count("text", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"))
    wsw = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    agg = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("n_chars"),
        F.sum(wsw).cast("bigint").alias("n_words"),
        F.sum(bpe).cast("bigint").alias("n_bpe_tokens"))
    return agg.select(
        "source", "n_docs", "n_chars", "n_words", "n_bpe_tokens",
        F.round(F.col("n_bpe_tokens").cast("double")
                / F.greatest(F.col("n_words"), F.lit(1)), 4)
        .alias("fertility"),
        F.round(F.col("n_chars").cast("double")
                / F.greatest(F.col("n_bpe_tokens"), F.lit(1)), 4)
        .alias("chars_per_token"))


_MATRYOSHKA_DIMS = (8, 16, 32)


def _cos_sql(k: str) -> str:
    """DuckDB cosine over the first `k` dims (index-ordered fold). The
    norm product is NULLIF-guarded: a zero-norm prefix (e.g. a vector
    whose first k dims are all zero) yields a NULL cosine on BOTH
    engines instead of DuckDB-NULL-vs-Spark-ANSI-DIVIDE_BY_ZERO — and
    a NULL cosine can never win the argmax (struct-max skips the NULL
    field on the Spark side; DESC ordering puts NULLs last in the
    oracle's window)."""
    return (f"ROUND(LIST_SUM(LIST_TRANSFORM(RANGE(1, {k} + 1), i -> "
            f"CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))"
            f" / NULLIF(SQRT(LIST_SUM(LIST_TRANSFORM(RANGE(1, {k} + 1), i -> "
            f"CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))"
            f" * SQRT(LIST_SUM(LIST_TRANSFORM(RANGE(1, {k} + 1), i -> "
            f"CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))"
            f", 0), 6)")


@query(
    "embed_matryoshka_recall",
    f"""
    WITH pairs AS (
      SELECT q.vec_id AS qid, e.vec_id,
             {_cos_sql('64')} AS cos64,
             {_cos_sql('8')} AS cos8,
             {_cos_sql('16')} AS cos16,
             {_cos_sql('32')} AS cos32
      FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
      WHERE q.vec_id % 10 = 0
    ),
    ranked AS (
      SELECT qid, vec_id,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cos64 DESC, vec_id) AS r64,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cos8 DESC, vec_id) AS r8,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cos16 DESC, vec_id) AS r16,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cos32 DESC, vec_id) AS r32
      FROM pairs
    ),
    top AS (
      SELECT qid,
             MAX(CASE WHEN r64 = 1 THEN vec_id END) AS t64,
             MAX(CASE WHEN r8  = 1 THEN vec_id END) AS t8,
             MAX(CASE WHEN r16 = 1 THEN vec_id END) AS t16,
             MAX(CASE WHEN r32 = 1 THEN vec_id END) AS t32
      FROM ranked GROUP BY qid
    )
    SELECT * FROM (
      SELECT CAST(8 AS BIGINT) AS prefix_dim,
             CAST(COUNT(*) AS BIGINT) AS n_queries,
             CAST(SUM(CASE WHEN t8 = t64 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_agree,
             ROUND(CAST(SUM(CASE WHEN t8 = t64 THEN 1 ELSE 0 END)
                        AS DOUBLE) / GREATEST(COUNT(*), 1), 6)
               AS agree_rate
      FROM top
      UNION ALL
      SELECT CAST(16 AS BIGINT), CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN t16 = t64 THEN 1 ELSE 0 END) AS BIGINT),
             ROUND(CAST(SUM(CASE WHEN t16 = t64 THEN 1 ELSE 0 END)
                        AS DOUBLE) / GREATEST(COUNT(*), 1), 6)
      FROM top
      UNION ALL
      SELECT CAST(32 AS BIGINT), CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN t32 = t64 THEN 1 ELSE 0 END) AS BIGINT),
             ROUND(CAST(SUM(CASE WHEN t32 = t64 THEN 1 ELSE 0 END)
                        AS DOUBLE) / GREATEST(COUNT(*), 1), 6)
      FROM top
    ) u
    """,
    doc="matryoshka-truncation retrieval eval (Kusupati et al. 2022, "
        "'Matryoshka Representation Learning'): for a deterministic "
        "10% query subset, does the top-1 cosine neighbor computed on "
        "the first 8/16/32 dims agree with the full-64-dim top-1? The "
        "agreement-rate-per-prefix table is the measurement behind the "
        "standard 'search on a prefix, rerank on the full vector' "
        "cost/recall trade. Determinism: every cosine is ROUNDed to 6 "
        "before the argmax and ties break on min vec_id, so both "
        "engines pick identical winners; all four prefix cosines come "
        "from the SAME index-ordered folds over one pair frame. Spark "
        "argmax is max(struct(cos, -vec_id)) in ONE hash-agg per "
        "query — no window. Scale: this PERCENT-subsample face is "
        "QUADRATIC BY DESIGN — |N/10| queries x N corpus pairs "
        "(measured ~94x on 10x rows in the r13 sf1 block) — so it is "
        "the EXACT TWIN FOR SMALL CORPORA only; the recommended "
        "default eval is embed_matryoshka_budget, whose in-plan "
        "GREATEST(1, N DIV 64) query stride caps the query count at a "
        "fixed budget and keeps the pair frame linear (byte-identical "
        "to this face at budget = N DIV 10, pinned in "
        "test_r13_faces.py)",
)
def embed_matryoshka_recall(spark, sf_dir):
    e = spread(T(spark, sf_dir, "embeddings"))
    q = (e.filter(F.col("vec_id") % 10 == 0)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv")))
    return _matryoshka_agreement(e, q)


def _matryoshka_agreement(e, q):
    """Shared matryoshka-agreement body: broadcast query frame `q`
    (qid, qv) against corpus `e`, rounded-cosine argmax per prefix dim,
    ONE aggregation pass, 3-row explode. embed_matryoshka_recall (the
    10% subsample eval) and embed_matryoshka_budget (the fixed-budget
    100 TB path) differ ONLY in how `q` is built."""

    # the four prefix cosines share their elementwise terms: compute the
    # product/square arrays ONCE per pair and fold prefixes of them
    # (guide §1.2 step 2 — per-task work). Each fold still adds the same
    # values left-to-right from 0.0 (aggregate over a slice of the
    # products array == aggregate over zip_with of the slices), so every
    # float sum is bit-identical to the per-k recomputation; only the
    # 8+16+32(+64) redundant multiplies per element go away.
    w = (e.crossJoin(F.broadcast(q))
         .filter(F.col("vec_id") != F.col("qid"))
         .select("qid", "vec_id",
                 F.zip_with("embedding", "qv",
                            lambda x, y: x.cast("double") * y.cast("double"))
                 .alias("_p"),
                 F.transform("embedding",
                             lambda x: x.cast("double") * x.cast("double"))
                 .alias("_e"),
                 F.transform("qv",
                             lambda x: x.cast("double") * x.cast("double"))
                 .alias("_q")))

    def cos(k):
        fold = lambda c: F.aggregate(   # noqa: E731
            F.slice(c, 1, k), F.lit(0.0), lambda acc, x: acc + x)
        dot = fold("_p")
        # NULL-guard the norm product (mirrors the oracle's NULLIF): a
        # zero-norm prefix must yield a NULL cosine on both engines, not
        # an ANSI DIVIDE_BY_ZERO here vs NULL there. NULL cosines lose
        # every argmax: max(struct) ranks a NULL field below any value,
        # and the oracle's DESC window puts NULLs last.
        prod = F.sqrt(fold("_e")) * F.sqrt(fold("_q"))
        return F.round(dot / F.when(prod != 0.0, prod), 6)

    pairs = w.select("qid", "vec_id",
                     cos(64).alias("cos64"),
                     *[cos(k).alias(f"cos{k}")
                       for k in _MATRYOSHKA_DIMS])

    def argmax(c):
        return (-F.max(F.struct(F.col(c),
                                (-F.col("vec_id")).alias("nd")))["nd"])

    top = pairs.groupBy("qid").agg(
        argmax("cos64").alias("t64"),
        *[argmax(f"cos{k}").alias(f"t{k}") for k in _MATRYOSHKA_DIMS])
    # ONE aggregation over `top` computing every prefix's agreement —
    # a union of three separate top.agg(...) branches would carry the
    # full pair frame in each branch and lean on exchange reuse to
    # avoid executing it three times; the single pass needs no reuse.
    # The 1-row result then explodes into the 3 output rows.
    agg = top.agg(
        F.count("*").cast("bigint").alias("n_queries"),
        *[F.sum((F.col(f"t{k}") == F.col("t64")).cast("int"))
          .cast("bigint").alias(f"agree{k}") for k in _MATRYOSHKA_DIMS])
    rows = F.array(*[
        F.struct(
            F.lit(k).cast("bigint").alias("prefix_dim"),
            F.col("n_queries"),
            F.col(f"agree{k}").alias("n_agree"),
            F.round(F.col(f"agree{k}").cast("double")
                    / F.greatest(F.col("n_queries"), F.lit(1)), 6)
            .alias("agree_rate"))
        for k in _MATRYOSHKA_DIMS])
    return agg.select(F.explode(rows).alias("r")).select("r.*")


# --------------------------------------------------------------------------
# Corpus quality + domain-similarity decision tier (r13)
# --------------------------------------------------------------------------
@query(
    "text_unigram_entropy",
    """
    WITH wc AS (
      SELECT doc_id, w, COUNT(*) AS c
      FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w
            FROM documents) t
      GROUP BY doc_id, w
    ),
    agg AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_words,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             SUM(c * LOG2(CAST(c AS DOUBLE))) AS s
      FROM wc GROUP BY doc_id
    )
    SELECT doc_id, n_words, n_types,
           ROUND(CAST(n_types AS DOUBLE) / n_words, 4) AS type_token_ratio,
           ROUND(LOG2(CAST(n_words AS DOUBLE)) - s / n_words, 4)
             AS unigram_entropy
    FROM agg
    """,
    doc="per-document unigram word entropy + type/token ratio: the GRADED "
        "repetition signal beside quality_gopher_rules' binary dup-word "
        "flag (entropy near log2(n_words) = every word novel; near 0 = "
        "one word repeated — the C4/Gopher-adjacent compressibility "
        "proxy without running a compressor). H = log2(n) - sum(c*log2(c))/n "
        "needs only per-(doc,word) counts, so the whole face is two "
        "hash-aggs (doc+word, then doc) — no window, no join; the float "
        "fold is ROUNDed to 4 (the established last-ulp guard; counts "
        "and the log2 inputs are exact integers on both engines). "
        "Scale: linear, map-side combined, shuffle keys are (doc, word) "
        "then doc",
)
def text_unigram_entropy(spark, sf_dir):
    d = spread(T(spark, sf_dir, "documents"))
    wc = (d.select("doc_id", F.explode(_words()).alias("w"))
          .groupBy("doc_id", "w").agg(F.count("*").alias("c")))
    agg = wc.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_words"),
        F.count("*").cast("bigint").alias("n_types"),
        F.sum(F.col("c") * F.log2(F.col("c").cast("double"))).alias("s"))
    return agg.select(
        "doc_id", "n_words", "n_types",
        F.round(F.col("n_types").cast("double") / F.col("n_words"), 4)
        .alias("type_token_ratio"),
        F.round(F.log2(F.col("n_words").cast("double"))
                - F.col("s") / F.col("n_words"), 4)
        .alias("unigram_entropy"))


@query(
    "corpus_crossentropy_matrix",
    """
    WITH words AS (SELECT source, string_split(text, ' ') AS w
                   FROM documents),
    bg AS (
      SELECT source, UNNEST(w[1:-2]) AS w1, UNNEST(w[2:]) AS w2
      FROM words
    ),
    pair_c AS (SELECT source, w1, w2, COUNT(*) AS c2
               FROM bg GROUP BY 1, 2, 3),
    head_c AS (SELECT source, w1, SUM(c2) AS c1
               FROM pair_c GROUP BY 1, 2),
    v AS (SELECT COUNT(DISTINCT w2) AS v FROM pair_c),
    srcs AS (SELECT DISTINCT source AS source_model FROM pair_c),
    crossed AS (
      SELECT e.source AS source_eval, s.source_model, e.c2 AS ce,
             LOG2((COALESCE(p.c2, 0) + 1.0)
                  / (COALESCE(h.c1, 0) + v.v)) AS logp
      FROM pair_c e
      CROSS JOIN srcs s
      CROSS JOIN v
      LEFT JOIN pair_c p ON p.source = s.source_model
                        AND p.w1 = e.w1 AND p.w2 = e.w2
      LEFT JOIN head_c h ON h.source = s.source_model AND h.w1 = e.w1
    )
    SELECT source_eval, source_model,
           CAST(SUM(ce) AS BIGINT) AS n_bigrams,
           ROUND(-SUM(ce * logp) / SUM(ce), 4) AS cross_entropy_bits
    FROM crossed GROUP BY 1, 2
    """,
    doc="cross-source bigram cross-entropy matrix (the CCNet/DSIR-style "
        "domain-similarity map): fit a Laplace-smoothed word-bigram LM "
        "per source — P(w2|w1) = (c(w1,w2)+1)/(c(w1)+V), V = corpus "
        "distinct-next-word vocabulary — and score every source's bigram "
        "stream under every source's model; H(eval|model) in bits per "
        "bigram. The diagonal is each source's self-entropy; a "
        "low off-diagonal pair means near-duplicate domains a mixture "
        "owner should not upweight twice (corpus_source_overlap's "
        "MODEL-level sibling: overlap sees shared strings, this sees "
        "shared conditional distributions). Both engines compute "
        "identical rationals (exact integer counts, one division, one "
        "LOG2) and the count-weighted fold is ROUNDed to 4. Scale: the "
        "whole face runs on the VOCABULARY-sized per-source pair-count "
        "table — the token stream collapses to counts in one map-side-"
        "combined agg first, so the |sources| fan-out multiplies "
        "distinct pairs, never corpus rows. Only the |sources| list and "
        "the 1-row V scalar carry broadcast hints; the vocabulary-sized "
        "model joins are size-adaptive (AQE broadcasts while under the "
        "threshold, shuffles on the composite key past it — a forced "
        "broadcast would hard-fail at Spark's 8 GB cap on a real "
        "corpus's billions of distinct bigrams). "
        "The counts table is additive, which is exactly what the "
        "incremental streaming twin (streaming/ops.lm_model_sink) "
        "maintains",
)
def corpus_crossentropy_matrix(spark, sf_dir):
    d = spread(T(spark, sf_dir, "documents"))
    return crossentropy_matrix_fold(source_bigram_counts(d))


def source_bigram_counts(docs):
    """Shared builder: the per-source word-bigram count table
    (source, w1, w2, c2) — the sufficient statistic for the whole
    cross-entropy matrix (and additive across document batches, so the
    streaming twin maintains THIS table). One explode + one map-side-
    combined hash-agg on the bigram vocabulary."""
    d = docs.withColumn("w", _words())
    bg = (d.select(
        "source",
        F.explode(F.expr(
            "transform(slice(w, 1, size(w) - 1), "
            "(x, i) -> struct(x AS w1, w[i + 1] AS w2))")).alias("b"))
        .select("source", F.col("b.w1").alias("w1"),
                F.col("b.w2").alias("w2")))
    return (bg.groupBy("source", "w1", "w2")
            .agg(F.count("*").cast("bigint").alias("c2")))


def crossentropy_matrix_fold(pair_c):
    """The matrix from the count table alone: H(eval|model) =
    -(1/N_e) * sum over eval pairs of c_e * log2((c_m+1)/(c1_m+V)).
    Everything derives from pair_c — head counts, the smoothing
    vocabulary V (distinct next-words), the source list — so the batch
    face and the incremental sink can never disagree on the model."""
    head_c = (pair_c.groupBy("source", "w1")
              .agg(F.sum("c2").alias("c1")))
    v = pair_c.agg(F.countDistinct("w2").alias("v"))
    srcs = pair_c.select(F.col("source").alias("source_model")).distinct()
    pm = pair_c.select(F.col("source").alias("source_model"),
                       "w1", "w2", F.col("c2").alias("cm"))
    hm = head_c.select(F.col("source").alias("source_model"),
                       "w1", "c1")
    logp = F.log2((F.coalesce(F.col("cm"), F.lit(0)) + F.lit(1.0))
                  / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v")))
    # Broadcast ONLY the truly metadata-sized frames: srcs (|sources|
    # rows) and v (1 row). pm/hm are the full per-source bigram-count
    # table relabeled — "vocabulary-sized" is NOT "broadcastable": a
    # 100 TB corpus has billions of distinct bigrams and Spark
    # hard-fails broadcasts above 8 GB. The pair/head joins are plain
    # composite-key equi-joins; AQE broadcasts them on its own while
    # the vocabulary is small and degrades to a shuffled hash join
    # (partitioned on (source_model, w1[, w2])) when it is not.
    crossed = (pair_c.select(F.col("source").alias("source_eval"),
                             "w1", "w2", F.col("c2").alias("ce"))
               .crossJoin(F.broadcast(srcs))
               .join(pm, ["source_model", "w1", "w2"], "left")
               .join(hm, ["source_model", "w1"], "left")
               .crossJoin(F.broadcast(v)))
    return (crossed.groupBy("source_eval", "source_model")
            .agg(F.sum("ce").cast("bigint").alias("n_bigrams"),
                 F.round(-F.sum(F.col("ce") * logp) / F.sum("ce"), 4)
                 .alias("cross_entropy_bits")))


_MATRYOSHKA_QUERY_BUDGET = 64


@query(
    "embed_matryoshka_budget",
    f"""
    WITH n AS (SELECT GREATEST(1, COUNT(*) // {_MATRYOSHKA_QUERY_BUDGET})
                 AS k FROM embeddings),
    pairs AS (
      SELECT q.vec_id AS qid, e.vec_id,
             {_cos_sql('64')} AS cos64,
             {_cos_sql('8')} AS cos8,
             {_cos_sql('16')} AS cos16,
             {_cos_sql('32')} AS cos32
      FROM embeddings q CROSS JOIN n
      JOIN embeddings e ON q.vec_id <> e.vec_id
      WHERE q.vec_id % n.k = 0
    ),
    ranked AS (
      SELECT qid, vec_id,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cos64 DESC, vec_id) AS r64,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cos8 DESC, vec_id) AS r8,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cos16 DESC, vec_id) AS r16,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cos32 DESC, vec_id) AS r32
      FROM pairs
    ),
    top AS (
      SELECT qid,
             MAX(CASE WHEN r64 = 1 THEN vec_id END) AS t64,
             MAX(CASE WHEN r8  = 1 THEN vec_id END) AS t8,
             MAX(CASE WHEN r16 = 1 THEN vec_id END) AS t16,
             MAX(CASE WHEN r32 = 1 THEN vec_id END) AS t32
      FROM ranked GROUP BY qid
    )
    SELECT * FROM (
      SELECT CAST(8 AS BIGINT) AS prefix_dim,
             CAST(COUNT(*) AS BIGINT) AS n_queries,
             CAST(SUM(CASE WHEN t8 = t64 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_agree,
             ROUND(CAST(SUM(CASE WHEN t8 = t64 THEN 1 ELSE 0 END)
                        AS DOUBLE) / GREATEST(COUNT(*), 1), 6)
               AS agree_rate
      FROM top
      UNION ALL
      SELECT CAST(16 AS BIGINT), CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN t16 = t64 THEN 1 ELSE 0 END) AS BIGINT),
             ROUND(CAST(SUM(CASE WHEN t16 = t64 THEN 1 ELSE 0 END)
                        AS DOUBLE) / GREATEST(COUNT(*), 1), 6)
      FROM top
      UNION ALL
      SELECT CAST(32 AS BIGINT), CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN t32 = t64 THEN 1 ELSE 0 END) AS BIGINT),
             ROUND(CAST(SUM(CASE WHEN t32 = t64 THEN 1 ELSE 0 END)
                        AS DOUBLE) / GREATEST(COUNT(*), 1), 6)
      FROM top
    ) u
    """,
    doc="embed_matryoshka_recall's SCALE-BOUNDED twin — the 100 TB "
        "hatch as real code: the query subset is a FIXED BUDGET "
        f"(~{_MATRYOSHKA_QUERY_BUDGET} queries via the deterministic "
        "stride k = GREATEST(1, N DIV budget), computed IN-PLAN from a "
        "broadcast 1-row count, no driver-side action), so the pair "
        "frame grows LINEARLY with the corpus instead of the percent-"
        "subsample's quadratic |N/10| x N. The r13 committed bench "
        "measured that quadratic honestly (ratio ~94 on 10x rows) — "
        "this face is the answer, and it rides the sf1 block in its "
        "place. Same rounded-cosine argmax, same min-vec_id ties, same "
        "NULLIF zero-norm guard; with budget set to N DIV 10 the "
        "output is byte-identical to embed_matryoshka_recall (pinned "
        "in test_r13_faces)",
)
def embed_matryoshka_budget(spark, sf_dir,
                            budget: int = _MATRYOSHKA_QUERY_BUDGET):
    e = spread(T(spark, sf_dir, "embeddings"))
    k = e.agg(F.greatest(
        F.lit(1),
        F.expr(f"CAST(COUNT(*) DIV {int(budget)} AS BIGINT)"))
        .alias("k"))
    q = (e.crossJoin(F.broadcast(k))
         .filter(F.col("vec_id") % F.col("k") == 0)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv")))
    return _matryoshka_agreement(e, q)


# --------------------------------------------------------------------------
# r14: tokenizer-vocabulary coverage + quality-rule ablation
# --------------------------------------------------------------------------
_OOV_VOCAB_TOPN = 16   # tokenizer-vocabulary proxy: top-N corpus words


@query(
    "tokenizer_oov_rate",
    f"""
    WITH tok AS (
      SELECT source, UNNEST(string_split(text, ' ')) AS w FROM documents
    ),
    vocab AS (
      SELECT w FROM (
        SELECT w, COUNT(*) AS n FROM tok GROUP BY w
        ORDER BY n DESC, w ASC LIMIT {_OOV_VOCAB_TOPN}) v
    ),
    j AS (
      SELECT t.source, t.w,
             CASE WHEN v.w IS NULL THEN 1 ELSE 0 END AS oov
      FROM tok t LEFT JOIN vocab v ON t.w = v.w
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(oov) AS BIGINT) AS n_oov,
           CAST(COUNT(DISTINCT CASE WHEN oov = 1 THEN w END) AS BIGINT)
             AS n_oov_types,
           ROUND(CAST(SUM(oov) AS DOUBLE) / GREATEST(COUNT(*), 1), 6)
             AS oov_rate
    FROM j GROUP BY source
    """,
    doc="tokenizer-vocabulary coverage per source: fix the vocabulary "
        "to the global top-N words (the trained-tokenizer proxy, ties "
        "broken lexicographically) and report each source's "
        "out-of-vocabulary token rate and distinct OOV type count — "
        "the fit metric a tokenizer owner checks before committing a "
        "vocab to a new corpus mix (a source with high OOV rate "
        "fragments into bytes/unknowns and trains poorly; the "
        "per-source view says WHICH domain the vocabulary is failing). "
        "Sibling of tokenizer_fertility (tokens-per-word cost) and "
        "vocab_growth_curve (vocabulary saturation): fertility says "
        "how expensive encoding is, this says who falls off the vocab. "
        "Determinism: all counts integers, the rate is one guarded "
        "division ROUNDed; the top-N boundary ties on (count DESC, "
        "word ASC) in both engines. Scale: ONE scan collapses the "
        "token stream to the additive (source, word) count table "
        "(source_word_counts — the table the streaming twin "
        "oov_rate_sink maintains); the vocab is a TakeOrdered top-N "
        "over its word rollup (never a global sort) and is FIXED-SIZE "
        "by construction (N rows), so its broadcast is size-safe — "
        "unlike a data-derived model table — and the scoring join + "
        "per-source fold run on |sources| x |vocabulary| count rows, "
        "never the token stream (oov_rate_fold)",
)
def tokenizer_oov_rate(spark, sf_dir):
    return oov_rate_fold(
        source_word_counts(spread(T(spark, sf_dir, "documents"))))


def source_word_counts(docs):
    """Shared builder: the per-source word-count table (source, w, c)
    — the sufficient statistic for the whole OOV report (the vocabulary
    AND every per-source rate derive from it), and ADDITIVE across
    document batches, so the streaming twin (streaming/ops.
    oov_rate_sink) maintains THIS table. One explode + one
    map-side-combined hash-agg on (source, word)."""
    return (docs.select("source", F.explode(_words()).alias("w"))
            .groupBy("source", "w")
            .agg(F.count("*").cast("bigint").alias("c")))


def oov_rate_fold(swc):
    """The OOV report from the count table alone: the top-N vocabulary
    is re-derived from the summed counts (the vocabulary itself is NOT
    additive — a word can enter or leave the top-N as batches arrive —
    but the counts it is computed from are), then every per-source
    number folds from the same table: n_tokens = SUM(c), n_oov = SUM(c)
    over non-vocab words, n_oov_types = COUNT of non-vocab (source, w)
    rows (already distinct by construction). The scoring join touches
    |sources| x |vocabulary| count rows — never the token stream."""
    vocab = (swc.groupBy("w").agg(F.sum("c").alias("n"))
             .orderBy(F.desc("n"), F.asc("w")).limit(_OOV_VOCAB_TOPN)
             .select("w", F.lit(1).alias("in_vocab")))
    oov_c = F.when(F.col("in_vocab").isNull(), F.col("c")) \
        .otherwise(F.lit(0))
    oov_t = F.when(F.col("in_vocab").isNull(), F.lit(1)).otherwise(F.lit(0))
    return (swc.join(F.broadcast(vocab), "w", "left")
            .groupBy("source")
            .agg(F.sum("c").cast("bigint").alias("n_tokens"),
                 F.sum(oov_c).cast("bigint").alias("n_oov"),
                 F.sum(oov_t).cast("bigint").alias("n_oov_types"))
            .select("source", "n_tokens", "n_oov", "n_oov_types",
                    F.round(F.col("n_oov").cast("double")
                            / F.greatest(F.col("n_tokens"), F.lit(1)), 6)
                    .alias("oov_rate")))


# DuckDB twin of with_gopher_metrics' five rule flags (r1..r5 in
# GOPHER_RULES order, plus n_words for token accounting) — SHARED by
# quality_rule_ablation and quality_gate_tradeoff so the two tuning
# views can never disagree with each other about what the gate flags.
_GOPHER_FLAGS_SQL = """w AS (
      SELECT doc_id, string_split(text, ' ') AS ws,
             CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(LEN(REGEXP_EXTRACT_ALL(text, '[^\\w\\s]')) AS BIGINT)
               AS n_sym,
             CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text),
                  '\\b(the|a|an|and|or|of|to|in)\\b')) AS BIGINT)
               AS n_stop,
             CAST(LEN(LIST_DISTINCT(string_split(text, ' '))) AS BIGINT)
               AS n_dist
      FROM documents
    ),
    r AS (
      SELECT doc_id, n_words,
             CAST(n_words BETWEEN 50 AND 100000 AS INT) AS r1,
             CAST(ROUND(CAST(LIST_SUM(LIST_TRANSFORM(ws,
                    x -> LENGTH(x))) AS DOUBLE)
                    / GREATEST(n_words, 1), 4)
                  BETWEEN 3.0 AND 10.0 AS INT) AS r2,
             CAST(ROUND(CAST(n_sym AS DOUBLE) / GREATEST(n_words, 1), 4)
                  <= 0.1 AS INT) AS r3,
             CAST(n_stop >= 2 AS INT) AS r4,
             CAST(ROUND(1.0 - CAST(n_dist AS DOUBLE)
                        / GREATEST(n_words, 1), 4) <= 0.6 AS INT) AS r5
      FROM w
    )"""


@query(
    "quality_rule_ablation",
    f"""
    WITH {_GOPHER_FLAGS_SQL},
    f AS (SELECT r1, r2, r3, r4, r5,
                 5 - (r1 + r2 + r3 + r4 + r5) AS nf FROM r),
    u AS (
      SELECT 'r_word_count' AS rule, (1 - r1) AS fail,
             CASE WHEN r1 = 0 AND nf = 1 THEN 1 ELSE 0 END AS sole
      FROM f
      UNION ALL
      SELECT 'r_mean_word_len', (1 - r2),
             CASE WHEN r2 = 0 AND nf = 1 THEN 1 ELSE 0 END FROM f
      UNION ALL
      SELECT 'r_symbol_ratio', (1 - r3),
             CASE WHEN r3 = 0 AND nf = 1 THEN 1 ELSE 0 END FROM f
      UNION ALL
      SELECT 'r_stopwords', (1 - r4),
             CASE WHEN r4 = 0 AND nf = 1 THEN 1 ELSE 0 END FROM f
      UNION ALL
      SELECT 'r_dup_words', (1 - r5),
             CASE WHEN r5 = 0 AND nf = 1 THEN 1 ELSE 0 END FROM f
    )
    SELECT rule,
           CAST(SUM(fail) AS BIGINT) AS n_fail,
           CAST(SUM(sole) AS BIGINT) AS n_sole_fail,
           ROUND(CAST(SUM(fail) AS DOUBLE)
                 / GREATEST(COUNT(*), 1), 6) AS fail_share,
           ROUND(CAST(SUM(sole) AS DOUBLE)
                 / GREATEST(COUNT(*), 1), 6) AS sole_share
    FROM u GROUP BY rule
    """,
    doc="per-rule ablation of the Gopher quality gate: for each of the "
        "five rules, how many docs fail it (n_fail) and how many fail "
        "ONLY it (n_sole_fail — exactly the docs the corpus gets back "
        "if that one rule is dropped). quality_rule_stats reports the "
        "marginal failure counts; this face adds the ATTRIBUTION a "
        "gate owner tunes with: a rule with large n_fail but near-zero "
        "n_sole_fail is redundant (its rejections are co-flagged), "
        "while a large n_sole_fail rule is the binding constraint and "
        "deserves threshold scrutiny before it deletes data "
        "single-handedly. Rule construction shared verbatim with the "
        "gate (with_gopher_metrics), so the ablation can never drift "
        "from what the gate enforces. Determinism: flags and counts "
        "are integers; shares are guarded divisions ROUNDed. Scale: "
        "one zero-exchange scan computes the per-doc flags, a 5-way "
        "in-row explode (narrow) stacks (rule, fail, sole), and ONE "
        "map-side-combined hash-agg lands on 5 rows",
)
def quality_rule_ablation(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    flags = with_gopher_metrics(d.select("doc_id", "text"))
    tot = sum((F.col(a) for a in GOPHER_RULES[1:]),
              F.col(GOPHER_RULES[0]))
    stacked = (flags
               .withColumn("nf", (F.lit(5) - tot).cast("int"))
               .select(F.explode(F.array(*[
                   F.struct(F.lit(r).alias("rule"),
                            (1 - F.col(r)).alias("fail"),
                            F.when((F.col(r) == 0) & (F.col("nf") == 1), 1)
                            .otherwise(0).alias("sole"))
                   for r in GOPHER_RULES])).alias("p"))
               .select("p.rule", "p.fail", "p.sole"))
    return (stacked.groupBy("rule")
            .agg(F.sum("fail").cast("bigint").alias("n_fail"),
                 F.sum("sole").cast("bigint").alias("n_sole_fail"),
                 F.round(F.sum("fail").cast("double")
                         / F.greatest(F.count("*"), F.lit(1)), 6)
                 .alias("fail_share"),
                 F.round(F.sum("sole").cast("double")
                         / F.greatest(F.count("*"), F.lit(1)), 6)
                 .alias("sole_share")))


# --------------------------------------------------------------------------
# r14 second batch: bounded-duplication keep policy + word burstiness
# --------------------------------------------------------------------------
_CLUSTER_CAP = 2   # copies of an exact-duplicate cluster a mix may keep


@query(
    "dedup_cluster_cap",
    f"""
    WITH f AS (
      SELECT doc_id,
             MD5(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g')))) AS fp
      FROM documents
    ),
    r AS (
      SELECT doc_id, fp,
             CAST(COUNT(*) OVER (PARTITION BY fp) AS BIGINT)
               AS cluster_size,
             CAST(ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id)
               AS BIGINT) AS copy_rank
      FROM f
    )
    SELECT doc_id, fp, cluster_size, copy_rank,
           CAST(copy_rank <= {_CLUSTER_CAP} AS INT) AS kept
    FROM r
    """,
    doc="bounded-duplication keep policy (the data-constrained-scaling "
        "regime, Muennighoff et al. 2023, 'Scaling Data-Constrained "
        "Language Models': when fresh data is the bottleneck, a few "
        "EPOCHS of repetition are nearly as good as new data — so the "
        "right dedup is often 'keep up to K copies', not 'keep 1'): "
        "every document gets its exact-duplicate cluster id (the SAME "
        "normalized md5 fingerprint dedup_exact groups on, so the two "
        "faces see identical clusters), the cluster size, its "
        "deterministic copy rank (doc_id order), and kept = rank <= K. "
        "K=1 degenerates to dedup_exact's canonical-only policy; the "
        "K=2 default keeps bounded repetition while still cutting "
        "heavy-tail cluster mass (dedup_cluster_stats shows the mass). "
        "Determinism: md5 is identical hex in both engines; ranks tie "
        "on doc_id. Scale: ONE shuffle on the fingerprint; the window "
        "partitions on the HIGH-cardinality fp key (per-task work = "
        "cluster size, bounded by the duplication factor, never a "
        "single-task-per-group sort)",
)
def dedup_cluster_cap(spark, sf_dir):
    d = spread(T(spark, sf_dir, "documents"))
    fp = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    f = d.select("doc_id", fp.alias("fp"))
    w = Window.partitionBy("fp")
    wr = w.orderBy("doc_id")
    return (f.select(
        "doc_id", "fp",
        F.count("*").over(w).cast("bigint").alias("cluster_size"),
        F.row_number().over(wr).cast("bigint").alias("copy_rank"))
        .withColumn("kept",
                    (F.col("copy_rank") <= _CLUSTER_CAP).cast("int")))


@query(
    "corpus_word_burstiness",
    """
    WITH dc AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w
            FROM documents) t
      GROUP BY doc_id, w
    ),
    s AS (
      SELECT w,
             CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(c) AS BIGINT) AS tf,
             CAST(SUM(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))
               AS DECIMAL(38,0)) AS sc2
      FROM dc GROUP BY w
    )
    SELECT w, df, tf,
           ROUND(CAST(tf AS DOUBLE) / df, 6) AS mean_tf,
           ROUND(CAST(CAST(df AS DECIMAL(38,0)) * sc2
                      - CAST(tf AS DECIMAL(38,0)) * CAST(tf AS DECIMAL(38,0))
                      AS DOUBLE)
                 / NULLIF((CAST(df AS DOUBLE) - 1.0) * CAST(tf AS DOUBLE),
                          0), 6) AS fano
    FROM s
    """,
    doc="per-word burstiness profile (Church & Gale 1995: content words "
        "are BURSTY — they recur within the documents that use them — "
        "while function words spread uniformly): for every vocabulary "
        "word, document frequency, total frequency, mean in-document "
        "rate tf/df, and the Fano factor var/mean over the documents "
        "that CONTAIN the word ((df*sum(c^2) - tf^2) / ((df-1)*tf), "
        "NULL for df=1 where variance is undefined). Fano ~ 1 = "
        "Poisson/function word; >> 1 = topical/bursty — the "
        "distribution-level signal behind stopword derivation, "
        "df-cut tuning for the shingle faces, and TF-IDF sanity, "
        "beside vocab_zipf_slope's rank-frequency law. Determinism: "
        "per-doc counts are integers, both moment sums run in "
        "DECIMAL(38,0) (the embed_dim_variance idiom — order-free "
        "exact integer arithmetic, overflow-safe at corpus scale), "
        "and each output is ONE guarded division ROUNDed to 6. "
        "Scale: one explode + two map-side-combined hash-aggs — "
        "(doc, word) then word — shuffle volume bounded by the "
        "per-doc distinct vocabulary, output vocabulary-sized",
)
def corpus_word_burstiness(spark, sf_dir):
    d = spread(T(spark, sf_dir, "documents"))
    dc = (d.select("doc_id", F.explode(_words()).alias("w"))
          .groupBy("doc_id", "w")
          .agg(F.count("*").cast("bigint").alias("c")))
    cd = F.col("c").cast("decimal(38,0)")
    s = (dc.groupBy("w")
         .agg(F.count("*").cast("bigint").alias("df"),
              F.sum("c").cast("bigint").alias("tf"),
              F.sum(cd * cd).cast("decimal(38,0)").alias("sc2")))
    num = (F.col("df").cast("decimal(38,0)") * F.col("sc2")
           - F.col("tf").cast("decimal(38,0)")
           * F.col("tf").cast("decimal(38,0)")).cast("double")
    den = (F.col("df").cast("double") - F.lit(1.0)) \
        * F.col("tf").cast("double")
    return s.select(
        "w", "df", "tf",
        F.round(F.col("tf").cast("double") / F.col("df"), 6)
        .alias("mean_tf"),
        F.round(F.when(den != 0, num / den), 6).alias("fano"))


# --------------------------------------------------------------------------
# r14 third batch: MRR@10 ranking eval
# --------------------------------------------------------------------------
_MRR_K = 10
_MRR_REL_MIN = 2   # "relevant" = graded rel >= 2 (i.e. tf >= 2)


@query(
    "rank_mrr_eval",
    f"""
    WITH q(term) AS (VALUES {_TERMS_SQL}),
    m AS (
      SELECT q.term, d.doc_id,
             CAST(LEN(LIST_FILTER(STRING_SPLIT(d.text, ' '),
                                  w -> w = q.term)) AS BIGINT) AS tf,
             CAST(LEN(STRING_SPLIT(d.text, ' ')) AS BIGINT) AS n_tokens
      FROM documents d CROSS JOIN q
    ),
    hits AS (
      SELECT term, doc_id, LEAST(tf, 3) AS rel,
             CAST((tf * 10000) // GREATEST(n_tokens, 1) AS BIGINT)
               AS score_key
      FROM m WHERE tf >= 1
    ),
    ranked AS (
      SELECT term, doc_id, rel,
             ROW_NUMBER() OVER (PARTITION BY term
                                ORDER BY score_key DESC, doc_id) AS pos
      FROM hits
    ),
    fr AS (
      SELECT term, CAST(MIN(pos) AS BIGINT) AS first_rel_pos
      FROM ranked
      WHERE rel >= {_MRR_REL_MIN} AND pos <= {_MRR_K}
      GROUP BY term
    )
    SELECT r.term,
           CAST(COUNT(*) AS BIGINT) AS n_matched,
           MAX(f.first_rel_pos) AS first_rel_pos,
           ROUND(COALESCE(1.0 / MAX(f.first_rel_pos), 0.0), 6) AS rr10
    FROM ranked r LEFT JOIN fr f ON r.term = f.term
    GROUP BY r.term
    """,
    doc=f"MRR@{_MRR_K} (mean reciprocal rank) retrieval eval — the "
        "first-relevant-hit metric beside rank_ndcg_eval's graded-gain "
        "one (MRR is the standard number for known-item / navigational "
        "search where ONE right answer exists; NDCG for graded result "
        "lists — a ranking tier reports both). Judged system, graded "
        "truth, and rank rule are SHARED VERBATIM with rank_ndcg_eval "
        "(_term_ranked: length-normalized integer tf score, "
        "bucketed_range_rank positions), so the two evals can never "
        f"disagree; 'relevant' = grade >= {_MRR_REL_MIN}. Per term: "
        "match count, the first relevant position within the top-"
        f"{_MRR_K} (NULL when none), and rr = 1/first_rel_pos (0.0 "
        "when none). Determinism: positions are integers, rr is ONE "
        "division, ROUNDed. Scale: everything downstream of the shared "
        "ranked frame is |terms|-sized; the first-relevant fold is a "
        "MIN over a pos-filtered slice, never a second sort",
)
def rank_mrr_eval(spark, sf_dir):
    ranked = _term_ranked(T(spark, sf_dir, "documents"))
    fr = (ranked.filter((F.col("rel") >= _MRR_REL_MIN)
                        & (F.col("pos") <= _MRR_K))
          .groupBy("term")
          .agg(F.min("pos").cast("bigint").alias("first_rel_pos")))
    per = ranked.groupBy("term").agg(
        F.count("*").cast("bigint").alias("n_matched"))
    return (per.join(fr, "term", "left")
            .select("term", "n_matched", "first_rel_pos",
                    F.round(F.coalesce(F.lit(1.0)
                                       / F.col("first_rel_pos"),
                                       F.lit(0.0)), 6).alias("rr10")))


# --------------------------------------------------------------------------
# r14 third batch: gate-strictness tradeoff + vocabulary-size sweep
# --------------------------------------------------------------------------
@query(
    "quality_gate_tradeoff",
    f"""
    WITH {_GOPHER_FLAGS_SQL},
    f AS (SELECT n_words, 5 - (r1 + r2 + r3 + r4 + r5) AS nf FROM r),
    st AS (SELECT n_words,
                  CAST(UNNEST(RANGE(nf, 6)) AS INT) AS max_fail
           FROM f),
    g AS (SELECT max_fail,
                 CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
                 CAST(SUM(n_words) AS BIGINT) AS n_tokens_kept
          FROM st GROUP BY max_fail)
    SELECT max_fail, n_docs_kept, n_tokens_kept,
           ROUND(CAST(n_docs_kept AS DOUBLE)
                 / GREATEST(MAX(n_docs_kept) OVER (), 1), 6)
             AS doc_share,
           ROUND(CAST(n_tokens_kept AS DOUBLE)
                 / GREATEST(MAX(n_tokens_kept) OVER (), 1), 6)
             AS token_share
    FROM g
    """,
    doc="Gopher-gate STRICTNESS tradeoff curve: for every admission "
        "threshold k = 0..5 ('keep docs failing at most k rules'), how "
        "many documents and word-tokens survive, and their share of "
        "the corpus — the planning view a gate owner reads BEFORE "
        "committing to strict (k=0, quality_gopher_rules' passes bit) "
        "vs lenient filtering, the rule-count sibling of "
        "quality_survival_curve's score-cut sweep (that face sweeps a "
        "lexical-diversity score; this one sweeps the gate's own "
        "failure count). Rule construction shared verbatim with the "
        "gate (with_gopher_metrics / _GOPHER_FLAGS_SQL, like "
        "quality_rule_ablation), so the curve prices exactly the gate "
        "that will run. Determinism: counts and token sums are "
        "integers; shares are guarded divisions by the k=5 totals "
        "(the MAX over the monotone 6-row curve) ROUNDed. Scale: one "
        "zero-exchange scan computes per-doc flags, each doc explodes "
        "to its <= 6 qualifying thresholds IN-ROW (narrow — no grid "
        "join, no completion pass), ONE map-side-combined hash-agg "
        "lands on <= 6 rows, and the share windows run on that "
        "metadata-sized table",
)
def quality_gate_tradeoff(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    flags = with_gopher_metrics(d.select("doc_id", "text"))
    tot = sum((F.col(a) for a in GOPHER_RULES[1:]),
              F.col(GOPHER_RULES[0]))
    per = flags.select(F.col("n_words"),
                       (F.lit(5) - tot).cast("int").alias("nf"))
    st = per.select(
        "n_words",
        F.explode(F.sequence(F.col("nf"), F.lit(5))).alias("max_fail"))
    g = (st.groupBy("max_fail")
         .agg(F.count("*").cast("bigint").alias("n_docs_kept"),
              F.sum("n_words").cast("bigint").alias("n_tokens_kept")))
    wall = (Window.partitionBy()
            .rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing))   # <= 6 rows
    return g.select(
        "max_fail", "n_docs_kept", "n_tokens_kept",
        F.round(F.col("n_docs_kept").cast("double")
                / F.greatest(F.max("n_docs_kept").over(wall), F.lit(1)),
                6).alias("doc_share"),
        F.round(F.col("n_tokens_kept").cast("double")
                / F.greatest(F.max("n_tokens_kept").over(wall), F.lit(1)),
                6).alias("token_share"))


_VOCAB_SWEEP_CUTS = (4, 8, 16, 32, 64)   # candidate vocabulary sizes


@query(
    "tokenizer_vocab_sweep",
    f"""
    WITH tok AS (
      SELECT UNNEST(string_split(text, ' ')) AS w FROM documents
    ),
    wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY w),
    rk AS (SELECT w, tf,
                  ROW_NUMBER() OVER (ORDER BY tf DESC, w ASC) AS rnk
           FROM wc),
    tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS total_tf FROM wc),
    cuts AS (SELECT UNNEST([{', '.join(str(n) for n in _VOCAB_SWEEP_CUTS)}])
               AS vocab_n),
    st AS (SELECT c.vocab_n, r.tf
           FROM rk r JOIN cuts c ON r.rnk <= c.vocab_n)
    SELECT CAST(st.vocab_n AS INT) AS vocab_n,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(st.tf) AS BIGINT) AS covered_tf,
           t.total_tf,
           ROUND(CAST(SUM(st.tf) AS DOUBLE) / GREATEST(t.total_tf, 1), 6)
             AS coverage
    FROM st CROSS JOIN tot t
    GROUP BY st.vocab_n, t.total_tf
    """,
    doc=f"vocabulary-SIZE sweep: token-mass coverage of the global "
        f"top-N word vocabulary for N in {_VOCAB_SWEEP_CUTS} — the "
        "sizing curve a tokenizer owner reads to pick the vocab size "
        "BEFORE training it (coverage(N) climbs steeply then "
        "saturates; the knee prices each extra vocab entry in OOV "
        "reduction). Completes the tokenizer tier: tokenizer_oov_rate "
        "fixes ONE N and attributes OOV per source, this face sweeps N "
        "globally; same (count DESC, word ASC) vocabulary rule, so "
        "sweep point N=16 reproduces the oov face's vocabulary "
        "exactly. Determinism: counts integers, rank ties on the word, "
        "coverage is one guarded division ROUNDed. Scale: the token "
        "stream collapses to the vocabulary-sized word-count table "
        "(persisted — BOTH the rank pass and the total-mass fold read "
        "it, and Spark plans no ReusedExchange across that split), "
        "ranks come from bucketed_range_rank with cuts='approx' "
        "(approx-quantile buckets, because Zipf counts CLUSTER at "
        "tf=1 — a fixed grid would put the whole tail in one task; "
        "ranks are cut-invariant), each word explodes to its <= "
        f"{len(_VOCAB_SWEEP_CUTS)} qualifying cutoffs in-row, and ONE "
        f"hash-agg lands on {len(_VOCAB_SWEEP_CUTS)} rows",
)
def tokenizer_vocab_sweep(spark, sf_dir):
    from .core import fresh_persist
    from .dataprep import bucketed_range_rank

    d = spread(T(spark, sf_dir, "documents"))
    wc = (d.select(F.explode(_words()).alias("w"))
          .groupBy("w").agg(F.count("*").cast("bigint").alias("tf")))
    wc = fresh_persist("vocab_sweep_wc", wc)
    # key_max is unused under cuts='approx' (grid-path knob only)
    ranked = bucketed_range_rank(wc, [], "tf", "w", key_max=1,
                                 cuts="approx", out_col="rnk")
    cut_arr = F.array(*[F.lit(n) for n in _VOCAB_SWEEP_CUTS])
    st = ranked.select(
        "tf",
        F.explode(F.filter(cut_arr,
                           lambda n: n >= F.col("rnk"))).alias("vocab_n"))
    g = (st.groupBy("vocab_n")
         .agg(F.count("*").cast("bigint").alias("n_types"),
              F.sum("tf").cast("bigint").alias("covered_tf")))
    tot = wc.agg(F.sum("tf").cast("bigint").alias("total_tf"))
    return (g.crossJoin(F.broadcast(tot))
            .select(F.col("vocab_n").cast("int").alias("vocab_n"),
                    "n_types", "covered_tf", "total_tf",
                    F.round(F.col("covered_tf").cast("double")
                            / F.greatest(F.col("total_tf"), F.lit(1)), 6)
                    .alias("coverage")))
