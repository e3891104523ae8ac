"""Training-corpus curation queries, round 4 additions: SemDeDup-style
semantic dedup (pairs + keep-list), TF-IDF term salience, bigram
language-model familiarity scoring, temperature-based mixture
rebalancing, MinHash estimation accuracy, fuzzy AND bloom-filter
decontamination, a single-pass ANALYZE profile, a fixed-bounds
histogram, PQ / IVFPQ ANN, a hashed-feature quality classifier, and
BPE tokenizer induction.

These extend the LLM-pipeline surface in queries/llm.py with the
curation shapes a large pretraining-data build still needed from this
engine: cluster-bucketed embedding dedup (the scale path semantic
dedup actually ships with, vs. the exact/LSH pair in llm.py), salience
ranking for keyword extraction, corpus-frequency scoring as a log-free
perplexity proxy, the ``(n_max/n_s)^(1/T)`` source-rebalancing rule
used for multilingual / multi-source mixtures, an error-band grade of
the MinHash sketch the near-dup filters rest on, near-verbatim
eval-leak detection over that same sketch, compressed-code similarity
search, model-scored filtering, and in-engine tokenizer induction.

Float discipline (see q_search_bm25): every double in a graded column
is produced by a short, explicitly-ordered chain of IEEE-exact-rounded
ops (integer casts, one multiply, one divide, sqrt) that Spark and
DuckDB compute bit-identically; no log(), no cross-row float sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fortymhz_spark.operators import similarity as sim
from fortymhz_spark.operators import text as tx
from fortymhz_spark.operators.partitioning import spread_scan
from fortymhz_spark.queries.llm import (
    _SQL_DOT,
    _SQL_NORM,
    _SQL_SHINGLES,
    _SQL_SHINGLES_N,
    _SQL_TOKENS,
)
from fortymhz_spark.queries.registry import Registry, build_once, scratch_dir
from fortymhz_spark.sources.batch import load_table

reg = Registry()
QUERIES = reg.queries
ORACLE = reg.oracle


# ---------------------------------------------------------------------------
# SemDeDup: cluster-bucketed semantic near-dup pairs, graded (like
# q_emb_near_dup_lsh_subset) as a VERIFIED SUBSET of the exact pairs —
# per-pair `missing_from_exact` flags grade precision structurally,
# while recall over the cell partitioning is an aggregate bound.
# ---------------------------------------------------------------------------
@reg.query(
    "q_emb_semantic_dedup",
    oracle=f"""
    SELECT
      a.vec_id AS id_a,
      b.vec_id AS id_b,
      {_SQL_DOT.format(a='a.embedding', b='b.embedding')}
        / ({_SQL_NORM.format(a='a.embedding')} * {_SQL_NORM.format(a='b.embedding')}) AS cosine,
      FALSE AS missing_from_exact,
      TRUE AS recall_ok
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_SQL_DOT.format(a='a.embedding', b='b.embedding')}
        / ({_SQL_NORM.format(a='a.embedding')} * {_SQL_NORM.format(a='b.embedding')}) >= 0.45
    ORDER BY id_a, id_b
    """,
)
def q_emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup pairs from the k-means-cell candidate
    generator (operators/similarity.py::semantic_near_dup_pairs),
    joined against the exact all-pairs ground truth in-plan.

    Grading mirrors q_emb_near_dup_lsh_subset: PRECISION is structural
    (every emitted pair is exact-cosine-verified, so
    ``missing_from_exact`` is always FALSE and a broken verify step
    flips a cell); RECALL over the cell partitioning is an aggregate
    ``>= 0.8`` bound — a pair is only missed when its two vectors
    share none of their top-2 probed cells, and the fixtures' near-dup
    pairs are tight enough that measured recall is 1.0 at sf0.001 and
    sf0.01."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = sim.cosine_near_dup_pairs(emb, threshold=0.45)
    sem = sim.semantic_near_dup_pairs(
        emb, threshold=0.45, n_cells=8, probes=2
    ).select("id_a", "id_b", F.lit(True).alias("__sem__"))
    matched = exact.join(sem, ["id_a", "id_b"], "full").select(
        "id_a",
        "id_b",
        "cosine",
        F.col("cosine").isNull().alias("missing_from_exact"),
        F.coalesce("__sem__", F.lit(False)).alias("found"),
    )
    w_all = Window.partitionBy()
    hits = F.sum(
        F.when(~F.col("missing_from_exact"), F.col("found").cast("long"))
    ).over(w_all)
    base = F.sum((~F.col("missing_from_exact")).cast("long")).over(w_all)
    return (
        matched.withColumn("recall_ok", hits >= base * F.lit(0.8))
        .select("id_a", "id_b", "cosine", "missing_from_exact", "recall_ok")
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# TF-IDF term salience: top-3 terms per document
# ---------------------------------------------------------------------------
@reg.query(
    "q_docs_tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_SQL_TOKENS.format(t='lower(text)')} AS toks
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
      GROUP BY 1, 2
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             CAST(tf.tf * n.n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE)
               AS score
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, score, term_rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS term_rank
      FROM scored
    )
    WHERE term_rank <= 3
    ORDER BY doc_id, term_rank
    """,
)
def q_docs_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 salient terms under TF-IDF with the log-free
    idf ``N/df``: score = tf x N / df computed as one exact BIGINT
    product and one double division, so Spark and DuckDB agree
    bit-for-bit (same reasoning as q_search_bm25's log-free idf).

    Scale shape: the explode shuffles once on (doc_id, term) for tf;
    document frequency is a second shuffle on term with map-side
    partial counts; the tf-df join hash-partitions on term (the vocab
    is data-sized at 100 TB — no broadcast); N is a 1-row broadcast
    cross-join; ranking is a per-doc window.  No step is quadratic and
    no float crosses a row boundary."""
    docs = load_table(spark, sf_dir, "documents")
    # round-13: tokenize+explode runs on the scan's partitioning — one
    # task for a single-file corpus; no-op at scale (spread_scan)
    tf = (
        spread_scan(docs)
        .select("doc_id", F.explode(tx.tokens(F.lower(F.col("text")))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df").cast("double")).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= 3)
        .orderBy("doc_id", "term_rank")
    )


# ---------------------------------------------------------------------------
# bigram LM familiarity: log-free perplexity proxy
# ---------------------------------------------------------------------------
@reg.query(
    "q_docs_bigram_familiarity",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_SQL_TOKENS.format(t='lower(text)')} AS toks
      FROM documents
    ),
    occ AS (
      SELECT doc_id, unnest(
        list_transform(range(1, len(toks)),
                       i -> toks[i::INT] || ' ' || toks[(i+1)::INT])
      ) AS bg
      FROM tok
    ),
    bgdf AS (
      SELECT bg, COUNT(*) AS df
      FROM (SELECT DISTINCT doc_id, bg FROM occ)
      GROUP BY 1
    )
    SELECT
      occ.doc_id,
      COUNT(*) AS n_bigrams,
      CAST(SUM(bgdf.df) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        AS familiarity
    FROM occ JOIN bgdf USING (bg)
    GROUP BY 1
    ORDER BY doc_id
    """,
)
def q_docs_bigram_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document corpus familiarity: the mean document frequency of
    the doc's bigram OCCURRENCES (ordered, non-distinct —
    operators/text.py::ngram_list) — a log-free n-gram-LM perplexity
    proxy: boilerplate-heavy documents score high, out-of-distribution
    gibberish scores near 1.  All-integer until one final division, so
    the oracle comparison is exact.

    Scale shape: two shuffles (distinct (doc, bigram) -> df on bigram;
    occurrence-df join on bigram) plus the per-doc aggregate; the
    bigram table is data-sized, so the join stays hash-partitioned.
    Documents with fewer than 2 tokens contribute no rows (an LM has
    nothing to score)."""
    docs = load_table(spark, sf_dir, "documents")
    # round-13: the bigram build+explode (used by BOTH branches below)
    # runs on the scan's partitioning — spread first (no-op at scale)
    occ = spread_scan(docs).select(
        "doc_id", F.explode(tx.ngram_list(F.col("text"), 2)).alias("bg")
    )
    bgdf = (
        occ.dropDuplicates(["doc_id", "bg"])
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    return (
        occ.join(bgdf, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (
                F.sum("df").cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("familiarity"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# temperature-based mixture rebalancing (T = 2)
# ---------------------------------------------------------------------------
@reg.query(
    "q_mixture_temperature",
    oracle="""
    WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
    m AS (SELECT MAX(n_docs) AS n_max FROM c)
    SELECT
      source,
      n_docs,
      sqrt(CAST(n_max AS DOUBLE) / CAST(n_docs AS DOUBLE))
        AS upsample_factor,
      CAST(FLOOR(CAST(n_docs AS DOUBLE)
                 * sqrt(CAST(n_max AS DOUBLE) / CAST(n_docs AS DOUBLE)))
           AS BIGINT) AS expected_rows
    FROM c CROSS JOIN m
    ORDER BY source
    """,
)
def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source temperature-T upsampling factors with T = 2 — the
    ``(n_max/n_s)^(1/T)`` rule multilingual mixtures use to flatten
    source skew without letting tiny sources dominate.  T = 2 makes
    the exponent a plain ``sqrt``, which IEEE 754 requires to be
    correctly rounded, so the factor is one exact division + one exact
    sqrt in both engines — the same determinism trick as the log-free
    BM25 idf (a general ``pow(x, 1/T)`` would hostage the oracle to
    libm).

    Shape: one aggregate on source, a 5-row window max, and per-row
    arithmetic — the output is mixture-table-sized, never data-sized.
    Complements q_mixture_upsample (which materializes the resampled
    rows for a FIXED factor table): this query derives the factors."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    n_max = F.max("n_docs").over(Window.partitionBy())
    factor = F.sqrt(n_max.cast("double") / F.col("n_docs").cast("double"))
    return (
        counts.withColumn("upsample_factor", factor)
        .withColumn(
            "expected_rows",
            F.floor(
                F.col("n_docs").cast("double") * F.col("upsample_factor")
            ).cast("long"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# MinHash Jaccard ESTIMATION accuracy — sketch-error grading for the
# near-dup sketch itself (the q_sketch_cardinality pattern applied to
# MinHash): the plan computes the lane-agreement estimate AND the exact
# Jaccard side by side and emits a boolean asserting the estimate sits
# inside the estimator's error band.  The xxhash64 lanes are not
# SQL-portable, so the estimate can never hash-match an oracle value —
# but the exact Jaccard and the band boolean can, which grades the
# sketch's accuracy contract rather than its bit pattern.
# ---------------------------------------------------------------------------
_MH_LANES = 64
# 3-shingle Jaccard >= 0.7 pairs; sigma = sqrt(J(1-J)/64) <= 0.0573 at
# J=0.7.  0.25 is > 4 sigma — loose enough to be regeneration-proof,
# tight enough that a broken lane (hash seed drift, min over the wrong
# column) fails: a decorrelated signature estimates ~2^-64, error ~0.7.
_MH_BAND = 0.25


@reg.query(
    "q_docs_minhash_estimate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS tk
      FROM documents
    ),
    ws AS (
      SELECT doc_id, {_SQL_SHINGLES.format(toks='tk')} AS w FROM toks
    )
    SELECT
      a.doc_id AS id_a,
      b.doc_id AS id_b,
      CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
        / (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) AS jaccard,
      TRUE AS est_within_band
    FROM ws a JOIN ws b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
        / (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) >= 0.7
    ORDER BY id_a, id_b
    """,
)
def q_docs_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every true near-dup pair (exact 3-shingle Jaccard >= 0.7),
    estimate Jaccard from 64-lane MinHash signature agreement
    (operators/dedup.py::minhash_signatures) and grade
    ``|estimate - exact| <= 0.25`` (``_MH_BAND``) in-plan.

    Scale shape: signatures are one explode + min-aggregate pass
    (docs x 64 longs of shuffle); the pair set comes from the banded
    LSH + exact verify (minhash_near_dups, proven green at this
    threshold); the estimate join moves only (id, 64-long array) per
    side.  At 100 TB the estimate REPLACES the exact verify (that is
    the point of the sketch) — this query is the accuracy canary that
    justifies doing so."""
    docs = load_table(spark, sf_dir, "documents")
    from fortymhz_spark.operators import dedup as dd

    # round-13: one lane-min pass feeds BOTH the pair generator (first
    # 32 lanes — the indexed hash family makes them identical to a
    # standalone 32-lane pass) and the 64-lane signatures; the separate
    # minhash_near_dups + minhash_signatures calls cost two shingle
    # explode + min-aggregate passes for byte-identical outputs
    # (operators/dedup.py::minhash_pairs_and_signatures).
    pairs, sigs = dd.minhash_pairs_and_signatures(
        docs, threshold=0.7, bands=16, sig_hashes=_MH_LANES
    )
    agree = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda a, b: a == b), lambda x: x)
    )
    est = agree.cast("double") / F.lit(float(_MH_LANES))
    return (
        pairs.join(
            sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")),
            ["id_a"],
        )
        .join(
            sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")),
            ["id_b"],
        )
        .select(
            "id_a",
            "id_b",
            "jaccard",
            (F.abs(est - F.col("jaccard")) <= F.lit(_MH_BAND)).alias(
                "est_within_band"
            ),
        )
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# FUZZY benchmark decontamination — the MinHash companion to
# q_docs_decontaminate's exact shingle-overlap flagging: near-verbatim
# eval leakage (reworded boilerplate, light paraphrase) shares most
# but not all shingles, so the production filter matches on banded
# signatures and verifies with exact Jaccard.  Recall at tau=0.7 with
# 16 bands of 2 lanes is the same operating point the already-graded
# q_docs_minhash_near_dups runs: per-pair banding MISS probability is
# (1-J^2)^16 ~ 2e-5 at J=0.7 (lower for the fixtures' tighter pairs),
# so grading cell-for-cell against the exhaustive SQL pair oracle
# carries ~1e-4 failure odds per fixture regeneration — the precision
# side is structural (every emitted pair is exact-verified), the
# recall side is probabilistic with the same accepted odds as the
# sibling query's two green gradings.
# ---------------------------------------------------------------------------
_EVAL_MOD = 7


@reg.query(
    "q_docs_decontaminate_fuzzy",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS tk
      FROM documents
    ),
    ws AS (
      SELECT doc_id, {_SQL_SHINGLES.format(toks='tk')} AS w FROM toks
    ),
    pairs AS (
      SELECT
        a.doc_id AS id_a,
        b.doc_id AS id_b,
        CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
          / (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) AS jaccard
      FROM ws a JOIN ws b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
          / (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) >= 0.7
    )
    SELECT
      CASE WHEN id_a % {_EVAL_MOD} = 0 THEN id_b ELSE id_a END AS train_id,
      CASE WHEN id_a % {_EVAL_MOD} = 0 THEN id_a ELSE id_b END AS eval_id,
      jaccard
    FROM pairs
    WHERE (id_a % {_EVAL_MOD} = 0) <> (id_b % {_EVAL_MOD} = 0)
    ORDER BY train_id, eval_id
    """,
)
def q_docs_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training documents within 3-shingle Jaccard >= 0.7 of any eval
    document (eval split: doc_id % 7 == 0), found via banded MinHash —
    fuzzy decontamination, catching the near-verbatim leakage that
    exact shingle-set overlap (q_docs_decontaminate) over-counts and
    pure equality misses.

    Scale shape: identical to minhash_near_dups (one signature pass,
    bucket self-join on (band, bucket), exact verify on the candidate
    set); the eval/train split is a post-filter on the verified pairs,
    so at 100 TB the eval side rides the SAME index as the corpus —
    no second signature pass and no broadcast of eval text."""
    from fortymhz_spark.operators import dedup as dd

    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_near_dups(docs, threshold=0.7, bands=16)
    a_eval = F.col("id_a") % _EVAL_MOD == 0
    b_eval = F.col("id_b") % _EVAL_MOD == 0
    return (
        pairs.filter(a_eval != b_eval)
        .select(
            F.when(a_eval, F.col("id_b")).otherwise(F.col("id_a")).alias("train_id"),
            F.when(a_eval, F.col("id_a")).otherwise(F.col("id_b")).alias("eval_id"),
            "jaccard",
        )
        .orderBy("train_id", "eval_id")
    )


# ---------------------------------------------------------------------------
# ANALYZE-style table profile — the stats pass a warehouse runs before
# planning (null counts, NDVs, min/max) as ONE scan + unpivot
# ---------------------------------------------------------------------------
# integer/varchar columns only: their canonical string forms agree
# between Spark and DuckDB (the fixture's o_orderdate is a TIMESTAMP
# whose string form is loader-dependent; doubles differ in repr)
_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_orderpriority",
)


@reg.query(
    "q_profile_orders",
    oracle=" UNION ALL ".join(
        f"""
        SELECT
          '{c}' AS "column",
          COUNT(*) AS n_rows,
          CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_nulls,
          COUNT(DISTINCT {c}) AS n_distinct,
          CAST(MIN({c}) AS VARCHAR) AS min_value,
          CAST(MAX({c}) AS VARCHAR) AS max_value
        FROM orders
        """
        for c in _PROFILE_COLS
    )
    + ' ORDER BY "column"',
)
def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profile of ``orders``
    (operators/profile.py::profile_table): every column's null count,
    exact NDV, and stringified min/max from ONE aggregate — the
    scan-count discipline ANALYZE needs at 100 TB (six per-column
    scans would read the table six times; the fused aggregate reads it
    once and Catalyst keeps all partial aggregates in the same pass).
    Profiled columns are integer/varchar only — see _PROFILE_COLS."""
    from fortymhz_spark.operators.profile import profile_table

    orders = load_table(spark, sf_dir, "orders")
    return profile_table(orders, list(_PROFILE_COLS))


@reg.query(
    "q_profile_orders_approx",
    oracle=" UNION ALL ".join(
        f"""
        SELECT
          '{c}' AS "column",
          COUNT(*) AS n_rows,
          CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_nulls,
          CAST(MIN({c}) AS VARCHAR) AS min_value,
          CAST(MAX({c}) AS VARCHAR) AS max_value,
          TRUE AS ndv_in_band
        FROM orders
        """
        for c in _PROFILE_COLS
    )
    + ' ORDER BY "column"',
)
def q_profile_orders_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of the ANALYZE pass:
    ``profile_table(approx=True)`` swaps exact ``countDistinct`` for
    the HLL++ sketch, removing the RewriteDistinctAggregates Expand
    that replicates every input row (columns+1)× in the exact twin
    (q_profile_orders) — all sketches fold in ONE partial-agg pass at
    constant memory (plan asserted Expand-free in
    tests/test_properties.py).  Approx NDV is engine-specific, so the
    grade is the established error-band form: exact row/null/min/max
    stats cell-for-cell plus ``ndv_in_band`` — |HLL estimate − exact
    NDV| within 3× the rsd=0.05 sigma (+2 absolute for the sparse-mode
    tiny-NDV columns), against the exact NDV the oracle can compute.
    Both profile passes here are scan-bounded; the exact twin exists
    only to ground the band."""
    from fortymhz_spark.operators.profile import profile_table

    orders = load_table(spark, sf_dir, "orders")
    cols = list(_PROFILE_COLS)
    approx = profile_table(orders, cols, approx=True).select(
        "column", F.col("n_distinct").alias("ndv_est")
    )
    exact = profile_table(orders, cols)
    return (
        exact.join(F.broadcast(approx), "column")
        .select(
            "column",
            "n_rows",
            "n_nulls",
            "min_value",
            "max_value",
            (
                F.abs(F.col("ndv_est") - F.col("n_distinct"))
                <= F.col("n_distinct") * F.lit(0.15) + F.lit(2)
            ).alias("ndv_in_band"),
        )
        .orderBy("column")
    )


# ---------------------------------------------------------------------------
# equal-width histogram — the distribution summary behind optimizer
# selectivity estimates and data-quality dashboards
# ---------------------------------------------------------------------------
@reg.query(
    "q_histogram_quantity",
    oracle="""
    SELECT
      CAST(LEAST(FLOOR(l_quantity / 5), 9) AS BIGINT) AS bucket,
      CAST(LEAST(FLOOR(l_quantity / 5), 9) * 5 AS BIGINT) AS lo,
      CAST((LEAST(FLOOR(l_quantity / 5), 9) + 1) * 5 AS BIGINT) AS hi,
      COUNT(*) AS n_items,
      CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem
    GROUP BY 1, 2, 3
    ORDER BY bucket
    """,
)
def q_histogram_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-bucket equal-width histogram of ``l_quantity`` over fixed
    bounds [0, 50) with the top bucket absorbing the boundary — fixed
    bounds keep the bucketing a pure per-row expression (a
    data-dependent min/max would need a second pass or a 1-row
    broadcast like q_search_bm25's stats).  One shuffle on the bucket
    id; quantities are integer-valued so the per-bucket sums are
    BIGINT-exact in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    bucket = F.least(F.floor(F.col("l_quantity") / 5), F.lit(9)).cast("long")
    return (
        li.select(
            bucket.alias("bucket"),
            F.col("l_quantity").cast("long").alias("q"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("q").cast("long").alias("sum_qty"),
        )
        .select(
            "bucket",
            (F.col("bucket") * 5).cast("long").alias("lo"),
            ((F.col("bucket") + 1) * 5).cast("long").alias("hi"),
            "n_items",
            "sum_qty",
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# semantic dedup KEEP-LIST — the end of the SemDeDup pipeline: pairs →
# transitive groups → one representative per group, for EVERY vector
# (singletons keep themselves).  The approximate candidate generator
# is graded separately (q_emb_semantic_dedup, subset + recall bound);
# this query grades the exact-pair → components → keep-list semantics
# against a recursive-CTE closure, the q_docs_dedup_groups pattern
# extended with singleton handling.
# ---------------------------------------------------------------------------
@reg.query(
    "q_emb_semantic_keep_list",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE {_SQL_DOT.format(a='a.embedding', b='b.embedding')}
          / ({_SQL_NORM.format(a='a.embedding')} * {_SQL_NORM.format(a='b.embedding')}) >= 0.45
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT src, src FROM edges
      UNION
      SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
    ),
    comp AS (SELECT a AS vec_id, MIN(b) AS component FROM reach GROUP BY a)
    SELECT
      COALESCE(c.component, e.vec_id) AS component,
      e.vec_id,
      (COALESCE(c.component, e.vec_id) = e.vec_id) AS is_rep
    FROM embeddings e LEFT JOIN comp c USING (vec_id)
    ORDER BY component, vec_id
    """,
)
def q_emb_semantic_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per vector: its semantic-dup component (min reachable
    vec_id over cosine >= 0.45 pairs, transitively) and whether it is
    the component's representative — keep ``is_rep`` rows and the
    corpus is semantically deduped even across chains A~B~C where A~C
    was never emitted.

    Uses the exact pair form as input (this query grades the
    components + keep-list semantics; the bucketed candidate
    generator has its own subset-graded row), then the iterative
    min-label + pointer-jumping components
    (operators/dedup.py::near_dup_components) and a left join back to
    the corpus so singletons keep themselves.  Scale: components is
    O(log diameter) rounds; the left join shuffles on vec_id once."""
    emb = load_table(spark, sf_dir, "embeddings")
    from fortymhz_spark.operators import dedup as dd

    pairs = sim.cosine_near_dup_pairs(emb, threshold=0.45)
    comp = dd.near_dup_components(pairs).select(
        F.col("id").alias("vec_id"), "component"
    )
    return (
        emb.select("vec_id")
        .join(comp, ["vec_id"], "left")
        .select(
            F.coalesce("component", "vec_id").alias("component"),
            "vec_id",
            (F.coalesce("component", "vec_id") == F.col("vec_id")).alias(
                "is_rep"
            ),
        )
        .orderBy("component", "vec_id")
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination: the map-only scale twin of
# q_docs_decontaminate.  The bloom's hash family is the portable
# md5-prefix (operators/dedup.py::_bloom_pos), so the oracle replays
# the ENTIRE algorithm — bit positions, 32-bit-lane word bitset,
# k-of-k membership — cell-for-cell, false positives included; this is
# a full differential check of the operator, not an error band.
# ---------------------------------------------------------------------------
_BLOOM_M = 1 << 16
_BLOOM_K = 3
# position j = hex lane [8j+1, 8j+8] of ONE md5 per shingle (the
# operator's 3x-fewer-hashes schedule, operators/dedup.py::_bloom_pos)
_SQL_BLOOM_POS = (
    "(('0x' || substr(md5({s}), 1 + 8 * {j}, 8))::BIGINT % " f"{_BLOOM_M})"
)


@reg.query(
    "q_docs_decontaminate_bloom",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS tk
      FROM documents
    ),
    sh AS (
      SELECT doc_id, source,
             unnest({_SQL_SHINGLES_N.format(tk='tk', n=4)}) AS s
      FROM toks
    ),
    ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
    pos AS (
      SELECT {_SQL_BLOOM_POS.format(s='ev.s', j='t.j')} AS pos
      FROM ev, range({_BLOOM_K}) t(j)
    ),
    words AS (
      SELECT pos // 32 AS w, bit_or(1::BIGINT << (pos % 32)::INT) AS word
      FROM pos GROUP BY 1
    ),
    tsh AS (SELECT doc_id, s FROM sh WHERE doc_id % 97 <> 0),
    chk AS (
      SELECT tsh.doc_id, tsh.s,
             bool_and(
               COALESCE((w2.word >> (p.pos % 32)::INT) & 1, 0) = 1
             ) AS member
      FROM tsh
      CROSS JOIN range({_BLOOM_K}) t(j)
      CROSS JOIN LATERAL (
        SELECT {_SQL_BLOOM_POS.format(s='tsh.s', j='t.j')} AS pos
      ) p
      LEFT JOIN words w2 ON w2.w = p.pos // 32
      GROUP BY tsh.doc_id, tsh.s
    ),
    hits AS (
      SELECT doc_id AS id, COUNT(*) AS n_candidate
      FROM chk WHERE member GROUP BY doc_id
    )
    SELECT
      d.source,
      COUNT(*) AS n_train,
      CAST(SUM(CASE WHEN h.n_candidate IS NOT NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS n_flagged,
      CAST(COALESCE(MAX(h.n_candidate), 0) AS BIGINT)
        AS max_candidate_shingles
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.id
    WHERE d.doc_id % 97 <> 0
    GROUP BY d.source
    ORDER BY d.source
    """,
)
def q_docs_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination through a bloom filter of the eval
    shingle set (operators/dedup.py::bloom_decontaminate), aggregated
    per source exactly like its exact twin q_docs_decontaminate — same
    eval split (doc_id % 97), same 4-word shingles — so the two rows
    read side-by-side as exact-vs-sketch.

    Scale shape: the train side is a MAP-ONLY scan (no explode, no
    join, no shuffle before the final per-source aggregate); the eval
    set collapses to an 8 KB bitset built by one bounded aggregate.
    At 100 TB this removes the train-side (id, shingle) explode+join
    entirely — the candidate set gains hash-deterministic false
    positives, which the oracle reproduces bit-for-bit."""
    from fortymhz_spark.operators import dedup as dd

    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    hits = dd.bloom_decontaminate(
        train, eval_df, shingle_n=4, m_bits=_BLOOM_M, k_hashes=_BLOOM_K
    )
    return (
        train.join(hits, train["doc_id"] == hits["id"], "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.sum(
                F.when(F.col("n_candidate").isNotNull(), 1).otherwise(0)
            ).cast("bigint").alias("n_flagged"),
            F.coalesce(F.max("n_candidate"), F.lit(0))
            .cast("bigint")
            .alias("max_candidate_shingles"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# PQ ANN: compressed-code ADC scan + exact re-rank, graded by the same
# in-plan recall check as the LSH/IVF rows (code assignments are
# codebook-training-specific — no oracle for the candidate sets — but
# recall vs the exact top-k is plan-computable).  rerank=None engages
# the corpus-scaled auto width (max(16, min(1024, ⌈√N⌉)) — the cap
# was 256 through round 10; the r11 decade soak raised it, binding
# only above N = 65 k so nothing changes at graded scale —
# similarity.py::_auto_rerank): the round-5 FIXED rerank=16 decayed
# 0.91 → 0.78 mean recall from sf0.01 to sf0.1, the trend that would
# eventually cross the graded bound.  Measured min per-query recall@10
# with 8x16 Lloyd-trained codebooks under the auto width: 0.9 at
# sf0.001 AND sf0.01, 0.7 at sf0.1 (means 0.99 / 0.95 / 0.90; the
# synthetic embeddings are near-random, the hard case for quantizers —
# rerank width carries more recall than codebook finesse here).
# Bound 0.5 leaves regeneration margin (the q_emb_ann_ivf reasoning:
# at ~0.9+ per-neighbor find probability, P(any query finds < 5 of 10)
# is vanishing, while a real defect in the encode/ADC/re-rank chain
# craters recall toward the random ~k/N floor and flips every row).
# ---------------------------------------------------------------------------
@reg.query(
    "q_emb_ann_pq",
    oracle="""
    SELECT vec_id AS query_id,
           CAST(LEAST(10, (SELECT COUNT(*) FROM embeddings) - 1) AS BIGINT)
             AS n_exact,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id >= 5 AND vec_id < 15 ORDER BY query_id
    """,
)
def q_emb_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-10 for query vectors with
    5 <= vec_id < 15 (operators/similarity.py::pq_knn) — the
    compressed-scan third member of the ANN family beside sign-RP LSH
    and IVF — with per-query recall@10 verified in-plan against the
    exact top-10.  The query-set predicate matches the oracle's WHERE
    verbatim (the q_emb_ann_ivf convention), offset from the LSH/IVF
    query sets so the three rows don't grade the identical slice."""
    from fortymhz_spark.queries.llm import _ann_recall_check

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter((F.col("vec_id") >= 5) & (F.col("vec_id") < 15))
    exact = sim.brute_force_knn(emb, queries, k=10).select(
        "query_id", "neighbor_id"
    )
    ann = sim.pq_knn(
        emb, queries, k=10, n_sub=8, n_cells=16, rerank=None
    ).select("query_id", "neighbor_id")
    return _ann_recall_check(exact, ann, bound=0.5)


# ---------------------------------------------------------------------------
# Model-scored quality filtering: hashed-feature linear classifier.
# The logit is an exact BIGINT fold over portable per-token hash
# weights, so the oracle reproduces every cell bit-for-bit — this
# grades the feature-hashing + weight-lookup + fold plumbing, with the
# hash-derived weights standing in for a trained model (the
# operators/multimodal.py fake-decode stance, stated in the operator
# docstring).
# ---------------------------------------------------------------------------
@reg.query(
    "q_docs_quality_classifier",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_SQL_TOKENS.format(t='lower(text)')} AS tk
      FROM documents
    )
    SELECT
      doc_id,
      CAST(len(tk) AS BIGINT) AS n_tokens,
      CAST(COALESCE(list_sum(list_transform(tk, tok ->
             (('0x' || substr(md5(tok), 1, 8))::BIGINT % 2001) - 1000
           )), 0) AS BIGINT) AS logit_milli,
      CAST(COALESCE(list_sum(list_transform(tk, tok ->
             (('0x' || substr(md5(tok), 1, 8))::BIGINT % 2001) - 1000
           )), 0) AS BIGINT) > 0 AS keep
    FROM tok
    ORDER BY doc_id
    """,
)
def q_docs_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality classification by a hashed-feature linear
    model (operators/text.py::hashed_linear_score): integer milli-logit
    and the keep/drop verdict, beside the heuristic q_docs_quality row
    — the two quality surfaces a curation pipeline composes (cheap
    heuristics gate first, the model scores what survives).

    Scale shape: map-only — tokenize, hash, fold, all inside one
    projection; no explode, no join, no shuffle except the output
    sort.  At 100 TB this is a single pass over text bytes."""
    docs = load_table(spark, sf_dir, "documents")
    logit = tx.hashed_linear_score("text", scale=1000)
    # Bind the O(len(text)) fold ONCE in its own projection and derive
    # `keep` from the bound column — referencing `logit` twice in one
    # select embeds the tokenize+md5+fold twice per row (the
    # kmeans_assign CollapseProject discipline: the optimizer declines
    # to inline a multiply-referenced expensive alias, so the
    # two-projection form evaluates the fold once).
    return (
        docs.select(
            "doc_id",
            tx.token_count(F.lower(F.col("text"))).alias("n_tokens"),
            logit.alias("logit_milli"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "logit_milli",
            (F.col("logit_milli") > 0).alias("keep"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Filter-threshold YIELD CURVE (operators/profile.py::
# quality_yield_curve): docs/tokens surviving each candidate cutoff of
# the exact-BIGINT classifier logit, ALL thresholds in ONE scan
# (side-by-side conditional aggregates + a literal-struct unpivot) —
# the sweep that tunes "which cutoff keeps ~2 T tokens" without one
# scan per candidate.  The oracle recomputes the logit chain verbatim
# (the q_docs_quality_classifier CTE) and aggregates per threshold;
# counts are exact integers, so every cell hashes.
# ---------------------------------------------------------------------------
_YIELD_THRESHOLDS = [-4000, -2000, -1000, 0, 1000, 2000, 4000]


@reg.query(
    "q_docs_quality_yield_curve",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_SQL_TOKENS.format(t='lower(text)')} AS tk
      FROM documents
    ),
    scored AS (
      SELECT CAST(len(tk) AS BIGINT) AS n_tokens,
             CAST(COALESCE(list_sum(list_transform(tk, tok ->
                    (('0x' || substr(md5(tok), 1, 8))::BIGINT % 2001) - 1000
                  )), 0) AS BIGINT) AS logit
      FROM tok
    ),
    th AS (SELECT unnest({_YIELD_THRESHOLDS}) AS threshold)
    SELECT CAST(th.threshold AS BIGINT) AS threshold,
           CAST(COALESCE(SUM(CASE WHEN s.logit >= th.threshold
                              THEN 1 END), 0) AS BIGINT) AS n_docs_kept,
           CAST(COALESCE(SUM(CASE WHEN s.logit >= th.threshold
                              THEN s.n_tokens END), 0) AS BIGINT)
             AS n_tokens_kept
    FROM th CROSS JOIN scored s
    GROUP BY th.threshold
    ORDER BY threshold
    """,
)
def q_docs_quality_yield_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents and tokens retained at each of seven candidate
    milli-logit cutoffs of the hashed-feature classifier, computed in
    one scan and graded cell-for-cell against a per-threshold SQL
    re-aggregation of the full logit chain.

    Scale shape: map-only logit + token count per row, |thresholds|×2
    conditional sums folded into ONE map-side-combined aggregate (a
    single 1-row partial per task), then a literal unpivot — at
    100 TB this is exactly one pass over text bytes regardless of how
    many cutoffs are being considered."""
    from fortymhz_spark.operators.profile import quality_yield_curve

    docs = load_table(spark, sf_dir, "documents")
    return quality_yield_curve(
        docs, tx.hashed_linear_score("text", scale=1000), _YIELD_THRESHOLDS
    ).orderBy("threshold")


# ---------------------------------------------------------------------------
# Distributed classifier TRAINING (operators/text.py::
# train_hashed_classifier) — the closing half of the trained-model
# slot: a 2-epoch integer batch perceptron over hashed unigram counts,
# labels = "doc contains the token 'the'" (±1, ~78% positive at every
# fixture sf).  Because the update is epoch-synchronous and
# all-integer, the ORACLE replays the entire training run — epoch 1
# from zero weights (every doc misclassified), epoch 2 under the
# epoch-1 weights — and the graded output is the final 64-bucket
# weight table cell for cell: any error in the mistake set, the
# gradient, or the bucket hash changes a weight.
# ---------------------------------------------------------------------------
@reg.query(
    "q_docs_classifier_training",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(lower(coalesce(text, '')), ' '),
                         x -> x <> '') AS tk
      FROM documents
    ),
    lab AS (
      SELECT doc_id,
             CASE WHEN list_contains(tk, 'the') THEN 1 ELSE -1 END AS y
      FROM t
    ),
    tokb AS (
      SELECT t.doc_id,
             ('0x' || substr(md5(u.tok), 1, 8))::BIGINT % 64 AS b
      FROM t, unnest(t.tk) AS u(tok)
    ),
    g1 AS (
      SELECT b, SUM(y) AS g FROM tokb JOIN lab USING (doc_id) GROUP BY b
    ),
    w1 AS (
      SELECT r.range AS b, COALESCE(g1.g, 0) AS w
      FROM range(0, 64) r LEFT JOIN g1 ON g1.b = r.range
    ),
    s2 AS (
      SELECT tokb.doc_id, SUM(w1.w) AS logit
      FROM tokb JOIN w1 ON w1.b = tokb.b GROUP BY tokb.doc_id
    ),
    mis2 AS (
      SELECT l.doc_id, l.y FROM lab l LEFT JOIN s2 USING (doc_id)
      WHERE l.y * COALESCE(s2.logit, 0) <= 0
    ),
    g2 AS (
      SELECT tokb.b, SUM(m.y) AS g
      FROM tokb JOIN mis2 m ON m.doc_id = tokb.doc_id GROUP BY tokb.b
    )
    SELECT CAST(w1.b AS BIGINT) AS bucket,
           CAST(w1.w + COALESCE(g2.g, 0) AS BIGINT) AS weight
    FROM w1 LEFT JOIN g2 ON g2.b = w1.b
    ORDER BY bucket
    """,
)
def q_docs_classifier_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the 64-bucket hashed-feature perceptron for 2 epochs on
    the 'contains-the' labels and return the final (bucket, weight)
    table, graded cell-for-cell against the SQL replay of both epochs.

    Scale shape: per epoch one map-only scoring scan + one
    map-side-combined ≤64-row gradient aggregate; driver traffic is
    epochs × 64 ints; the weight update is epoch-synchronous, so the
    trained model is identical on any partitioning (pinned by the
    partition-independence row)."""
    docs = load_table(spark, sf_dir, "documents")
    label = F.when(
        F.array_contains(
            tx.tokens(F.lower(F.coalesce(F.col("text"), F.lit("")))),
            "the",
        ),
        1,
    ).otherwise(-1)
    w = tx.train_hashed_classifier(
        docs, label, n_buckets=64, epochs=2, lr=1
    )
    return spark.createDataFrame(
        [(b, int(x)) for b, x in enumerate(w)], "bucket long, weight long"
    ).orderBy("bucket")


# ---------------------------------------------------------------------------
# IVFPQ ANN: the composed coarse-cells + compressed-codes architecture
# (FAISS IVFxx,PQyy) — candidate ROWS bounded by the inverted file,
# candidate BYTES bounded by the codes.  Graded like its standalone
# halves: in-plan recall@10 vs the exact top-k.  nprobe=None and
# rerank=None engage the corpus-scaled auto rules
# (similarity.py::_auto_nprobe / _auto_rerank): the round-5 FIXED
# nprobe=8, rerank=16 config decayed 0.88 → 0.75 mean recall from
# sf0.01 to sf0.1 with one query pinned at 0.4 (its true neighbors sat
# entirely in unprobed cells — the synthetic embeddings are
# near-random, so neighbors scatter across coarse cells and recall is
# probe-bound; no rerank width recovers an unprobed neighbor).
# Measured min per-query recall on the graded slice under the auto
# rules: 0.8 / 0.9 / 0.7 at sf0.001 / 0.01 / 0.1 (means
# 0.96/0.97/0.90).  Bound 0.4 per the family's regeneration-margin
# reasoning (q_emb_ann_ivf): a real defect craters recall toward the
# random floor and flips every row, while fixture-regeneration noise
# at ~0.9 mean leaves P(any query below 0.4) vanishing.
# ---------------------------------------------------------------------------
@reg.query(
    "q_emb_ann_ivfpq",
    oracle="""
    SELECT vec_id AS query_id,
           CAST(LEAST(10, (SELECT COUNT(*) FROM embeddings) - 1) AS BIGINT)
             AS n_exact,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id >= 10 AND vec_id < 20 ORDER BY query_id
    """,
)
def q_emb_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ ANN top-10 for query vectors with 10 <= vec_id < 20
    (operators/similarity.py::ivfpq_knn) — the deployed-at-scale
    composition of the separately-graded IVF and PQ rows — with
    per-query recall@10 verified in-plan against the exact top-10.
    The query-set predicate matches the oracle's WHERE verbatim and is
    offset from the LSH/IVF/PQ sets so the four ANN rows grade four
    different slices."""
    from fortymhz_spark.queries.llm import _ann_recall_check

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 20))
    exact = sim.brute_force_knn(emb, queries, k=10).select(
        "query_id", "neighbor_id"
    )
    ann = sim.ivfpq_knn(
        emb, queries, k=10, n_coarse=16, nprobe=None, n_sub=8, n_cells=16,
        rerank=None,
    ).select("query_id", "neighbor_id")
    return _ann_recall_check(exact, ann, bound=0.4)


# ---------------------------------------------------------------------------
# BPE tokenizer induction (operators/bpe.py): the merge table's rank-1
# row is fully SQL-derivable (initial adjacent-pair counts over char
# symbols — no replay needed), so the oracle grades it EXACTLY; ranks
# >= 2 would require the oracle to replay k merge rounds (shown
# infeasible in portable SQL: string-replace cannot reproduce
# left-to-right non-overlapping adjacency merging), so they carry the
# count-monotonicity invariant — merging the max-count pair can only
# create pairs bounded by it, so the winning-count sequence is
# non-increasing, and any defect in the pair-count/merge loop shows up
# as an inversion.  The FULL merge table is differentially pinned
# against a pure-Python Sennrich reference in
# tests/test_properties.py::test_bpe_merges_match_python_reference.
# ---------------------------------------------------------------------------
@reg.query(
    "q_docs_bpe_merges",
    oracle=f"""
    WITH wc AS (
      SELECT w, COUNT(*) AS n
      FROM (SELECT unnest({_SQL_TOKENS.format(t='lower(text)')}) AS w
            FROM documents)
      GROUP BY w
    ),
    sym AS (SELECT n, regexp_split_to_array(w, '') || ['</w>'] AS s FROM wc),
    pairs AS (
      SELECT s[i] AS l, s[i + 1] AS r, CAST(SUM(n) AS BIGINT) AS c
      FROM sym, LATERAL (SELECT unnest(range(1, len(s))) AS i) t
      GROUP BY 1, 2
    ),
    top1 AS (SELECT l, r, c FROM pairs ORDER BY c DESC, l, r LIMIT 1)
    SELECT
      CAST(rk.rank AS BIGINT) AS rank,
      CASE WHEN rk.rank = 1 THEN top1.l END AS left_r1,
      CASE WHEN rk.rank = 1 THEN top1.r END AS right_r1,
      CASE WHEN rk.rank = 1 THEN top1.c END AS count_r1,
      TRUE AS count_nonincreasing,
      TRUE AS count_ge_min
    FROM (SELECT unnest(range(1, 65)) AS rank) rk CROSS JOIN top1
    ORDER BY rank
    """,
)
def q_docs_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn 64 BPE merges over the corpus
    (operators/bpe.py::learn_bpe_merges_local — the production shape:
    ONE distributed corpus pass + bounded TakeOrdered vocab collect +
    driver-local Sennrich merge loop, zero Spark jobs per round) and
    grade the merge table: rank 1 exactly (left/right/corpus pair
    count vs the oracle's SQL-computed initial top pair, total tie
    order) and every rank's count-monotonicity + min-count invariants.
    The distributed per-round learner remains the validation twin
    (tests/test_properties.py pins all three forms — local,
    distributed, pure-Python — to the identical merge table)."""
    from fortymhz_spark.operators import bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe.learn_bpe_merges_local(
        docs, n_merges=64, min_count=2, top_v=None
    )
    rows = []
    prev = None
    for i, (left, right, c) in enumerate(merges):
        rows.append(
            (
                i + 1,
                left if i == 0 else None,
                right if i == 0 else None,
                c if i == 0 else None,
                prev is None or c <= prev,
                c >= 2,
            )
        )
        prev = c
    # Pad to the full 64 ranks if the corpus dries up before n_merges —
    # the oracle's row count (range(1, 65)) cannot replay the
    # early-stop rule, and a row-count mismatch would fail the gate on
    # fixture size rather than on any real defect.  Padded rows carry
    # vacuously-TRUE invariants (matching the oracle — an invariant
    # over zero merges holds); the real merge table is graded either
    # way by the pure-Python differential in tests/test_properties.py.
    for rank in range(len(merges) + 1, 65):
        rows.append((rank, None, None, None, True, True))
    return spark.createDataFrame(
        rows,
        "rank long, left_r1 string, right_r1 string, count_r1 long, "
        "count_nonincreasing boolean, count_ge_min boolean",
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# The classifier's TRAINED-MODEL slot, graded end to end: an explicit
# bucketed weight array (the artifact a fastText-style training run
# exports) replaces the hash-derived stand-in.  The weights below are
# a deterministic fixture playing the role of trained parameters; the
# oracle indexes the IDENTICAL array literal with the same md5-prefix
# bucket hash, so every logit is bit-exact.
# ---------------------------------------------------------------------------
_TRAINED_WEIGHTS = [((7 * i + 3) % 41) - 20 for i in range(64)]


@reg.query(
    "q_docs_classifier_trained",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, {_SQL_TOKENS.format(t='lower(text)')} AS tk
      FROM documents
    ),
    scored AS (
      SELECT
        lang,
        CAST(COALESCE(list_sum(list_transform(tk, tok ->
          ([{','.join(str(w) for w in _TRAINED_WEIGHTS)}])
            [(('0x' || substr(md5(tok), 1, 8))::BIGINT % 64) + 1]
        )), 0) AS BIGINT) AS logit
      FROM tok
    )
    SELECT
      lang,
      COUNT(*) AS n_docs,
      CAST(SUM(CASE WHEN logit > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
      CAST(SUM(logit) AS BIGINT) AS total_logit
    FROM scored
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_docs_classifier_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-scored filtering with an EXPLICIT weight array — the
    trained-model slot of operators/text.py::hashed_linear_score
    exercised end to end (the hash-derived default is graded by
    q_docs_quality_classifier): per-language document counts, keep
    counts under logit > 0, and the exact total logit.

    Scale shape identical to the default path: the 64-bucket weight
    table is ONE array literal in the task binary (a production 2M-
    bucket head is a few MB — the PQ-codebook pattern), lookup + fold
    stay map-only whole-stage codegen; the only shuffle is the
    per-language aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    logit = tx.hashed_linear_score("text", weights=_TRAINED_WEIGHTS)
    return (
        docs.select("lang", logit.alias("logit"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("logit") > 0).cast("long")).alias("n_keep"),
            F.sum("logit").alias("total_logit"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# The vocabulary-keyed classifier twin: the weight table is a separate
# (token, weight) relation broadcast-joined to the exploded tokens —
# the shape an exported logistic-regression head with a real
# vocabulary takes.  The fixture vocabulary is every corpus token of
# length >= 5 with a portable-hash weight, so BOTH engines derive the
# identical table from the data and every logit is bit-exact; OOV
# tokens (length < 5) weigh 0 by the left join.
# ---------------------------------------------------------------------------
@reg.query(
    "q_docs_vocab_classifier",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_SQL_TOKENS.format(t='lower(text)')} AS tk
      FROM documents
    ),
    vocab AS (
      SELECT
        tok AS token,
        (('0x' || substr(md5(tok), 1, 8))::BIGINT % 201) - 100 AS weight
      FROM (SELECT DISTINCT unnest(tk) AS tok FROM tok)
      WHERE len(tok) >= 5
    ),
    scored AS (
      SELECT
        t.doc_id,
        CAST(COALESCE(SUM(v.weight), 0) AS BIGINT) AS logit
      FROM (SELECT doc_id, unnest(tk) AS tok FROM tok) t
      LEFT JOIN vocab v ON t.tok = v.token
      GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(s.logit, 0) AS BIGINT) AS logit,
           COALESCE(s.logit, 0) > 0 AS keep
    FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
    ORDER BY d.doc_id
    """,
)
def q_docs_vocab_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-scored filtering from a VOCABULARY-KEYED weight table
    (operators/text.py::vocab_linear_score): the weight relation
    broadcast-joins the exploded tokens and the integer logit
    aggregates per document — the third classifier surface beside the
    hashed default and the bucketed-array trained slot.

    Scale shape: the vocabulary broadcasts; term-frequency rows
    collapse map-side to one (doc_id, logit) row before the shuffle
    (a document's exploded tokens never span input partitions)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(tx.tokens(F.lower(F.col("text")))).alias("token")
    ).distinct()
    weights = toks.filter(F.length("token") >= 5).select(
        "token",
        (
            F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("long")
            % 201
            - 100
        ).alias("weight"),
    )
    scored = tx.vocab_linear_score(docs, weights, out_col="logit")
    return (
        scored.select(
            "doc_id", "logit", (F.col("logit") > 0).alias("keep")
        ).orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# BPE ENCODE at a realistic merge-table size, graded by derived
# invariants: the 64-merge table itself is engine-internal (SQL cannot
# replay merge ranking), but the encode output's lossless-regrouping
# property is checkable — concatenating any word's symbols must
# reconstruct word + '</w>', and the symbol count per word is bounded
# by [1, chars+1].  n_words and total_chars are SQL-exact, so a
# broken encoder (dropped symbol, wrong merge application, kernel
# batching bug) fails a TRUE column or an exact count.  The merge
# table + encoder are additionally pinned against pure-Python
# references in tests/test_properties.py.
# ---------------------------------------------------------------------------
@reg.query(
    "q_docs_bpe_encode_stats",
    oracle=f"""
    WITH words AS (
      SELECT DISTINCT unnest({_SQL_TOKENS.format(t='lower(text)')}) AS w
      FROM documents
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_words,
      CAST(SUM(len(w)) AS BIGINT) AS total_chars,
      TRUE AS all_reconstruct,
      TRUE AS symbols_bounded
    FROM words
    """,
)
def q_docs_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn 64 merges (driver-local Sennrich loop), Arrow-encode the
    corpus's distinct words (operators/bpe.py::encode_words_arrow),
    and grade the encode: exact word/char totals plus the lossless-
    regrouping and symbol-count-bound invariants over EVERY word.

    Scale shape: the merge table rides the task binary (closure
    capture); encode is one Arrow-batched map over the distinct-word
    table (corpus-pass output, orders of magnitude smaller than the
    text); the final aggregate is a single row."""
    from fortymhz_spark.operators import bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe.learn_bpe_merges_local(
        docs, n_merges=64, min_count=2, top_v=None
    )
    words = docs.select(
        F.explode(tx.tokens(F.lower(F.col("text")))).alias("w")
    ).distinct()
    enc = bpe.encode_words_arrow(words, "w", merges=merges)
    return enc.select(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.length("w")).cast("bigint").alias("total_chars"),
        F.every(
            F.concat_ws("", F.col("symbols"))
            == F.concat(F.col("w"), F.lit(bpe.END_OF_WORD))
        ).alias("all_reconstruct"),
        F.every(
            (F.size("symbols") >= 1)
            & (F.size("symbols") <= F.length("w") + 1)
        ).alias("symbols_bounded"),
    )


# ---------------------------------------------------------------------------
# BPE merge table as a PERSISTED artifact (operators/bpe.py::
# save_bpe_merges / load_bpe_merges) — the tokenizer's
# train-once/serve-many lifecycle: the merge table a training run
# ships must survive the snapshot round-trip byte-for-byte (rank
# order, pair strings, counts) and the encode through the LOADED
# table must satisfy every invariant the in-process table does.
# Trained and saved once per sf_dir; the load runs fresh every
# execution, so the artifact read path is what the grade exercises.
# ---------------------------------------------------------------------------
@build_once
def _bpe_artifact(spark: SparkSession, sf_dir: str) -> tuple[str, list]:
    from fortymhz_spark.operators import bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe.learn_bpe_merges_local(
        docs, n_merges=64, min_count=2, top_v=None
    )
    table_dir = scratch_dir("bpeart_")
    bpe.save_bpe_merges(spark, merges, table_dir)
    return table_dir, merges


@reg.query(
    "q_docs_bpe_persisted",
    oracle=f"""
    WITH words AS (
      SELECT DISTINCT unnest({_SQL_TOKENS.format(t='lower(text)')}) AS w
      FROM documents
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_words,
      CAST(SUM(len(w)) AS BIGINT) AS total_chars,
      TRUE AS all_reconstruct,
      TRUE AS symbols_bounded,
      TRUE AS merges_roundtrip
    FROM words
    """,
)
def q_docs_bpe_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus's distinct words through the PERSISTED merge
    table — train 64 merges, publish them as a snapshot artifact
    (cached), load them back, and grade: the q_docs_bpe_encode_stats
    invariants computed over the LOADED table's encode, plus
    ``merges_roundtrip`` — the loaded list equals the trained list
    element-for-element including rank order and pair counts (the
    property that makes the artifact a tokenizer, not a lossy copy).
    Scale shape identical to the encode-stats row; the artifact
    read is one bounded collect of 64 rows."""
    from fortymhz_spark.operators import bpe

    docs = load_table(spark, sf_dir, "documents")
    table_dir, trained = _bpe_artifact(spark, sf_dir)
    loaded = bpe.load_bpe_merges(spark, table_dir)
    roundtrip = loaded == [
        (left, right, int(n)) for left, right, n in trained
    ]
    words = docs.select(
        F.explode(tx.tokens(F.lower(F.col("text")))).alias("w")
    ).distinct()
    enc = bpe.encode_words_arrow(words, "w", merges=loaded)
    return enc.select(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.length("w")).cast("bigint").alias("total_chars"),
        F.every(
            F.concat_ws("", F.col("symbols"))
            == F.concat(F.col("w"), F.lit(bpe.END_OF_WORD))
        ).alias("all_reconstruct"),
        F.every(
            (F.size("symbols") >= 1)
            & (F.size("symbols") <= F.length("w") + 1)
        ).alias("symbols_bounded"),
        F.lit(bool(roundtrip)).alias("merges_roundtrip"),
    )


# ---------------------------------------------------------------------------
# DSIR importance-resampling selection (operators/dsir.py): hashed
# unigram+bigram bucket features, target = the English slice, raw =
# the whole corpus; per-bucket importance weights quantized to
# floor-log2 via bit lengths (pure BIGINT — length(bin(x)) on both
# engines), per-doc score = Σ occurrences' weights, keep the top 100.
# The oracle replays the FULL algorithm in SQL: tokenize → grams →
# md5 buckets → both fits → bit-length weights → join-sum scores →
# deterministic top-k.  Float discipline: no log() anywhere in the
# graded chain (module docstring of operators/dsir.py).
# ---------------------------------------------------------------------------
_DSIR_NB = 1024

@reg.query(
    "q_docs_dsir_selection",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             {_SQL_TOKENS.format(t="lower(coalesce(text, ''))")} AS tk
      FROM documents
    ),
    grams AS (
      SELECT doc_id, lang,
             list_concat(
               tk,
               CASE WHEN len(tk) >= 2 THEN
                 list_transform(range(1, len(tk)),
                                i -> tk[i] || ' ' || tk[i + 1])
               ELSE CAST([] AS VARCHAR[]) END
             ) AS gs
      FROM toks
    ),
    ex AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(g), 1, 8))::BIGINT % {_DSIR_NB} AS b
      FROM (SELECT doc_id, lang, unnest(gs) AS g FROM grams)
    ),
    tfit AS (
      SELECT b, count(*) AS n FROM ex WHERE lang = 'en' GROUP BY b
    ),
    rfit AS (SELECT b, count(*) AS n FROM ex GROUP BY b),
    tot AS (
      SELECT (SELECT count(*) FROM ex WHERE lang = 'en') + {_DSIR_NB}
               AS t_tot,
             (SELECT count(*) FROM ex) + {_DSIR_NB} AS r_tot
    ),
    wts AS (
      SELECT r.b,
             length(bin((coalesce(t.n, 0) + 1) * tot.r_tot))
           - length(bin((r.n + 1) * tot.t_tot)) AS w
      FROM rfit r LEFT JOIN tfit t USING (b), tot
    ),
    ds AS (
      SELECT e.doc_id, CAST(sum(w.w) AS BIGINT) AS dsir_q
      FROM ex e JOIN wts w USING (b)
      GROUP BY e.doc_id
    )
    SELECT d.doc_id, d.lang, coalesce(ds.dsir_q, 0) AS dsir_q
    FROM documents d LEFT JOIN ds USING (doc_id)
    ORDER BY dsir_q DESC, d.doc_id
    LIMIT 100
    """,
)
def q_docs_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection end to end (operators/dsir.py): fit hashed
    bag-of-words models on the English slice (target) vs the whole
    corpus (raw), score every document by its quantized importance
    weight, and keep the 100 highest-weighted (ties → lowest doc_id).

    Scale shape: two bucket-count aggregates (map-side combine,
    ≤ {nb} rows each to the driver), then a MAP-ONLY score against
    the literal weight table and one TakeOrderedAndProject — no join
    or shuffle anywhere in the scoring path."""
    from fortymhz_spark.operators import dsir

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    # predicate target → ONE fused fit pass (conditional sum), not two
    sel = dsir.dsir_select(
        docs, F.col("lang") == "en", 100, n_buckets=_DSIR_NB,
    )
    return sel.select("doc_id", "lang", "dsir_q")


q_docs_dsir_selection.__doc__ = q_docs_dsir_selection.__doc__.format(
    nb=_DSIR_NB
)


# ---------------------------------------------------------------------------
# Cross-doc duplicated-span REMOVAL (operators/text.py::
# strip_crossdoc_blocks): the rewriting half of the CCNet/RefinedWeb
# boilerplate story q_text_crossdoc_blocks only counts.  Graded on the
# REBUILT TEXT itself for every document — a mis-banned block, an
# off-by-one block boundary, a dropped tail, or wrong within-doc
# ban propagation all change the graded string.
# ---------------------------------------------------------------------------
@reg.query(
    "q_docs_strip_boilerplate",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             {_SQL_TOKENS.format(t="lower(coalesce(text, ''))")} AS tk
      FROM documents
    ),
    blocks AS (
      SELECT doc_id, i - 1 AS pos,
             md5(array_to_string(
               tk[((i-1)*8+1)::INT : ((i-1)*8+8)::INT], ' ')) AS h
      FROM tok,
           unnest(range(1, CAST(floor(len(tk) / 8.0) AS INT) + 1)) AS g(i)
    ),
    banned AS (
      SELECT h FROM blocks GROUP BY h
      HAVING COUNT(DISTINCT doc_id) > 1
    ),
    bpos AS (
      SELECT b.doc_id, list_sort(list(b.pos)) AS bp
      FROM blocks b JOIN banned USING (h)
      GROUP BY b.doc_id
    )
    SELECT t.doc_id,
           CAST(len(coalesce(p.bp, [])) AS BIGINT) AS n_removed_blocks,
           -- coalesce: flatten/list_concat over the zero-block case
           -- yields NULL here where Spark's array_join yields ''
           coalesce(array_to_string(
             list_concat(
               flatten(list_transform(
                 range(1, CAST(floor(len(t.tk) / 8.0) AS INT) + 1),
                 i -> CASE WHEN list_contains(coalesce(p.bp, []), i - 1)
                      THEN CAST([] AS VARCHAR[])
                      ELSE t.tk[((i-1)*8+1)::INT : ((i-1)*8+8)::INT] END)),
               t.tk[(CAST(floor(len(t.tk) / 8.0) AS INT) * 8 + 1)::INT
                    : len(t.tk)]
             ), ' '), '') AS clean_text
    FROM tok t LEFT JOIN bpos p USING (doc_id)
    ORDER BY t.doc_id
    """,
)
def q_docs_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rewrite every document with its cross-document duplicated
    8-token blocks removed (blocks in >1 distinct doc), grading the
    rebuilt text and the removed-block count per doc.

    Scale shape: strip_crossdoc_blocks — (id, pos, md5) is all that
    shuffles, block frequency is one map-side-combined aggregate, and
    the rebuild re-reads the original text instead of shuffling block
    strings."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = tx.strip_crossdoc_blocks(docs)
    return out.select(
        "doc_id", "n_removed_blocks", "clean_text"
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Hybrid retrieval (operators/retrieval.py::rrf_fuse): fuse the
# registered BM25 top-20 (lexical) with a cosine top-20 against a
# fixed query vector (embeddings vec_id 0, treated as the query's
# embedding; doc ids and vec ids share the id space by fixture
# construction).  Integer reciprocal-rank fusion — floor(scale/(k+r))
# in exact BIGINT — keeps the fused scores engine-portable; the
# oracle replays BOTH retrievers (the bm25 oracle verbatim as a
# subquery + the cosine chain) and the fusion arithmetic.
# ---------------------------------------------------------------------------
_RRF_K = 60
_RRF_SCALE = 720720


def _hybrid_oracle() -> str:
    from fortymhz_spark.queries.llm import ORACLE as _LLM_ORACLE

    bm25 = _LLM_ORACLE["q_search_bm25"]
    return f"""
    WITH lrank AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rank
      FROM ({bm25})
    ),
    vq AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    vscore AS (
      SELECT e.vec_id AS doc_id,
             {_SQL_DOT.format(a='vq.qv', b='e.embedding')}
               / ({_SQL_NORM.format(a='vq.qv')}
                  * {_SQL_NORM.format(a='e.embedding')}) AS cos
      FROM embeddings e CROSS JOIN vq
      WHERE e.vec_id <> 0
    ),
    vrank AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY cos DESC, doc_id) AS rank
      FROM vscore ORDER BY cos DESC, doc_id LIMIT 20
    ),
    contrib AS (
      SELECT doc_id,
             CAST(FLOOR({_RRF_SCALE} / ({_RRF_K} + rank)) AS BIGINT) AS c
      FROM lrank
      UNION ALL
      SELECT doc_id,
             CAST(FLOOR({_RRF_SCALE} / ({_RRF_K} + rank)) AS BIGINT) AS c
      FROM vrank
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS rrf_q,
           CAST(COUNT(*) AS BIGINT) AS n_lists
    FROM contrib
    GROUP BY doc_id
    ORDER BY rrf_q DESC, doc_id
    LIMIT 20
    """


@reg.query("q_docs_hybrid_search", oracle=_hybrid_oracle())
def q_docs_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search end to end: the registered BM25 query's top-20
    (lexical list) fused with a cosine top-20 against the fixed query
    vector via integer RRF (operators/retrieval.py); returns the
    fused top-20 with per-doc fused score and list-membership count.

    Scale shape: each retriever bounds its list FIRST
    (TakeOrderedAndProject), ranks are assigned over those ≤20 rows,
    and fusion unions lists × 20 rows — the corpus is scanned once
    per retriever, never by the fusion."""
    from fortymhz_spark.functions.vectors import (
        array_lit_d,
        cosine_similarity,
    )
    from fortymhz_spark.operators.retrieval import rrf_fuse
    from fortymhz_spark.queries.llm import q_search_bm25

    w_lex = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    lex = (
        q_search_bm25(spark, sf_dir)  # already top-20 (score, doc_id)
        .withColumn("rank", F.row_number().over(w_lex))
        .select("doc_id", "rank")
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).first()
    if qv is None:
        raise ValueError("embeddings fixture lacks vec_id 0")
    qlit = array_lit_d(qv["embedding"])  # round-13: single-parse literal
    w_vec = Window.orderBy(F.desc("cos"), F.asc("doc_id"))
    vec = (
        emb.filter(F.col("vec_id") != 0)
        .select(
            F.col("vec_id").alias("doc_id"),
            cosine_similarity(qlit, F.col("embedding")).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc("doc_id"))
        .limit(20)
        .withColumn("rank", F.row_number().over(w_vec))
        .select("doc_id", "rank")
    )
    fused = rrf_fuse([lex, vec], k=_RRF_K, scale=_RRF_SCALE)
    return fused.orderBy(F.desc("rrf_q"), F.asc("doc_id")).limit(20)


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (operators/unigram.py): the q_docs_bpe_encode_
# stats pattern for the SECOND tokenizer family — train (one corpus
# pass + driver-local EM/prune), Viterbi-encode every distinct word,
# grade exact word/char totals plus the lossless-concatenation and
# piece-count-bound invariants, plus the non-degeneracy boolean (the
# model actually uses multi-char pieces — a char-only collapse would
# pass reconstruction trivially).
# ---------------------------------------------------------------------------
@reg.query(
    "q_docs_unigram_encode_stats",
    oracle=f"""
    WITH words AS (
      SELECT DISTINCT unnest({_SQL_TOKENS.format(t='lower(text)')}) AS w
      FROM documents
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_words,
      CAST(SUM(len(w)) AS BIGINT) AS total_chars,
      TRUE AS all_reconstruct,
      TRUE AS pieces_bounded,
      TRUE AS uses_multichar_pieces
    FROM words
    """,
)
def q_docs_unigram_encode_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Train a 256-piece unigram model (2 hard-EM rounds) on the
    corpus and Viterbi-encode its distinct words
    (operators/unigram.py), grading exact totals + per-word
    invariants: every word reconstructs by concatenation, piece
    counts stay within [1, len(w)], and the encode uses at least one
    multi-char piece somewhere (non-degenerate model).

    Scale shape: one distributed word-count pass feeds the
    driver-local EM (cost ∝ vocabulary); the model rides the task
    closure; encode is one Arrow-batched map over the distinct-word
    table; the final aggregate is a single row."""
    from fortymhz_spark.operators import unigram as ug

    docs = load_table(spark, sf_dir, "documents")
    model = ug.learn_unigram_vocab(
        docs, vocab_size=256, em_rounds=2, max_piece_len=8
    )
    words = docs.select(
        F.explode(tx.tokens(F.lower(F.col("text")))).alias("w")
    ).distinct()
    enc = ug.encode_unigram(words, "w", model=model, max_piece_len=8)
    return enc.select(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.length("w")).cast("bigint").alias("total_chars"),
        F.every(
            F.concat_ws("", F.col("pieces")) == F.col("w")
        ).alias("all_reconstruct"),
        F.every(
            (F.size("pieces") >= 1)
            & (F.size("pieces") <= F.length("w"))
        ).alias("pieces_bounded"),
        (
            F.sum(
                F.when(
                    F.exists("pieces", lambda p: F.length(p) > 1), 1
                ).otherwise(0)
            )
            > 0
        ).alias("uses_multichar_pieces"),
    )


# ---------------------------------------------------------------------------
# IVFPQ in its FULL AUTO deployment configuration — every index knob
# resolved from the corpus (n_coarse=None -> ceil(sqrt N) cells,
# rerank=None -> corpus-scaled exact re-rank width, nprobe=None ->
# shortlist-coverage probe width) with the batch-matmul coarse
# assignment the operator now defaults to.  The fixed-knob
# q_emb_ann_ivfpq row grades the algorithm; THIS row grades the
# configuration policy a 100 TB deployment would actually run, so a
# regression in any auto rule (a mis-sized index, a probe width that
# stops covering the shortlist) fails the gate even while the fixed
# config stays green.  Measured recall@10 on the graded slice
# (vec_id 20-30): means 0.97 / 0.97 / 0.91, mins 0.9 / 0.8 / 0.8 at
# sf0.001 / 0.01 / 0.1 — at fixture corpora the auto rules
# legitimately probe most cells (small-N degrades toward exact
# search, the documented behavior).  Bound 0.5 per the family's
# regeneration-margin reasoning.
# ---------------------------------------------------------------------------
@reg.query(
    "q_emb_ann_ivfpq_auto",
    oracle="""
    SELECT vec_id AS query_id,
           CAST(LEAST(10, (SELECT COUNT(*) FROM embeddings) - 1) AS BIGINT)
             AS n_exact,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id >= 20 AND vec_id < 30 ORDER BY query_id
    """,
)
def q_emb_ann_ivfpq_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ ANN top-10 for query vectors with 20 <= vec_id < 30
    under the all-auto index sizing (operators/similarity.py::
    ivfpq_knn with n_coarse/nprobe/rerank=None — one shared corpus
    count resolves all three), recall@10 verified in-plan against the
    exact top-10.  The query-set predicate matches the oracle's WHERE
    verbatim, offset from the other four ANN slices."""
    from fortymhz_spark.queries.llm import _ann_recall_check

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 30))
    exact = sim.brute_force_knn(emb, queries, k=10).select(
        "query_id", "neighbor_id"
    )
    ann = sim.ivfpq_knn(
        emb, queries, k=10, n_coarse=None, nprobe=None, n_sub=8,
        n_cells=16, rerank=None,
    ).select("query_id", "neighbor_id")
    return _ann_recall_check(exact, ann, bound=0.5)


# ---------------------------------------------------------------------------
# IVFPQ served from a PERSISTED index — the train-once/serve-many
# lifecycle a 100 TB deployment runs (operators/ann_index.py): the
# trained state (coarse centroids + PQ codebooks + params) lives as a
# versioned snapshot-table artifact with atomic publish and time
# travel; serving loads it with one bounded collect and skips both
# training collects.  Because build_ann_index uses EXACTLY
# ivfpq_knn's deterministic fit path, the served result must be
# byte-identical to q_emb_ann_ivfpq_auto's in-process-fit result on
# the same corpus/slice — graded IN-PLAN by the identical_to_refit
# boolean (anti-joins in both directions), alongside the family's
# recall band for the served rows themselves.
# ---------------------------------------------------------------------------
@build_once
def _ann_index_table(spark: SparkSession, sf_dir: str) -> str:
    """The shared index: the first caller trains and publishes v=1,
    everyone else only loads."""
    from fortymhz_spark.operators.ann_index import build_ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    table_dir = scratch_dir("annidx_")
    build_ann_index(emb, table_dir, n_coarse=None, n_sub=8, n_cells=16)
    return table_dir


@reg.query(
    "q_emb_ann_ivfpq_persisted",
    oracle="""
    SELECT vec_id AS query_id,
           CAST(LEAST(10, (SELECT COUNT(*) FROM embeddings) - 1) AS BIGINT)
             AS n_exact,
           TRUE AS recall_ok,
           TRUE AS identical_to_refit
    FROM embeddings WHERE vec_id >= 20 AND vec_id < 30 ORDER BY query_id
    """,
)
def q_emb_ann_ivfpq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ top-10 for the q_emb_ann_ivfpq_auto query slice, served
    from a PERSISTED index (build_ann_index → snapshot table →
    load_ann_index → ivfpq_knn(index=...)), graded on (a) the family
    recall band for the served rows and (b) ``identical_to_refit`` —
    per query, ZERO symmetric difference between the served result
    and the in-process-fit twin with the same auto knobs, i.e. the
    persisted artifact reproduces q_emb_ann_ivfpq_auto byte for byte.
    Query-time knobs (nprobe/rerank) still auto-resolve against the
    serving corpus; only the fit is amortized away."""
    from fortymhz_spark.operators.ann_index import load_ann_index
    from fortymhz_spark.queries.llm import _ann_recall_check

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 30))
    idx = load_ann_index(spark, _ann_index_table(spark, sf_dir))
    served = sim.ivfpq_knn(
        emb, queries, k=10, nprobe=None, rerank=None, index=idx
    ).select("query_id", "neighbor_id")
    refit = sim.ivfpq_knn(
        emb, queries, k=10, n_coarse=None, nprobe=None, n_sub=8,
        n_cells=16, rerank=None,
    ).select("query_id", "neighbor_id")
    exact = sim.brute_force_knn(emb, queries, k=10).select(
        "query_id", "neighbor_id"
    )
    # symmetric difference per query, one aggregate over the 2-way
    # full outer join of two tiny (queries × k) results
    diff = (
        served.withColumn("__s__", F.lit(1))
        .join(
            refit.withColumn("__r__", F.lit(1)),
            ["query_id", "neighbor_id"],
            "full_outer",
        )
        .groupBy("query_id")
        .agg(
            F.sum(
                F.when(
                    F.col("__s__").isNull() | F.col("__r__").isNull(), 1
                ).otherwise(0)
            ).alias("__n_diff__")
        )
    )
    return (
        _ann_recall_check(exact, served, bound=0.5)
        .join(diff, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            "recall_ok",
            (F.coalesce(F.col("__n_diff__"), F.lit(0)) == 0).alias(
                "identical_to_refit"
            ),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# IVFPQ served AT REST — the encoded corpus itself persisted
# (operators/ann_index.py::build_ann_codes): the candidate scan reads
# the versioned (id, cell, code_*) table keyed to (index version,
# corpus version) instead of re-assigning + re-encoding every corpus
# vector in-plan per query, which is the thing IVFPQ exists to buy at
# 100 TB (compressed-at-rest codes, cell-pruned scans); raw vectors
# come back only for the exact re-rank shortlist.  Graded IN-PLAN by
# identical_to_inplan — zero symmetric difference between the rows
# served from the persisted codes and the same index's in-plan-encode
# twin — alongside the family recall band.  Query slice 30 ≤ vec_id <
# 40, offset from the persisted row's slice.
# ---------------------------------------------------------------------------
@build_once
def _ann_codes_table(spark: SparkSession, sf_dir: str) -> str:
    """The shared index's codes: the first caller encodes the corpus
    and publishes v=1 with corpus_version=1 (the fixture parquet is
    immutable — one logical corpus version); everyone else loads."""
    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        load_ann_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = load_ann_index(spark, _ann_index_table(spark, sf_dir))
    table_dir = scratch_dir("anncodes_")
    build_ann_codes(emb, table_dir, idx, corpus_version=1)
    return table_dir


@reg.query(
    "q_emb_ann_ivfpq_codes",
    oracle="""
    SELECT vec_id AS query_id,
           CAST(LEAST(10, (SELECT COUNT(*) FROM embeddings) - 1) AS BIGINT)
             AS n_exact,
           TRUE AS recall_ok,
           TRUE AS identical_to_inplan
    FROM embeddings WHERE vec_id >= 30 AND vec_id < 40 ORDER BY query_id
    """,
)
def q_emb_ann_ivfpq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ top-10 for query vectors with 30 <= vec_id < 40, served
    from the PERSISTED ENCODED CORPUS (build_ann_codes →
    load_ann_codes with the corpus-version pin → ivfpq_knn(index=...,
    codes=...)), graded on (a) the family recall band and (b)
    ``identical_to_inplan`` — per query, ZERO symmetric difference
    between the codes-served result and the same persisted index's
    in-plan-encode twin with the same auto knobs.  Together with
    q_emb_ann_ivfpq_persisted's identical_to_refit chain this pins
    artifact-codes == in-plan-encode == fresh-fit byte for byte, while
    the serving plan itself never encodes the corpus."""
    from fortymhz_spark.operators.ann_index import (
        load_ann_codes,
        load_ann_index,
    )
    from fortymhz_spark.queries.llm import _ann_recall_check

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter((F.col("vec_id") >= 30) & (F.col("vec_id") < 40))
    idx = load_ann_index(spark, _ann_index_table(spark, sf_dir))
    codes = load_ann_codes(
        spark, _ann_codes_table(spark, sf_dir), idx, corpus_version=1
    )
    served = sim.ivfpq_knn(
        emb, queries, k=10, nprobe=None, rerank=None, index=idx,
        codes=codes,
    ).select("query_id", "neighbor_id")
    inplan = sim.ivfpq_knn(
        emb, queries, k=10, nprobe=None, rerank=None, index=idx
    ).select("query_id", "neighbor_id")
    exact = sim.brute_force_knn(emb, queries, k=10).select(
        "query_id", "neighbor_id"
    )
    diff = (
        served.withColumn("__s__", F.lit(1))
        .join(
            inplan.withColumn("__r__", F.lit(1)),
            ["query_id", "neighbor_id"],
            "full_outer",
        )
        .groupBy("query_id")
        .agg(
            F.sum(
                F.when(
                    F.col("__s__").isNull() | F.col("__r__").isNull(), 1
                ).otherwise(0)
            ).alias("__n_diff__")
        )
    )
    return (
        _ann_recall_check(exact, served, bound=0.5)
        .join(diff, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            "recall_ok",
            (F.coalesce(F.col("__n_diff__"), F.lit(0)) == 0).alias(
                "identical_to_inplan"
            ),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# The incremental ADD step of the ANN lifecycle
# (operators/ann_index.py::extend_ann_codes): the archive's codes are
# read-only history; an arriving batch encodes ALONE and upserts into
# the codes table with an advanced corpus-version pin.  Graded by
# serving the extended table and requiring zero symmetric difference
# vs the same index's in-plan-encode twin over the full corpus — a
# batch row encoded under wrong geometry, a dropped archive row, or a
# stale-pin leak all change the served neighbors.  Query slice
# 40 ≤ vec_id < 50, offset from the other ANN slices.
# ---------------------------------------------------------------------------
@build_once
def _ann_codes_extended_table(spark: SparkSession, sf_dir: str) -> str:
    """Codes over the archive slice (vec_id % 7 != 0) at
    corpus_version=1, then extend with the arriving slice
    (vec_id % 7 == 0) at corpus_version=2 — the ingest sequence a
    deployment runs."""
    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        extend_ann_codes,
        load_ann_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = load_ann_index(spark, _ann_index_table(spark, sf_dir))
    table_dir = scratch_dir("anncodesext_")
    build_ann_codes(
        emb.filter(F.col("vec_id") % 7 != 0), table_dir, idx,
        corpus_version=1,
    )
    extend_ann_codes(
        emb.filter(F.col("vec_id") % 7 == 0), table_dir, idx,
        corpus_version=2,
    )
    return table_dir


@reg.query(
    "q_emb_ann_codes_extend",
    oracle="""
    SELECT vec_id AS query_id,
           CAST(LEAST(10, (SELECT COUNT(*) FROM embeddings) - 1) AS BIGINT)
             AS n_exact,
           TRUE AS recall_ok,
           TRUE AS identical_to_inplan
    FROM embeddings WHERE vec_id >= 40 AND vec_id < 50 ORDER BY query_id
    """,
)
def q_emb_ann_codes_extend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ top-10 for query vectors with 40 <= vec_id < 50, served
    from an INCREMENTALLY EXTENDED codes table (archive slice built at
    corpus_version=1, arriving slice encoded alone and upserted at
    corpus_version=2 — extend_ann_codes), graded on the family recall
    band and ``identical_to_inplan`` — zero symmetric difference vs
    the same persisted index's in-plan-encode twin over the FULL
    corpus, i.e. the incremental add reproduced the from-scratch
    encode exactly."""
    from fortymhz_spark.operators.ann_index import (
        load_ann_codes,
        load_ann_index,
    )
    from fortymhz_spark.queries.llm import _ann_recall_check

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter((F.col("vec_id") >= 40) & (F.col("vec_id") < 50))
    idx = load_ann_index(spark, _ann_index_table(spark, sf_dir))
    codes = load_ann_codes(
        spark, _ann_codes_extended_table(spark, sf_dir), idx,
        corpus_version=2,
    )
    served = sim.ivfpq_knn(
        emb, queries, k=10, nprobe=None, rerank=None, index=idx,
        codes=codes,
    ).select("query_id", "neighbor_id")
    inplan = sim.ivfpq_knn(
        emb, queries, k=10, nprobe=None, rerank=None, index=idx
    ).select("query_id", "neighbor_id")
    exact = sim.brute_force_knn(emb, queries, k=10).select(
        "query_id", "neighbor_id"
    )
    diff = (
        served.withColumn("__s__", F.lit(1))
        .join(
            inplan.withColumn("__r__", F.lit(1)),
            ["query_id", "neighbor_id"],
            "full_outer",
        )
        .groupBy("query_id")
        .agg(
            F.sum(
                F.when(
                    F.col("__s__").isNull() | F.col("__r__").isNull(), 1
                ).otherwise(0)
            ).alias("__n_diff__")
        )
    )
    return (
        _ann_recall_check(exact, served, bound=0.5)
        .join(diff, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            "recall_ok",
            (F.coalesce(F.col("__n_diff__"), F.lit(0)) == 0).alias(
                "identical_to_inplan"
            ),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# The DELETE step of the ANN lifecycle
# (operators/ann_index.py::delete_ann_codes): the dedup pipeline this
# engine is built around REMOVES documents, and a codes table that
# only grows keeps serving vanished ids until a full refit.  Tombstone
# propagation = keyed MERGE delete through the snapshot layer; graded
# by serving the post-delete table and requiring (a) zero symmetric
# difference vs the same index's in-plan-encode twin over the
# SURVIVING corpus — i.e. the delete reproduced a from-scratch rebuild
# on the survivors exactly — and (b) no deleted id in any served row.
# Query slice 50 ≤ vec_id < 60, offset from the other ANN slices.
# ---------------------------------------------------------------------------
@build_once
def _ann_codes_deleted_table(spark: SparkSession, sf_dir: str) -> str:
    """Codes over the FULL corpus at corpus_version=1, then tombstone
    the slice (vec_id % 7 == 0) at corpus_version=2 — the sequence a
    dedup pass that drops documents runs against the serving index."""
    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        delete_ann_codes,
        load_ann_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = load_ann_index(spark, _ann_index_table(spark, sf_dir))
    table_dir = scratch_dir("anncodesdel_")
    build_ann_codes(emb, table_dir, idx, corpus_version=1)
    delete_ann_codes(
        emb.filter(F.col("vec_id") % 7 == 0), table_dir, idx,
        corpus_version=2,
    )
    return table_dir


@reg.query(
    "q_emb_ann_codes_delete",
    oracle="""
    SELECT vec_id AS query_id,
           CAST(LEAST(10, (SELECT COUNT(*) FROM embeddings
                           WHERE vec_id % 7 <> 0)
                          - CASE WHEN vec_id % 7 <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exact,
           TRUE AS recall_ok,
           TRUE AS identical_to_inplan,
           TRUE AS no_deleted_served
    FROM embeddings WHERE vec_id >= 50 AND vec_id < 60 ORDER BY query_id
    """,
)
def q_emb_ann_codes_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ top-10 for query vectors with 50 <= vec_id < 60, served
    from a codes table with TOMBSTONED deletions (full corpus encoded
    at corpus_version=1, the vec_id % 7 == 0 slice deleted at
    corpus_version=2 — delete_ann_codes), graded on the family recall
    band against the SURVIVING corpus's exact truth,
    ``identical_to_inplan`` (zero symmetric difference vs the same
    persisted index's in-plan-encode twin over the surviving corpus —
    the delete reproduced a from-scratch rebuild exactly), and
    ``no_deleted_served`` (no vanished id reaches a served row)."""
    from fortymhz_spark.operators.ann_index import (
        load_ann_codes,
        load_ann_index,
    )
    from fortymhz_spark.queries.llm import _ann_recall_check

    emb = load_table(spark, sf_dir, "embeddings")
    surviving = emb.filter(F.col("vec_id") % 7 != 0)
    queries = emb.filter((F.col("vec_id") >= 50) & (F.col("vec_id") < 60))
    idx = load_ann_index(spark, _ann_index_table(spark, sf_dir))
    codes = load_ann_codes(
        spark, _ann_codes_deleted_table(spark, sf_dir), idx,
        corpus_version=2,
    )
    served = sim.ivfpq_knn(
        surviving, queries, k=10, nprobe=None, rerank=None, index=idx,
        codes=codes,
    ).select("query_id", "neighbor_id")
    inplan = sim.ivfpq_knn(
        surviving, queries, k=10, nprobe=None, rerank=None, index=idx
    ).select("query_id", "neighbor_id")
    exact = sim.brute_force_knn(surviving, queries, k=10).select(
        "query_id", "neighbor_id"
    )
    diff = (
        served.withColumn("__s__", F.lit(1))
        .join(
            inplan.withColumn("__r__", F.lit(1)),
            ["query_id", "neighbor_id"],
            "full_outer",
        )
        .groupBy("query_id")
        .agg(
            F.sum(
                F.when(
                    F.col("__s__").isNull() | F.col("__r__").isNull(), 1
                ).otherwise(0)
            ).alias("__n_diff__"),
            F.sum(
                F.when(
                    F.col("__s__").isNotNull()
                    & (F.col("neighbor_id") % 7 == 0),
                    1,
                ).otherwise(0)
            ).alias("__n_deleted__"),
        )
    )
    return (
        _ann_recall_check(exact, served, bound=0.5)
        .join(diff, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            "recall_ok",
            (F.coalesce(F.col("__n_diff__"), F.lit(0)) == 0).alias(
                "identical_to_inplan"
            ),
            (F.coalesce(F.col("__n_deleted__"), F.lit(0)) == 0).alias(
                "no_deleted_served"
            ),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Index staleness as a NUMBER (operators/ann_index.py::
# ann_drift_report): codebooks fit at corpus v1 quietly degrade as the
# corpus drifts, and "refit now" should be a measured threshold, not a
# guess.  The report is the mean ADC quantization error — the residual
# the served ranking actually carries — in ONE map-only scan per
# corpus version.  Graded end-to-end on the lifecycle claim: the
# fitted corpus scores low, a drifted corpus (element-wise squared
# embeddings — a deliberately strong distribution shift) scores
# HIGHER under the stale index, and refitting on the drifted corpus
# brings the error back DOWN — the three comparisons that make the
# report actionable.
# ---------------------------------------------------------------------------
@reg.query(
    "q_emb_ann_drift_report",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           TRUE AS drift_detected,
           TRUE AS refit_recovers
    FROM embeddings
    """,
)
def q_emb_ann_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization-drift report over the persisted index's lifecycle:
    score the fitted corpus, a drifted twin (embedding elements
    squared — shifts every vector's direction distribution off the
    trained manifold), and the drifted twin under a FRESH refit.
    Grades ``drift_detected`` (stale-index error strictly above the
    fit-corpus error) and ``refit_recovers`` (refit error strictly
    below the stale error) — the two inequalities an operator's
    refit-now alert rests on.  Cost: three map-only scans + two
    bounded fit collects for the refit; no shuffle beyond the three
    single-row aggregates."""
    from fortymhz_spark.operators.ann_index import (
        ann_drift_report,
        build_ann_index,
        load_ann_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = load_ann_index(spark, _ann_index_table(spark, sf_dir))
    drifted = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x * x).alias("embedding"),
    )
    r_fit = ann_drift_report(emb, idx, label="fit").first()
    r_stale = ann_drift_report(drifted, idx, label="drifted").first()
    refit_dir = scratch_dir("annrefit_")
    build_ann_index(
        drifted, refit_dir, n_coarse=idx.n_coarse, n_sub=idx.n_sub,
        n_cells=idx.n_cells,
    )
    r_refit = ann_drift_report(
        drifted, load_ann_index(spark, refit_dir), label="refit"
    ).first()
    return spark.createDataFrame(
        [
            (
                int(r_fit["n_vectors"]),
                bool(r_stale["mean_quant_err"] > r_fit["mean_quant_err"]),
                bool(r_refit["mean_quant_err"] < r_stale["mean_quant_err"]),
            )
        ],
        "n_vectors long, drift_detected boolean, refit_recovers boolean",
    )


# ---------------------------------------------------------------------------
# The drift loop CLOSED (operators/ann_index.py::refit_ann_codes —
# round-10, the r9 verdict's item #4): ann_drift_report made "refit
# now" a number; refit_ann_codes ACTS on it.  Below a declared
# threshold the call is a write-free no-op; above it, index AND codes
# rebuild on the current corpus as CAS-pinned new versions,
# byte-identical to a manual rebuild, with the old pair still
# time-travelable and load_ann_serving resolving a consistent pair
# throughout.  Graded on all five lifecycle claims at once.
# ---------------------------------------------------------------------------
@reg.query(
    "q_emb_ann_refit",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_codes,
           CAST(1 AS BIGINT) AS noop_version,
           CAST(2 AS BIGINT) AS refit_version,
           TRUE AS below_threshold_noop,
           TRUE AS refit_triggered,
           TRUE AS matches_manual_rebuild,
           TRUE AS refit_recovers,
           TRUE AS old_pair_travelable
    FROM embeddings
    """,
)
def q_emb_ann_refit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift-triggered refit end to end: build index+codes on the
    fitted corpus, pick the policy threshold between the measured
    fitted and drifted errors, then grade (a) the healthy corpus is a
    TRUE no-op (versions unchanged, nothing written), (b) the drifted
    corpus (elements squared — the drift-report fixture) triggers a
    refit publishing index v2 + codes v2, (c) the refit codes table is
    element-identical to a MANUAL rebuild of the same structural
    sizing on the drifted corpus, (d) drift strictly recovers under
    the new index, and (e) the v1 pair still serves via
    load_ann_serving's pinned form (time travel).  ``n_codes`` (the
    one raw-value column) is the refit table's row count — the oracle
    counts the corpus.  Cost: two bounded index fits (refit + manual
    twin), three map-only encodes, four drift scans, one
    symmetric-difference check on the slim codes table."""
    from fortymhz_spark.operators.ann_index import (
        ann_drift_report,
        build_ann_codes,
        build_ann_index,
        load_ann_codes,
        load_ann_index,
        load_ann_serving,
        refit_ann_codes,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx_dir = scratch_dir("refit_idx_")
    codes_dir = scratch_dir("refit_codes_")
    build_ann_index(emb, idx_dir, n_coarse=None, n_sub=8, n_cells=16)
    idx1 = load_ann_index(spark, idx_dir)
    build_ann_codes(emb, codes_dir, idx1, corpus_version=1)
    drifted = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x * x).alias("embedding"),
    )
    fit_err = float(ann_drift_report(emb, idx1).first()["mean_quant_err"])
    stale_err = float(
        ann_drift_report(drifted, idx1).first()["mean_quant_err"]
    )
    threshold = (fit_err + stale_err) / 2
    r_noop = refit_ann_codes(
        emb, idx_dir, codes_dir, drift_threshold=threshold
    )
    r_refit = refit_ann_codes(
        drifted, idx_dir, codes_dir, drift_threshold=threshold,
        corpus_version=2,
    )
    idx2, codes2 = load_ann_serving(spark, idx_dir, codes_dir)
    after_err = float(
        ann_drift_report(drifted, idx2).first()["mean_quant_err"]
    )
    man_idx_dir = scratch_dir("refit_manidx_")
    man_codes_dir = scratch_dir("refit_mancodes_")
    build_ann_index(
        drifted, man_idx_dir, n_coarse=None, n_sub=8, n_cells=16
    )
    man_idx = load_ann_index(spark, man_idx_dir)
    build_ann_codes(drifted, man_codes_dir, man_idx, corpus_version=2)
    man = load_ann_codes(
        spark, man_codes_dir, man_idx, corpus_version=2
    )
    # Round-13 (guide §2.4): the two-sided exceptAll was TWO anti-join
    # shuffle passes over both code tables for one boolean.  The same
    # multiset symmetric-difference size — Σ over distinct rows of
    # |count_a − count_b|, exactly exceptAll(a,b).count() +
    # exceptAll(b,a).count() — falls out of ONE union + grouped count
    # (map-side-combined, one shuffle) and a single-row reduce.
    _cc = codes2.columns
    _sym = (
        codes2.select(*_cc).withColumn("__side__", F.lit(1))
        .unionByName(man.select(*_cc).withColumn("__side__", F.lit(-1)))
        .groupBy(*_cc)
        .agg(
            F.sum("__side__").alias("__d__"),
            F.sum(F.when(F.col("__side__") == 1, 1).otherwise(0)).alias(
                "__na__"
            ),
        )
        # n_codes piggybacks on the same pass: Σ side==1 rows IS
        # codes2.count(), so the tail's separate codes scan goes away
        .agg(
            F.sum(F.abs(F.col("__d__"))).alias("n"),
            F.sum("__na__").alias("n_codes"),
        )
        .first()
    )
    n_mismatch = int(_sym["n"] or 0)
    n_codes2 = int(_sym["n_codes"] or 0)
    old_idx, old_codes = load_ann_serving(
        spark, idx_dir, codes_dir, codes_version=1, corpus_version=1
    )
    return spark.createDataFrame(
        [
            (
                n_codes2,
                int(r_noop["index_version"]),
                int(r_refit["index_version"]),
                bool(r_noop["refit"] is False and r_noop["codes_version"] == 1),
                bool(r_refit["refit"] is True and r_refit["codes_version"] == 2),
                bool(n_mismatch == 0),
                bool(after_err < r_refit["mean_quant_err"]),
                bool(
                    old_idx.version == 1
                    and old_codes.count() == emb.count()
                ),
            )
        ],
        "n_codes long, noop_version long, refit_version long, "
        "below_threshold_noop boolean, refit_triggered boolean, "
        "matches_manual_rebuild boolean, refit_recovers boolean, "
        "old_pair_travelable boolean",
    )


# ---------------------------------------------------------------------------
# The tombstone-mass refit arm (round-11, the r10 verdict's item #5):
# heavy deletes leave cells sparse and the ⌈√N⌉ coarse sizing stale
# WITHOUT moving quantization error, so the drift arm alone never
# fires.  codes_deleted_fraction measures the net shrinkage since the
# current fit from MANIFEST row counts alone (zero scans);
# refit_ann_codes(deleted_fraction_threshold=) acts on it with the
# same CAS/no-op discipline as the drift arm.  Raw-value columns the
# oracle recomputes independently: corpus/survivor/deleted counts and
# the post-refit version number (the r10 verdict's item #8 pattern).
# ---------------------------------------------------------------------------
@reg.query(
    "q_emb_ann_refit_tombstone",
    oracle="""
    SELECT CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT)
             AS n_corpus,
           CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id % 3 = 0)
                AS BIGINT) AS n_survivors,
           CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id % 3 <> 0)
                AS BIGINT) AS n_deleted,
           CAST(2 AS BIGINT) AS refit_version,
           TRUE AS fresh_build_zero,
           TRUE AS fraction_exact,
           TRUE AS noop_below_threshold,
           TRUE AS fired_above_threshold,
           TRUE AS fraction_spent
    """,
)
def q_emb_ann_refit_tombstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deleted-fraction refit arm end to end: build index+codes on
    the full corpus, tombstone the ``vec_id % 3 != 0`` two-thirds,
    then grade (a) a fresh build measures zero, (b) the post-delete
    fraction equals the manifest-math expectation exactly, (c) a
    threshold ABOVE the measured fraction
    is a write-free no-op even with the drift arm pinned unreachable,
    (d) a threshold below fires the refit (new index + codes versions)
    although drift never crossed, and (e) the refit spends the
    tombstone mass (fraction back to 0, codes rows == survivors).
    ``n_corpus``/``n_survivors``/``n_deleted``/``refit_version`` are
    raw values the DuckDB oracle recomputes from the same parquet.
    Cost: one fit + one encode + one merge-delete + the refit's
    fit/encode — all bounded; the fraction checks are manifest-only."""
    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        codes_deleted_fraction,
        delete_ann_codes,
        load_ann_codes,
        load_ann_index,
        refit_ann_codes,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # Round-13 (guide §1.2 step 1): corpus/survivor/deleted counts in
    # ONE aggregate scan instead of three (n_corpus, doomed.count(),
    # survivors.count() were three separate corpus passes for three
    # numbers one pass produces).
    # n_deleted is its own null-excluding sum, NOT n_corpus - n_survivors:
    # a NULL vec_id row is counted by neither predicate (matching both the
    # doomed filter and the oracle's `vec_id % 3 <> 0`), so subtraction
    # would misattribute it to the deleted side (round-13 advisor item).
    _counts = emb.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("vec_id") % 3 == 0).cast("long")).alias("surv"),
        F.sum((F.col("vec_id") % 3 != 0).cast("long")).alias("del"),
    ).first()
    n_corpus = int(_counts["n"])
    n_survivors = int(_counts["surv"] or 0)
    n_deleted = int(_counts["del"] or 0)
    idx_dir = scratch_dir("tomb_idx_")
    codes_dir = scratch_dir("tomb_codes_")
    build_ann_index(emb, idx_dir, n_coarse=None, n_sub=8, n_cells=16)
    idx1 = load_ann_index(spark, idx_dir)
    build_ann_codes(emb, codes_dir, idx1, corpus_version=1)
    frac0 = codes_deleted_fraction(codes_dir)

    doomed = emb.filter(F.col("vec_id") % 3 != 0)
    survivors = emb.filter(F.col("vec_id") % 3 == 0)
    delete_ann_codes(doomed, codes_dir, idx1)
    frac = codes_deleted_fraction(codes_dir)
    fraction_exact = abs(frac - (1.0 - n_survivors / n_corpus)) < 1e-12

    r_noop = refit_ann_codes(
        survivors, idx_dir, codes_dir,
        drift_threshold=1e9,
        deleted_fraction_threshold=min(0.99, frac + 0.05),
    )
    r_fire = refit_ann_codes(
        survivors, idx_dir, codes_dir,
        drift_threshold=1e9,
        deleted_fraction_threshold=max(0.0, frac - 0.05),
        corpus_version=2,
    )
    idx2 = load_ann_index(spark, idx_dir)
    codes2 = load_ann_codes(spark, codes_dir, idx2, corpus_version=2)
    frac_after = codes_deleted_fraction(codes_dir)
    return spark.createDataFrame(
        [
            (
                int(n_corpus),
                int(n_survivors),
                int(n_deleted),
                int(r_fire["index_version"]),
                bool(frac0 == 0.0),
                bool(fraction_exact),
                bool(
                    r_noop["refit"] is False
                    and r_noop["index_version"] == 1
                    and abs(r_noop["deleted_fraction"] - frac) < 1e-12
                ),
                bool(
                    r_fire["refit"] is True
                    and r_fire["codes_version"] > r_noop["codes_version"]
                ),
                bool(frac_after == 0.0 and codes2.count() == n_survivors),
            )
        ],
        "n_corpus long, n_survivors long, n_deleted long, "
        "refit_version long, fresh_build_zero boolean, "
        "fraction_exact boolean, noop_below_threshold boolean, "
        "fired_above_threshold boolean, fraction_spent boolean",
    )


# ---------------------------------------------------------------------------
# Residual PQ serving: FAISS's by_residual=true as recorded index
# GEOMETRY — codebooks train on and codes quantize
# (vn - normalized-coarse-anchor), distance tables are per-(query,
# probed cell).  Measured across three decades the RAW form wins
# recall and wall on this corpus (SCALE.md), so raw stays the
# operator default; this query pins the residual mode's own serving
# contract end to end: persisted round-trip byte-identity and the
# family recall band.  Query slice 60 ≤ vec_id < 70.
# ---------------------------------------------------------------------------
@reg.query(
    "q_emb_ann_ivfpq_residual",
    oracle="""
    SELECT vec_id AS query_id,
           CAST(LEAST(10, (SELECT COUNT(*) - 1 FROM embeddings))
                AS BIGINT) AS n_exact,
           TRUE AS recall_ok,
           TRUE AS identical_to_refit
    FROM embeddings WHERE vec_id >= 60 AND vec_id < 70 ORDER BY query_id
    """,
)
def q_emb_ann_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ top-10 for query vectors with 60 <= vec_id < 70 served
    from a PERSISTED residual index (by_residual=true), graded on the
    family recall band against exact truth and on zero symmetric
    difference vs an in-process residual refit of the same sizing —
    the mode is inherited from the artifact (a query cannot ask for
    the wrong space) and the persisted fit is byte-identical to a
    fresh one."""
    from fortymhz_spark.operators.ann_index import load_ann_index
    from fortymhz_spark.queries.llm import _ann_recall_check

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter((F.col("vec_id") >= 60) & (F.col("vec_id") < 70))
    idx = load_ann_index(
        spark, _ann_residual_index_table(spark, sf_dir)
    )
    served = sim.ivfpq_knn(
        emb, queries, k=10, nprobe=None, rerank=None, index=idx
    ).select("query_id", "neighbor_id")
    refit = sim.ivfpq_knn(
        emb, queries, k=10, n_coarse=None, nprobe=None, n_sub=8,
        n_cells=16, rerank=None, by_residual=True,
    ).select("query_id", "neighbor_id")
    exact = sim.brute_force_knn(emb, queries, k=10).select(
        "query_id", "neighbor_id"
    )
    diff = (
        served.withColumn("__s__", F.lit(1))
        .join(
            refit.withColumn("__r__", F.lit(1)),
            ["query_id", "neighbor_id"],
            "full_outer",
        )
        .groupBy("query_id")
        .agg(
            F.sum(
                F.when(
                    F.col("__s__").isNull() | F.col("__r__").isNull(), 1
                ).otherwise(0)
            ).alias("__n_diff__")
        )
    )
    return (
        _ann_recall_check(exact, served, bound=0.5)
        .join(diff, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            "recall_ok",
            (F.coalesce(F.col("__n_diff__"), F.lit(0)) == 0).alias(
                "identical_to_refit"
            ),
        )
        .orderBy("query_id")
    )


@build_once
def _ann_residual_index_table(spark: SparkSession, sf_dir: str) -> str:
    """The RESIDUAL-mode index — _ann_index_table with
    by_residual=true."""
    from fortymhz_spark.operators.ann_index import build_ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    table_dir = scratch_dir("annresidx_")
    build_ann_index(
        emb, table_dir, n_coarse=None, n_sub=8, n_cells=16,
        by_residual=True,
    )
    return table_dir


# ---------------------------------------------------------------------------
# OPQ-rotated PQ serving: parametric OPQ (Ge et al., CVPR 2013 —
# eigenvalue-balanced PCA rotation before the subquantizer split) as
# recorded index GEOMETRY, exactly like by_residual: knob on build,
# inherited by extend/delete/refit/serve, mode-mixing rejected by the
# pairing check.  This query pins the rotated mode's serving contract:
# persisted round-trip byte-identity vs an in-process OPQ refit, the
# family recall band vs exact truth, and the rotation's isometry
# invariant (RRᵀ = I — a non-orthogonal matrix would distort every
# ADC distance).  Query slice 70 ≤ vec_id < 80.  The raw-vs-opq
# DEFAULT decision follows the measured decade soak (SCALE.md), the
# same keep-whichever-wins rule that settled by_residual.
# ---------------------------------------------------------------------------
@build_once
def _ann_opq_index_table(spark: SparkSession, sf_dir: str) -> str:
    """The OPQ-rotated index — _ann_index_table with rotation='opq'."""
    from fortymhz_spark.operators.ann_index import build_ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    table_dir = scratch_dir("annopqidx_")
    build_ann_index(
        emb, table_dir, n_coarse=None, n_sub=8, n_cells=16,
        rotation="opq",
    )
    return table_dir


@reg.query(
    "q_emb_ann_opq",
    oracle="""
    SELECT vec_id AS query_id,
           CAST(LEAST(10, (SELECT COUNT(*) - 1 FROM embeddings))
                AS BIGINT) AS n_exact,
           CAST((SELECT LEN(embedding) FROM embeddings
                 ORDER BY vec_id LIMIT 1) AS BIGINT) AS rot_dim,
           TRUE AS rot_orthogonal,
           TRUE AS recall_ok,
           TRUE AS identical_to_refit
    FROM embeddings WHERE vec_id >= 70 AND vec_id < 80 ORDER BY query_id
    """,
)
def q_emb_ann_opq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ top-10 for query vectors with 70 <= vec_id < 80 served
    from a PERSISTED OPQ-rotated index (rotation='opq'), graded on the
    family recall band against exact truth, on zero symmetric
    difference vs an in-process OPQ refit of the same sizing (the
    rotation is inherited from the artifact — a query cannot ask for
    the wrong space), and on the rotation's isometry invariant
    (max |RRᵀ − I| < 1e-9; ``rot_dim`` — the matrix size the oracle
    recomputes as the embedding dimension — is the second raw-value
    column)."""
    import numpy as np

    from fortymhz_spark.operators.ann_index import load_ann_index
    from fortymhz_spark.queries.llm import _ann_recall_check

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter((F.col("vec_id") >= 70) & (F.col("vec_id") < 80))
    idx = load_ann_index(spark, _ann_opq_index_table(spark, sf_dir))
    R = np.asarray(idx.rot, dtype=np.float64)
    orth = bool(
        R.shape == (idx.dim, idx.dim)
        and np.abs(R @ R.T - np.eye(idx.dim)).max() < 1e-9
    )
    served = sim.ivfpq_knn(
        emb, queries, k=10, nprobe=None, rerank=None, index=idx
    ).select("query_id", "neighbor_id")
    refit = sim.ivfpq_knn(
        emb, queries, k=10, n_coarse=None, nprobe=None, n_sub=8,
        n_cells=16, rerank=None, rotation="opq",
    ).select("query_id", "neighbor_id")
    exact = sim.brute_force_knn(emb, queries, k=10).select(
        "query_id", "neighbor_id"
    )
    diff = (
        served.withColumn("__s__", F.lit(1))
        .join(
            refit.withColumn("__r__", F.lit(1)),
            ["query_id", "neighbor_id"],
            "full",
        )
        .groupBy("query_id")
        .agg(
            F.sum(
                F.when(
                    F.col("__s__").isNull() | F.col("__r__").isNull(), 1
                ).otherwise(0)
            ).alias("__n_diff__")
        )
    )
    return (
        _ann_recall_check(exact, served, bound=0.5)
        .join(diff, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.lit(int(idx.dim)).cast("long").alias("rot_dim"),
            F.lit(orth).alias("rot_orthogonal"),
            "recall_ok",
            (F.coalesce(F.col("__n_diff__"), F.lit(0)) == 0).alias(
                "identical_to_refit"
            ),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Anisotropy-aware AUTOMATIC rotation selection: the decade soaks
# measured a per-corpus-class rule (isotropic → raw, OPQ is pure
# overhead; anisotropic → opq, +0.20/+0.49/+0.64 recall at tight
# rerank), and rotation="auto" applies it without the operator
# knowing their corpus class: it decides at build time from the
# training sample's contiguous-block moment-mass statistic against a
# pre-declared threshold, records decision + statistic + threshold as
# auditable index geometry, and resolves to fits BYTE-IDENTICAL to
# the explicit modes.  Graded from the artifacts alone: both corpus
# classes built with the same "auto", each landing on its measured
# winner, the anisotropic decision's matrix orthogonal, and the auto
# fit indistinguishable from the explicit one.
# ---------------------------------------------------------------------------
def _planted_anisotropic_emb(emb: DataFrame) -> DataFrame:
    """The decade soak's anisotropic corpus class
    (tools/scale_soak.py --pq-opq-aniso): per-dimension exp(-j/8)
    decaying scales, so variance piles into the first contiguous
    subquantizer blocks — OPQ's win case, planted deterministically."""
    import math

    dim = len(emb.select("embedding").first()[0])
    scales = [float(math.exp(-j / 8.0)) for j in range(dim)]
    return emb.select(
        "vec_id",
        F.zip_with(
            "embedding",
            F.array(*[F.lit(s) for s in scales]),
            lambda x, s: x * s,
        ).alias("embedding"),
    )


@build_once
def _ann_auto_rotation_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str, str]:
    """rotation='auto' indexes over BOTH measured corpus classes — the
    raw (near-isotropic) embeddings and the planted-anisotropy twin —
    plus the explicit rotation='opq' build of the anisotropic corpus
    the auto decision must be byte-identical to."""
    from fortymhz_spark.operators.ann_index import build_ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    aniso = _planted_anisotropic_emb(emb).localCheckpoint()
    kw = dict(n_coarse=None, n_sub=8, n_cells=16)
    iso_dir = scratch_dir("annauto_iso_")
    build_ann_index(emb, iso_dir, rotation="auto", **kw)
    an_dir = scratch_dir("annauto_aniso_")
    build_ann_index(aniso, an_dir, rotation="auto", **kw)
    exp_dir = scratch_dir("annauto_explicit_")
    build_ann_index(aniso, exp_dir, rotation="opq", **kw)
    return iso_dir, an_dir, exp_dir


@reg.query(
    "q_emb_ann_rotation_auto",
    oracle="""
    SELECT CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT) AS n_corpus,
           CAST(LEAST(4096, CEIL(SQRT((SELECT COUNT(*) FROM embeddings))))
                AS BIGINT) AS n_coarse,
           CAST((SELECT LEN(embedding) FROM embeddings
                 ORDER BY vec_id LIMIT 1) AS BIGINT) AS rot_dim,
           TRUE AS iso_picked_raw,
           TRUE AS aniso_picked_opq,
           TRUE AS explicit_wins,
           TRUE AS auto_matches_explicit,
           TRUE AS rot_orthogonal
    FROM embeddings LIMIT 1
    """,
)
def q_emb_ann_rotation_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build rotation='auto' indexes over BOTH measured corpus classes
    and grade the decision from the ARTIFACTS alone:
    ``iso_picked_raw`` — the near-isotropic corpus resolves to raw
    with its recorded statistic BELOW the recorded threshold (the r11
    rule: rotation is pure overhead there); ``aniso_picked_opq`` —
    the planted exp(-j/8) corpus resolves to opq with the statistic
    above threshold (the r12 rule), and both record
    ``rotation_requested='auto'``; ``explicit_wins`` — an explicit
    ``rotation='opq'`` on the ISOTROPIC corpus still rotates (the
    rule never overrides the operator); ``auto_matches_explicit`` —
    the auto-resolved opq fit is byte-identical (rotation matrix AND
    codebooks) to the explicit opq build of the same corpus, so auto
    is a decision layer, never a third geometry;
    ``rot_orthogonal`` — max |RRᵀ − I| < 1e-9 on the decided matrix.
    Raw oracle-recomputed columns: the corpus count, the auto-sized
    coarse-cell count (⌈√N⌉ capped at 4096), and the rotation-matrix
    dimension (the embedding dim — DuckDB recomputes all three from
    the parquet).  Cost: three cached bounded-sample builds + one
    tiny explicit build for the override check; zero corpus-sized
    shuffles."""
    import numpy as np

    from fortymhz_spark.operators.ann_index import (
        build_ann_index,
        load_ann_index,
    )
    from fortymhz_spark.sources.snapshots import resolve_artifact

    emb = load_table(spark, sf_dir, "embeddings")
    iso_dir, an_dir, exp_dir = _ann_auto_rotation_tables(spark, sf_dir)
    _, iso_p = resolve_artifact(iso_dir, "ann_index ")
    _, an_p = resolve_artifact(an_dir, "ann_index ")
    an_idx = load_ann_index(spark, an_dir)
    exp_idx = load_ann_index(spark, exp_dir)

    iso_picked_raw = bool(
        iso_p["rotation"] is None
        and iso_p["rotation_requested"] == "auto"
        and 0 < iso_p["anisotropy"] < iso_p["anisotropy_threshold"]
    )
    aniso_picked_opq = bool(
        an_p["rotation"] == "opq"
        and an_p["rotation_requested"] == "auto"
        and an_p["anisotropy"] >= an_p["anisotropy_threshold"]
    )
    # the operator's explicit mode always wins the rule: opq on the
    # ISOTROPIC corpus (where auto says raw) still rotates — a tiny
    # n_coarse=8 build, only the recorded decision is graded
    ow_dir = scratch_dir("annauto_ow_")
    build_ann_index(
        emb, ow_dir, n_coarse=8, n_sub=8, n_cells=16, rotation="opq"
    )
    _, ow_p = resolve_artifact(ow_dir, "ann_index ")
    explicit_wins = bool(
        ow_p["rotation"] == "opq"
        and ow_p["rotation_requested"] == "opq"
        and ow_p["anisotropy"] < ow_p["anisotropy_threshold"]
    )
    auto_matches_explicit = bool(
        an_idx.rot == exp_idx.rot
        and an_idx.books == exp_idx.books
        and an_idx.coarse == exp_idx.coarse
    )
    R = np.asarray(an_idx.rot, dtype=np.float64)
    rot_orthogonal = bool(
        R.shape == (an_idx.dim, an_idx.dim)
        and np.abs(R @ R.T - np.eye(an_idx.dim)).max() < 1e-9
    )
    return spark.createDataFrame(
        [
            (
                int(emb.count()),
                int(an_idx.n_coarse),
                int(an_idx.dim),
                iso_picked_raw,
                aniso_picked_opq,
                explicit_wins,
                auto_matches_explicit,
                rot_orthogonal,
            )
        ],
        "n_corpus long, n_coarse long, rot_dim long, "
        "iso_picked_raw boolean, aniso_picked_opq boolean, "
        "explicit_wins boolean, auto_matches_explicit boolean, "
        "rot_orthogonal boolean",
    )


# ---------------------------------------------------------------------------
# Metadata-FILTERED ANN serving: the vector-store feature —
# top-k among only the rows matching a predicate, served from ONE
# shared persisted index with the metadata AT REST in the codes table
# (build_ann_codes(meta_cols=...)), so the predicate reaches the codes
# scan as a parquet PushedFilter with zero extra joins
# (plan-asserted in tests/test_ann_recall.py).  Pre-filter, not
# post-filter: candidates are restricted BEFORE ranking, so recall
# against the filtered population survives selective predicates.  The
# exact ground-truth half (real SQL oracle) is q_emb_knn_filtered.
# Query slice 80 ≤ vec_id < 90, filter label < 4 (~half the corpus).
# ---------------------------------------------------------------------------
@build_once
def _ann_codes_meta_table(spark: SparkSession, sf_dir: str) -> str:
    """The shared index's codes with label carried at rest — the
    filtered-serving artifact."""
    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        load_ann_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = load_ann_index(spark, _ann_index_table(spark, sf_dir))
    table_dir = scratch_dir("anncodesmeta_")
    build_ann_codes(
        emb, table_dir, idx, corpus_version=1, meta_cols=["label"]
    )
    return table_dir


@reg.query(
    "q_emb_ann_filtered",
    oracle="""
    SELECT vec_id AS query_id,
           CAST(LEAST(10, (SELECT COUNT(*) FROM embeddings WHERE label < 4)
                          - CASE WHEN label < 4 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exact,
           TRUE AS recall_ok,
           TRUE AS identical_to_inplan,
           TRUE AS only_filtered_served
    FROM embeddings WHERE vec_id >= 80 AND vec_id < 90 ORDER BY query_id
    """,
)
def q_emb_ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ top-10 among ONLY the label<4 vectors for query vectors
    80 ≤ vec_id < 90, served from the shared persisted index + the
    metadata-at-rest codes table, graded on the family recall band
    against the FILTERED exact truth, byte-identity to the in-plan
    twin over the filtered corpus, and ``only_filtered_served`` (no
    out-of-filter row reaches a served result — the claim post-filter
    designs can only approximate)."""
    from fortymhz_spark.operators.ann_index import (
        load_ann_codes,
        load_ann_index,
    )
    from fortymhz_spark.queries.llm import _ann_recall_check

    emb = load_table(spark, sf_dir, "embeddings")
    pred = F.col("label") < 4
    queries = emb.filter(
        (F.col("vec_id") >= 80) & (F.col("vec_id") < 90)
    ).select("vec_id", "embedding")
    idx = load_ann_index(spark, _ann_index_table(spark, sf_dir))
    codes = load_ann_codes(
        spark, _ann_codes_meta_table(spark, sf_dir), idx, corpus_version=1
    )
    served = sim.ivfpq_knn(
        emb, queries, k=10, nprobe=None, rerank=None, index=idx,
        codes=codes, corpus_filter=pred,
    ).select("query_id", "neighbor_id")
    inplan = sim.ivfpq_knn(
        emb, queries, k=10, nprobe=None, rerank=None, index=idx,
        corpus_filter=pred,
    ).select("query_id", "neighbor_id")
    filtered = emb.filter(pred)
    exact = sim.brute_force_knn(filtered, queries, k=10).select(
        "query_id", "neighbor_id"
    )
    diff = (
        served.withColumn("__s__", F.lit(1))
        .join(
            inplan.withColumn("__r__", F.lit(1)),
            ["query_id", "neighbor_id"],
            "full_outer",
        )
        .join(
            filtered.select(F.col("vec_id").alias("neighbor_id"))
            .withColumn("__f__", F.lit(1)),
            ["neighbor_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.sum(
                F.when(
                    F.col("__s__").isNull() | F.col("__r__").isNull(), 1
                ).otherwise(0)
            ).alias("__n_diff__"),
            F.sum(
                F.when(
                    F.col("__s__").isNotNull() & F.col("__f__").isNull(), 1
                ).otherwise(0)
            ).alias("__n_outside__"),
        )
    )
    return (
        _ann_recall_check(exact, served, bound=0.5)
        .join(diff, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            "recall_ok",
            (F.coalesce(F.col("__n_diff__"), F.lit(0)) == 0).alias(
                "identical_to_inplan"
            ),
            (F.coalesce(F.col("__n_outside__"), F.lit(0)) == 0).alias(
                "only_filtered_served"
            ),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Serving-knob auto-tuning (operators/ann_index.py::
# tune_ann_serving): the FAISS hand-ritual — sweep nprobe, probe
# recall on held-out queries, pick the knee — as an operator.  One
# exact pass for ground truth on a strided sample, a doubling sweep,
# then binary search: the returned nprobe is EXACTLY minimal for the
# declared recall SLO, measured through the real at-rest serving path
# (persisted index + codes).  Graded on the decision's own audit
# trail: the target is met at the returned knob, nprobe-1 was
# measured failing (minimality), and the knob respects n_coarse.
# ---------------------------------------------------------------------------
@reg.query(
    "q_emb_ann_tuned",
    oracle="""
    SELECT CAST(LEAST(16, (SELECT COUNT(*) FROM embeddings
                           WHERE vec_id % 13 = 5)) AS BIGINT) AS n_queries,
           TRUE AS met_target,
           TRUE AS minimal,
           TRUE AS within_index
    FROM embeddings LIMIT 1
    """,
)
def q_emb_ann_tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tune nprobe for recall@10 ≥ 0.7 against the shared persisted
    index + codes-at-rest pair and grade the decision: ``met_target``
    (the returned knob's measured recall clears the SLO),
    ``minimal`` (nprobe == 1, or the audit trail measured nprobe-1
    BELOW the target — the binary search's exit invariant, re-checked
    here from the evaluated list rather than trusted), and
    ``within_index`` (1 ≤ nprobe ≤ n_coarse).  ``n_queries`` is the
    strided sample's true size (the oracle recomputes it from the
    parquet).  Cost: one exact ground-truth pass + O(log n_coarse)
    16-row served queries."""
    from fortymhz_spark.operators.ann_index import (
        load_ann_codes,
        load_ann_index,
        tune_ann_serving,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = load_ann_index(spark, _ann_index_table(spark, sf_dir))
    codes = load_ann_codes(
        spark, _ann_codes_table(spark, sf_dir), idx, corpus_version=1
    )
    target = 0.7
    res = tune_ann_serving(
        emb, idx, k=10, target_recall=target, sample_queries=16,
        codes=codes,
    )
    ev = dict(res["evaluated"])
    n_q = emb.filter((F.col("vec_id") % 13) == 5).count()
    n_q = min(16, n_q)
    return spark.createDataFrame(
        [
            (
                int(n_q),
                bool(res["met"] and res["recall"] >= target),
                bool(
                    res["nprobe"] == 1
                    or (
                        res["nprobe"] - 1 in ev
                        and ev[res["nprobe"] - 1] < target
                    )
                ),
                bool(1 <= res["nprobe"] <= idx.n_coarse),
            )
        ],
        "n_queries long, met_target boolean, minimal boolean, "
        "within_index boolean",
    )


@build_once
def _ann_tuning_table(spark: SparkSession, sf_dir: str) -> str:
    """The first caller runs the tuner with ``tuning_dir=`` (the
    one-call tune-and-record form) against the shared persisted index
    + codes pair; everyone else only loads the recorded operating
    point — exactly the deployment split (tune offline per (index,
    corpus) version, serve many)."""
    from fortymhz_spark.operators.ann_index import (
        load_ann_codes,
        load_ann_index,
        tune_ann_serving,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = load_ann_index(spark, _ann_index_table(spark, sf_dir))
    codes = load_ann_codes(
        spark, _ann_codes_table(spark, sf_dir), idx, corpus_version=1
    )
    table_dir = scratch_dir("anntun_")
    tune_ann_serving(
        emb, idx, k=10, target_recall=0.7, sample_queries=16,
        codes=codes, tuning_dir=table_dir, codes_version=1,
    )
    return table_dir


# ---------------------------------------------------------------------------
# Persisted serving knobs (round-12, operators/ann_index.py::
# save_ann_tuning / load_ann_tuning) — the round-11 verdict's gap
# made artifact state: the tuner measured a 0.822-recall operating
# point at the 100x decade while out-of-the-box serving defaults
# measured 0.616, but nothing recorded the knobs.  Now
# tune_ann_serving(tuning_dir=) persists the accepted point next to
# the (index, codes) version pair, load_ann_serving(tuning_dir=)
# attaches it, and ivfpq_knn(index=...) with omitted knobs serves AT
# the measured point.  Graded end to end on the artifact alone (no
# trust in the tuner's return value): the knob-free serve is
# byte-identical to an explicit serve at the RECORDED knobs, its
# recall re-measured against fresh exact ground truth clears the
# recorded SLO, and a tuning row paired to a different index version
# is rejected as stale.
# ---------------------------------------------------------------------------
@reg.query(
    "q_emb_ann_tuned_persisted",
    oracle="""
    SELECT CAST(LEAST(16, (SELECT COUNT(*) FROM embeddings
                           WHERE vec_id % 13 = 5)) AS BIGINT) AS n_queries,
           CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT) AS n_corpus,
           CAST(LEAST(4096, CEIL(SQRT((SELECT COUNT(*) FROM embeddings))))
                AS BIGINT) AS n_coarse,
           TRUE AS tuned_point_served,
           TRUE AS served_meets_slo,
           TRUE AS stale_rejected
    FROM embeddings LIMIT 1
    """,
)
def q_emb_ann_tuned_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve at the PERSISTED tuned operating point and grade the
    whole lifecycle from the artifact: ``tuned_point_served`` — the
    knob-free ``ivfpq_knn(index=..., codes=...)`` through
    ``load_ann_serving(tuning_dir=...)`` returns ZERO symmetric
    difference vs an explicit serve at the knobs the artifact
    RECORDS (read back via ``load_ann_tuning``, not taken from the
    tuner's return value); ``served_meets_slo`` — recall of that
    served result, re-measured here against a fresh brute-force
    exact pass over the tuner's own held-out sample
    (``tuning_query_sample`` — the shared copy), clears the recorded
    target; ``stale_rejected`` — a tuning row written against a
    DIFFERENT index version loads as None (the refit-invalidation
    contract: stale knobs must never ride a new geometry).  Raw
    oracle-recomputed columns: the sample size, the corpus count,
    and the index's auto-sized coarse-cell count (⌈√N⌉ capped at
    4096 — recomputed by DuckDB from the parquet).  Cost: the
    per-process tune (amortized via the artifact cache — the
    deployment split), then one exact pass over sample × corpus +
    two cell-bounded serves + two tiny artifact reads."""
    import warnings

    from fortymhz_spark.operators.ann_index import (
        load_ann_index,
        load_ann_serving,
        load_ann_tuning,
        save_ann_tuning,
        tuning_query_sample,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx_dir = _ann_index_table(spark, sf_dir)
    codes_dir = _ann_codes_table(spark, sf_dir)
    tune_dir = _ann_tuning_table(spark, sf_dir)
    idx, codes = load_ann_serving(
        spark, idx_dir, codes_dir, tuning_dir=tune_dir
    )
    t = load_ann_tuning(tune_dir, index_version=idx.version)
    target = float(t["target_recall"])

    sample = tuning_query_sample(emb, sample_queries=16).localCheckpoint()
    served = sim.ivfpq_knn(
        emb, sample, k=10, index=idx, codes=codes
    ).select("query_id", "neighbor_id")
    plain_idx = load_ann_index(spark, idx_dir, version=idx.version)
    explicit = sim.ivfpq_knn(
        emb, sample, k=10, index=plain_idx, codes=codes,
        nprobe=t["nprobe"], rerank=t["rerank"],
    ).select("query_id", "neighbor_id")
    n_diff = (
        served.withColumn("__s__", F.lit(1))
        .join(
            explicit.withColumn("__e__", F.lit(1)),
            ["query_id", "neighbor_id"],
            "full_outer",
        )
        .filter(F.col("__s__").isNull() | F.col("__e__").isNull())
        .count()
    )

    truth: dict[int, set[int]] = {}
    for r in sim.brute_force_knn(emb, sample, k=10).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got: dict[int, set[int]] = {}
    for r in served.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    total = sum(len(s) for s in truth.values())
    recall = (
        sum(len(got.get(q, set()) & s) for q, s in truth.items()) / total
    )

    # a row recorded against a different index version must load as
    # None — write one to a scratch table and try to serve it
    stale_dir = scratch_dir("tunstale_")
    save_ann_tuning(
        spark, stale_dir,
        {"nprobe": 1, "rerank": 1, "recall": 0.0, "met": False},
        index_version=idx.version + 1,
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        stale = load_ann_tuning(stale_dir, index_version=idx.version)

    n_q = min(16, emb.filter((F.col("vec_id") % 13) == 5).count())
    return spark.createDataFrame(
        [
            (
                int(n_q),
                int(emb.count()),
                int(idx.n_coarse),
                bool(
                    n_diff == 0
                    and idx.tuning is not None
                    and idx.tuning["nprobe"] == t["nprobe"]
                ),
                bool(recall >= target),
                bool(stale is None),
            )
        ],
        "n_queries long, n_corpus long, n_coarse long, "
        "tuned_point_served boolean, served_meets_slo boolean, "
        "stale_rejected boolean",
    )


# ---------------------------------------------------------------------------
# Distributed PCA (operators/projection.py) — the pre-ANN compression
# step a 100 TB embedding pipeline runs at ingest: ONE pass of integer
# moment partials per partition (partition-count-invariant bit for
# bit), a driver-side dim×dim eigh, and a map-only JVM projection
# expression.  Graded on the model's defining invariants: an
# orthonormal basis, a variance share strictly above the uniform
# k/dim floor (PCA beats uniform unless the spectrum is exactly
# flat), and reconstruction error strictly decreasing in k — plus the
# audit's Pythagorean residual staying non-negative.
# ---------------------------------------------------------------------------
@reg.query(
    "q_emb_pca_audit",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(8 AS BIGINT) AS k_components,
           TRUE AS orthonormal_ok,
           TRUE AS beats_uniform,
           TRUE AS recon_monotone,
           TRUE AS resid_nonneg
    FROM embeddings
    """,
)
def q_emb_pca_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit k=8 (and a k=2 comparison) PCA over the embeddings and
    grade the fit end to end: component orthonormality (driver-side,
    |CCᵀ − I| ≤ 1e-9), variance captured strictly above the uniform
    k/dim share, mean reconstruction error strictly lower at k=8 than
    k=2 (the audit is the map-only Pythagorean form — no
    reconstructed vectors), and the residual non-negative on every
    row's aggregate.  Cost: ONE one-pass integer-moment fit (the k=2
    comparison is an O(1) driver-side truncation of the same
    decomposition) + two map-only audit scans; no shuffle beyond
    three single-row aggregates."""
    import numpy as np

    from fortymhz_spark.operators.projection import fit_pca, pca_audit

    emb = load_table(spark, sf_dir, "embeddings")
    m8 = fit_pca(emb, 8)
    # the k=2 comparison model is an O(1) driver-side slice —
    # bit-identical to a refit at k=2 (the eigh slices the same full
    # decomposition), so the corpus is scanned once per audit, not
    # twice per fit
    m2 = m8.truncated(2)
    C = np.asarray(m8.components)
    ortho = bool(np.abs(C @ C.T - np.eye(m8.k)).max() <= 1e-9)
    a8 = pca_audit(emb, m8).first()
    a2 = pca_audit(emb, m2).first()
    return spark.createDataFrame(
        [
            (
                int(a8["n_vectors"]),
                int(m8.k),
                ortho,
                bool(m8.variance_captured > m8.k / m8.dim),
                bool(a8["mean_recon_err"] < a2["mean_recon_err"]),
                bool(
                    a8["mean_recon_err"] >= 0.0
                    and a2["mean_recon_err"] >= 0.0
                ),
            )
        ],
        "n_vectors long, k_components long, orthonormal_ok boolean, "
        "beats_uniform boolean, recon_monotone boolean, "
        "resid_nonneg boolean",
    )


# ---------------------------------------------------------------------------
# Persisted PCA moments (operators/projection.py::init/extend/retract_
# pca_moments + fit_pca_from_moments) — model MAINTENANCE as exact
# integer algebra: because the sufficient statistic (n, Σq, Σqqᵀ) is
# exact integers in a versioned snapshot table, an arriving batch
# EXTENDS it and a dedup pass's deletions RETRACT from it, and the
# refit from the maintained artifact is BYTE-IDENTICAL to a
# from-scratch fit on the corpus it describes — the float formulation
# can do neither (sums drift with addition order and cannot be
# un-added).  Graded on both directions of that identity.
# ---------------------------------------------------------------------------
@reg.query(
    "q_emb_pca_incremental",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           TRUE AS extend_matches_scratch,
           TRUE AS retract_matches_scratch
    FROM embeddings
    """,
)
def q_emb_pca_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Init the moment artifact on the vec_id % 4 != 0 slice, EXTEND
    with the % 4 == 0 batch, and grade the refit byte-identical
    (dataclass equality — every float bit) to a from-scratch fit on
    the full corpus; then RETRACT the batch and grade the refit
    byte-identical to a from-scratch fit on the original slice.  Cost:
    five one-pass moment scans (init, the extend's batch, the
    retract's batch, and the two scratch twins the grade needs) +
    four O(dim³) driver eigh fits; nothing corpus-sized moves."""
    from fortymhz_spark.operators.projection import (
        extend_pca_moments,
        fit_pca,
        fit_pca_from_moments,
        init_pca_moments,
        retract_pca_moments,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0)
    td = scratch_dir("pcamoments_")
    init_pca_moments(old, td)
    extend_pca_moments(batch, td)
    ext_ok = fit_pca_from_moments(spark, td, 8) == fit_pca(emb, 8)
    retract_pca_moments(batch, td)
    ret_ok = fit_pca_from_moments(spark, td, 8) == fit_pca(old, 8)
    return spark.createDataFrame(
        [(emb.count(), bool(ext_ok), bool(ret_ok))],
        "n_vectors long, extend_matches_scratch boolean, "
        "retract_matches_scratch boolean",
    )


# ---------------------------------------------------------------------------
# Unigram tokenizer with the SOFT (forward-backward) E-step — the
# SentencePiece-fidelity variant beside the hard-EM row: same exact
# word/char totals and reconstruction/bound invariants, plus the
# divergence boolean (the soft model must actually differ from the
# hard model somewhere on this ambiguous natural corpus — if the two
# E-steps collapse to identical models, the lattice expectation is
# not being computed).  The word-count table is collected ONCE
# (collect_word_vocab) and shared by both trains, so the divergence
# boolean costs one extra driver-side EM loop — zero additional
# Spark jobs beyond the hard-EM row's shape.
# ---------------------------------------------------------------------------
@reg.query(
    "q_docs_unigram_soft_encode",
    oracle=f"""
    WITH words AS (
      SELECT DISTINCT unnest({_SQL_TOKENS.format(t='lower(text)')}) AS w
      FROM documents
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_words,
      CAST(SUM(len(w)) AS BIGINT) AS total_chars,
      TRUE AS all_reconstruct,
      TRUE AS pieces_bounded,
      TRUE AS soft_diverges_from_hard
    FROM words
    """,
)
def q_docs_unigram_soft_encode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Train a 256-piece unigram model with the forward-backward
    soft-EM E-step (operators/unigram.py::learn_unigram_vocab
    em='soft') and Viterbi-encode the corpus's distinct words,
    grading exact totals, lossless reconstruction, piece-count
    bounds, and soft-vs-hard model divergence (driver-side compare —
    the documented fidelity difference must be present).

    Scale shape identical to the hard-EM row: one distributed
    word-count pass, driver EM ∝ vocabulary, Arrow-batched encode."""
    from fortymhz_spark.operators import unigram as ug

    docs = load_table(spark, sf_dir, "documents")
    table = ug.collect_word_vocab(docs)  # ONE corpus pass, two trains
    soft = ug.learn_unigram_vocab(
        docs, vocab_size=256, em_rounds=2, max_piece_len=8, em="soft",
        vocab_table=table,
    )
    hard = ug.learn_unigram_vocab(
        docs, vocab_size=256, em_rounds=2, max_piece_len=8, em="hard",
        vocab_table=table,
    )
    # thresholded, mirroring tests/test_unigram.py: exact dict
    # inequality would stay green on a 1-ulp perturbation that left
    # the soft branch semantically identical to hard EM — the grade
    # must require a MATERIAL probability gap (or a vocab difference)
    diverges = set(soft) != set(hard) or any(
        abs(soft[p] - hard[p]) > 1e-6 for p in set(soft) & set(hard)
    )
    words = docs.select(
        F.explode(tx.tokens(F.lower(F.col("text")))).alias("w")
    ).distinct()
    enc = ug.encode_unigram(words, "w", model=soft, max_piece_len=8)
    return enc.select(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.length("w")).cast("bigint").alias("total_chars"),
        F.every(
            F.concat_ws("", F.col("pieces")) == F.col("w")
        ).alias("all_reconstruct"),
        F.every(
            (F.size("pieces") >= 1)
            & (F.size("pieces") <= F.length("w"))
        ).alias("pieces_bounded"),
        F.lit(bool(diverges)).alias("soft_diverges_from_hard"),
    )


# ---------------------------------------------------------------------------
# Gopher rule-based quality filtering — the public Rae et al. 2021
# rule set as a first-class curation operator
# (operators/text.py::gopher_flags).  FULLY oracle-graded: every rule
# is an integer cross-multiplication (no float crosses the grading
# boundary), so the per-rule violation counts hash exactly.
# ---------------------------------------------------------------------------
@reg.query(
    "q_docs_gopher_rules",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             coalesce(text, '') AS text,
             list_filter(string_split(coalesce(text, ''), ' '),
                         x -> x <> '') AS toks,
             string_split(coalesce(text, ''), chr(10)) AS lines
      FROM documents
    ), m AS (
      SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS n_words,
        CAST(coalesce(list_sum(list_transform(toks, x -> len(x))), 0)
             AS BIGINT) AS total_chars,
        CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
             AS BIGINT) AS n_alpha,
        CAST(len(list_filter(
               list_distinct(list_transform(toks, x -> lower(x))),
               x -> x IN ('the','be','to','of','and','that','have','with')))
             AS BIGINT) AS n_stop,
        CAST(len(text) - len(replace(text, '#', '')) AS BIGINT) AS n_hash,
        CAST((len(text) - len(replace(text, '...', ''))) // 3
             AS BIGINT) AS n_ell,
        CAST(len(lines) AS BIGINT) AS n_lines,
        CAST(len(list_filter(lines, x ->
               starts_with(x, '-') OR starts_with(x, '•')
               OR starts_with(x, '*'))) AS BIGINT) AS n_bullet,
        CAST(len(list_filter(lines, x -> ends_with(x, '...')))
             AS BIGINT) AS n_ell_lines
      FROM t
    ), f AS (
      SELECT doc_id,
        (n_words >= 50 AND n_words <= 100000) AS wc_ok,
        (3 * n_words <= total_chars
         AND total_chars <= 10 * n_words) AS mwl_ok,
        (10 * (n_hash + n_ell) <= n_words) AS sym_ok,
        (10 * n_bullet < 9 * n_lines) AS bullet_ok,
        (10 * n_ell_lines < 3 * n_lines) AS ell_ok,
        (5 * n_alpha >= 4 * n_words) AS alpha_ok,
        (n_stop >= 2) AS stop_ok
      FROM m
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(CASE WHEN wc_ok AND mwl_ok AND sym_ok AND bullet_ok
                     AND ell_ok AND alpha_ok AND stop_ok
               THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
      CAST(SUM(CASE WHEN wc_ok THEN 0 ELSE 1 END) AS BIGINT)
        AS n_fail_word_count,
      CAST(SUM(CASE WHEN mwl_ok THEN 0 ELSE 1 END) AS BIGINT)
        AS n_fail_mean_word_len,
      CAST(SUM(CASE WHEN sym_ok THEN 0 ELSE 1 END) AS BIGINT)
        AS n_fail_symbol_ratio,
      CAST(SUM(CASE WHEN bullet_ok THEN 0 ELSE 1 END) AS BIGINT)
        AS n_fail_bullets,
      CAST(SUM(CASE WHEN ell_ok THEN 0 ELSE 1 END) AS BIGINT)
        AS n_fail_ellipsis,
      CAST(SUM(CASE WHEN alpha_ok THEN 0 ELSE 1 END) AS BIGINT)
        AS n_fail_alpha,
      CAST(SUM(CASE WHEN stop_ok THEN 0 ELSE 1 END) AS BIGINT)
        AS n_fail_stopwords
    FROM f
    """,
)
def q_docs_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based quality filter over the documents table:
    per-rule violation counts plus the all-rules pass count
    (operators/text.py::gopher_flags — word-count bounds, mean word
    length, symbol ratio, bullet/ellipsis line fractions, alphabetic
    word fraction, stopword presence).

    Scale: map-only column arithmetic fused into the scan, one
    single-row aggregate — the same 100 TB shape as the other text
    metrics (no shuffle before the final partial-agg combine)."""
    docs = load_table(spark, sf_dir, "documents")
    flagged = tx.gopher_flags(docs, "text")

    def _fails(c: str) -> F.Column:
        return F.sum(F.when(F.col(c), 0).otherwise(1)).cast("long")

    return flagged.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("gopher_pass"), 1).otherwise(0))
        .cast("long")
        .alias("n_pass"),
        _fails("wc_ok").alias("n_fail_word_count"),
        _fails("mwl_ok").alias("n_fail_mean_word_len"),
        _fails("sym_ok").alias("n_fail_symbol_ratio"),
        _fails("bullet_ok").alias("n_fail_bullets"),
        _fails("ell_ok").alias("n_fail_ellipsis"),
        _fails("alpha_ok").alias("n_fail_alpha"),
        _fails("stop_ok").alias("n_fail_stopwords"),
    )


# ---------------------------------------------------------------------------
# Prototypicality pruning (SemDeDup/D4 family) — cluster-then-rank
# data pruning (operators/similarity.py::prototype_prune).  The
# cluster assignment is engine-internal (trained centroids), so the
# grade is the established derived-invariant form: exact corpus
# count + in-plan booleans that a broken quota, ranking, or
# partition would trip (the q_vec_kmeans pattern).
# ---------------------------------------------------------------------------
@reg.query(
    "q_emb_prototype_prune",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
           TRUE AS quota_ok,
           TRUE AS boundary_ok,
           TRUE AS partition_ok,
           TRUE AS dropped_bounded
    FROM embeddings
    """,
)
def q_emb_prototype_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prototypicality pruning at drop_frac=1/4 over k=8 clusters:
    drop each cluster's quarter of points closest to its centroid
    (the most redundant examples, per the SemDeDup/D4 recipe) and
    grade the invariants that define the operator:

    - quota_ok: every cluster drops exactly floor(size/4) points;
    - boundary_ok: within every cluster, every dropped distance <=
      every kept distance (the rank actually ordered by distance);
    - partition_ok: kept + dropped == all points, no overlap;
    - dropped_bounded: total dropped within [floor(n/4) - k,
      floor(n/4)] (the floor-sum identity — a global sanity bound
      the oracle can state without knowing cluster sizes)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # Explicit expr/None pins the bit-reproducible full-fit form the
    # boundary_ok invariant is stated against; the "auto" defaults may
    # sample the fit at deployment N·k (kmeans_assign docstring).
    pruned = sim.prototype_prune(
        emb, id_col="vec_id", vec_col="embedding", k=8, iters=3,
        drop_frac=0.25, assign="expr", fit_sample_rows=None,
    )
    # ONE pass over the assignment: Spark does not CSE across separate
    # aggregations, so a second `pruned.agg(...)` would re-execute the
    # whole kmeans subtree — fold everything through the per-cluster
    # aggregate (k rows) and finish on the driver-sized result.
    per_cluster = pruned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("sz"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_keep"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0)).alias("n_drop"),
        F.max(F.when(~F.col("keep"), F.col("dist_e9"))).alias("max_drop_d"),
        F.min(F.when(F.col("keep"), F.col("dist_e9"))).alias("min_keep_d"),
    )
    checks = per_cluster.agg(
        F.sum("sz").alias("n_points_raw"),
        F.every(
            F.col("n_drop") == F.floor(F.col("sz") / 4).cast("long")
        ).alias("quota_ok"),
        F.every(
            F.coalesce(
                F.col("max_drop_d") <= F.col("min_keep_d"), F.lit(True)
            )
        ).alias("boundary_ok"),
        # a NULL keep flag would make a row count in sz but neither
        # conditional sum — this is the non-vacuous integrity check
        F.every(
            F.col("n_keep") + F.col("n_drop") == F.col("sz")
        ).alias("partition_ok"),
        F.sum("n_drop").alias("n_drop_total"),
    )
    return checks.select(
        F.col("n_points_raw").cast("long").alias("n_points"),
        "quota_ok",
        "boundary_ok",
        "partition_ok",
        (
            (
                F.col("n_drop_total")
                >= F.floor(F.col("n_points_raw") / 4) - 8
            )
            & (F.col("n_drop_total") <= F.floor(F.col("n_points_raw") / 4))
        ).alias("dropped_bounded"),
    )


# ---------------------------------------------------------------------------
# Gopher repetition rules — the full Rae et al. 2021 Table-A1
# within-document repetition table
# (operators/text.py::gopher_repetition_flags).  FULLY oracle-graded:
# every rule is an integer cross-multiplication against length(text),
# so the thirteen per-rule violation counts hash exactly; the oracle
# recomputes the n-gram statistics via unnest + GROUP BY (the SQL
# form of the operator's sorted-run fold).
# ---------------------------------------------------------------------------
@reg.query(
    "q_docs_gopher_repetition",
    oracle="""
    WITH t AS (
      SELECT doc_id, coalesce(text, '') AS text,
             list_filter(string_split(coalesce(text, ''), ' '),
                         x -> x <> '') AS toks
      FROM documents
    ), base AS (
      SELECT doc_id, toks,
             CAST(len(text) AS BIGINT) AS total,
             list_filter(string_split(text, chr(10)), x -> x <> '')
               AS lines,
             list_filter(regexp_split_to_array(text, '\n{2,}'),
                         x -> x <> '') AS paras
      FROM t
    ), grams AS (
      SELECT doc_id, nn.n AS n,
             array_to_string(
               toks[ii.i::INT : (ii.i + nn.n - 1)::INT], ' ') AS g
      FROM base,
           unnest([2, 3, 4, 5, 6, 7, 8, 9, 10]) AS nn(n),
           unnest(range(1, len(toks) - nn.n + 2)) AS ii(i)
    ), cnt AS (
      SELECT doc_id, n, g, COUNT(*) AS c, len(g) AS L
      FROM grams GROUP BY doc_id, n, g
    ), pern AS (
      SELECT doc_id, n,
             MAX(c) AS topc,
             MAX(CASE WHEN c = mx THEN L END) AS topl,
             COALESCE(SUM((c - 1) * L), 0) AS dupch
      FROM (SELECT *, MAX(c) OVER (PARTITION BY doc_id, n) AS mx
            FROM cnt)
      GROUP BY doc_id, n
    ), ng AS (
      SELECT doc_id,
        CAST(COALESCE(MAX(CASE WHEN n = 2 THEN topc * topl END), 0)
             AS BIGINT) AS top2,
        CAST(COALESCE(MAX(CASE WHEN n = 3 THEN topc * topl END), 0)
             AS BIGINT) AS top3,
        CAST(COALESCE(MAX(CASE WHEN n = 4 THEN topc * topl END), 0)
             AS BIGINT) AS top4,
        CAST(COALESCE(MAX(CASE WHEN n = 5 THEN dupch END), 0)
             AS BIGINT) AS d5,
        CAST(COALESCE(MAX(CASE WHEN n = 6 THEN dupch END), 0)
             AS BIGINT) AS d6,
        CAST(COALESCE(MAX(CASE WHEN n = 7 THEN dupch END), 0)
             AS BIGINT) AS d7,
        CAST(COALESCE(MAX(CASE WHEN n = 8 THEN dupch END), 0)
             AS BIGINT) AS d8,
        CAST(COALESCE(MAX(CASE WHEN n = 9 THEN dupch END), 0)
             AS BIGINT) AS d9,
        CAST(COALESCE(MAX(CASE WHEN n = 10 THEN dupch END), 0)
             AS BIGINT) AS d10
      FROM pern GROUP BY doc_id
    ), perdoc AS (
      SELECT b.doc_id, b.total,
        CAST(len(b.lines) AS BIGINT) AS n_lines,
        CAST(len(b.paras) AS BIGINT) AS n_paras,
        CAST(len(b.lines) - len(list_distinct(b.lines)) AS BIGINT)
          AS dline,
        CAST(COALESCE(list_sum(list_transform(b.lines, x -> len(x))), 0)
             - COALESCE(list_sum(list_transform(list_distinct(b.lines),
                                                x -> len(x))), 0)
             AS BIGINT) AS dline_ch,
        CAST(len(b.paras) - len(list_distinct(b.paras)) AS BIGINT)
          AS dpara,
        CAST(COALESCE(list_sum(list_transform(b.paras, x -> len(x))), 0)
             - COALESCE(list_sum(list_transform(list_distinct(b.paras),
                                                x -> len(x))), 0)
             AS BIGINT) AS dpara_ch,
        COALESCE(g.top2, 0) AS top2, COALESCE(g.top3, 0) AS top3,
        COALESCE(g.top4, 0) AS top4, COALESCE(g.d5, 0) AS d5,
        COALESCE(g.d6, 0) AS d6, COALESCE(g.d7, 0) AS d7,
        COALESCE(g.d8, 0) AS d8, COALESCE(g.d9, 0) AS d9,
        COALESCE(g.d10, 0) AS d10
      FROM base b LEFT JOIN ng g USING (doc_id)
    ), f AS (
      SELECT doc_id,
        (10 * dline <= 3 * n_lines) AS dline_ok,
        (10 * dpara <= 3 * n_paras) AS dpara_ok,
        (5 * dline_ch <= total) AS dline_ch_ok,
        (5 * dpara_ch <= total) AS dpara_ch_ok,
        (100 * top2 <= 20 * total) AS top2_ok,
        (100 * top3 <= 18 * total) AS top3_ok,
        (100 * top4 <= 16 * total) AS top4_ok,
        (100 * d5 <= 15 * total) AS dup5_ok,
        (100 * d6 <= 14 * total) AS dup6_ok,
        (100 * d7 <= 13 * total) AS dup7_ok,
        (100 * d8 <= 12 * total) AS dup8_ok,
        (100 * d9 <= 11 * total) AS dup9_ok,
        (100 * d10 <= 10 * total) AS dup10_ok
      FROM perdoc
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(CASE WHEN dline_ok AND dpara_ok AND dline_ch_ok
                     AND dpara_ch_ok AND top2_ok AND top3_ok
                     AND top4_ok AND dup5_ok AND dup6_ok AND dup7_ok
                     AND dup8_ok AND dup9_ok AND dup10_ok
               THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
      CAST(SUM(CASE WHEN dline_ok THEN 0 ELSE 1 END) AS BIGINT)
        AS n_fail_dline,
      CAST(SUM(CASE WHEN dpara_ok THEN 0 ELSE 1 END) AS BIGINT)
        AS n_fail_dpara,
      CAST(SUM(CASE WHEN dline_ch_ok THEN 0 ELSE 1 END) AS BIGINT)
        AS n_fail_dline_chars,
      CAST(SUM(CASE WHEN dpara_ch_ok THEN 0 ELSE 1 END) AS BIGINT)
        AS n_fail_dpara_chars,
      CAST(SUM(CASE WHEN top2_ok THEN 0 ELSE 1 END) AS BIGINT)
        AS n_fail_top2,
      CAST(SUM(CASE WHEN top3_ok THEN 0 ELSE 1 END) AS BIGINT)
        AS n_fail_top3,
      CAST(SUM(CASE WHEN top4_ok THEN 0 ELSE 1 END) AS BIGINT)
        AS n_fail_top4,
      CAST(SUM(CASE WHEN dup5_ok THEN 0 ELSE 1 END) AS BIGINT)
        AS n_fail_dup5,
      CAST(SUM(CASE WHEN dup6_ok THEN 0 ELSE 1 END) AS BIGINT)
        AS n_fail_dup6,
      CAST(SUM(CASE WHEN dup7_ok THEN 0 ELSE 1 END) AS BIGINT)
        AS n_fail_dup7,
      CAST(SUM(CASE WHEN dup8_ok THEN 0 ELSE 1 END) AS BIGINT)
        AS n_fail_dup8,
      CAST(SUM(CASE WHEN dup9_ok THEN 0 ELSE 1 END) AS BIGINT)
        AS n_fail_dup9,
      CAST(SUM(CASE WHEN dup10_ok THEN 0 ELSE 1 END) AS BIGINT)
        AS n_fail_dup10
    FROM f
    """,
)
def q_docs_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Gopher repetition-rule table over the documents corpus:
    per-rule violation counts plus the all-rules pass count
    (operators/text.py::gopher_repetition_flags — duplicate line /
    paragraph count and character fractions, top 2/3/4-gram character
    fraction, duplicated 5..10-gram character fraction, the Rae et
    al. 2021 Table-A1 thresholds).

    Scale: map-only — tokens / lines / paragraphs bind once, each
    n-gram signal is one in-row sorted-run fold (no explode, no
    shuffle of n-gram text, unlike the oracle's unnest+GROUP BY
    form), then one single-row partial-agg combine.  At 100 TB the
    whole query is scan + final combine, the same shape as
    q_docs_gopher_rules.  The per-row work (nine sorted-run folds) is
    the heaviest text map in the repo, so the scan is _spread first —
    a no-op at deployment file counts, and at fixture sizes it keeps
    the fold off a single core (the MinHash signature lesson,
    operators/dedup.py::_spread)."""
    from fortymhz_spark.operators.dedup import _spread

    docs = _spread(load_table(spark, sf_dir, "documents"))
    flagged = tx.gopher_repetition_flags(docs, "text")

    def _fails(c: str) -> F.Column:
        return F.sum(F.when(F.col(c), 0).otherwise(1)).cast("long")

    return flagged.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("gopher_rep_pass"), 1).otherwise(0))
        .cast("long")
        .alias("n_pass"),
        _fails("rep_dline_ok").alias("n_fail_dline"),
        _fails("rep_dpara_ok").alias("n_fail_dpara"),
        _fails("rep_dline_char_ok").alias("n_fail_dline_chars"),
        _fails("rep_dpara_char_ok").alias("n_fail_dpara_chars"),
        _fails("rep_top2_ok").alias("n_fail_top2"),
        _fails("rep_top3_ok").alias("n_fail_top3"),
        _fails("rep_top4_ok").alias("n_fail_top4"),
        _fails("rep_dup5_ok").alias("n_fail_dup5"),
        _fails("rep_dup6_ok").alias("n_fail_dup6"),
        _fails("rep_dup7_ok").alias("n_fail_dup7"),
        _fails("rep_dup8_ok").alias("n_fail_dup8"),
        _fails("rep_dup9_ok").alias("n_fail_dup9"),
        _fails("rep_dup10_ok").alias("n_fail_dup10"),
    )


# ---------------------------------------------------------------------------
# C4 cleaning rules — Raffel et al. 2020 §2.2
# (operators/text.py::c4_flags).  FULLY oracle-graded: line-rule
# marginals, kept-line and sentence counts, the page-drop triggers,
# and the total characters of the reconstructed clean text all hash
# exactly (pure integer/boolean arithmetic; the oracle mirrors the
# operator's documented tokenization and sentence-split contracts).
# ---------------------------------------------------------------------------
@reg.query(
    "q_docs_c4_rules",
    oracle="""
    WITH t AS (
      SELECT doc_id, coalesce(text, '') AS text,
             list_filter(string_split(coalesce(text, ''), chr(10)),
                         x -> x <> '') AS lines
      FROM documents
    ), m AS (
      SELECT doc_id, text,
        CAST(len(lines) AS BIGINT) AS n_lines,
        CAST(len(list_filter(lines,
              l -> right(l, 1) IN ('.', '!', '?', '"')))
             AS BIGINT) AS n_end_punct,
        CAST(len(list_filter(lines,
              l -> len(list_filter(string_split(l, ' '), w -> w <> ''))
                   >= 5)) AS BIGINT) AS n_ge_min_words,
        CAST(len(list_filter(lines,
              l -> len(list_filter(string_split(l, ' '),
                        w -> lower(w) = 'javascript')) > 0))
             AS BIGINT) AS n_js_lines,
        list_filter(lines,
          l -> right(l, 1) IN ('.', '!', '?', '"')
           AND len(list_filter(string_split(l, ' '), w -> w <> '')) >= 5
           AND len(list_filter(string_split(l, ' '),
                    w -> lower(w) = 'javascript')) = 0) AS kept
      FROM t
    ), s AS (
      SELECT doc_id, text, n_lines, n_end_punct, n_ge_min_words,
             n_js_lines,
        CAST(len(kept) AS BIGINT) AS n_kept,
        CAST(COALESCE(list_sum(list_transform(kept,
              l -> len(list_filter(regexp_split_to_array(l, '[.!?]'),
                    seg -> len(list_filter(string_split(seg, ' '),
                                           w -> w <> '')) > 0)))), 0)
             AS BIGINT) AS n_sentences,
        CAST(COALESCE(len(array_to_string(kept, chr(10))), 0) AS BIGINT)
          AS clean_chars,
        contains(lower(text), 'lorem ipsum') AS has_lorem,
        contains(text, '{') AS has_brace,
        len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
             w -> w IN ('unsavoryword', 'nsfwplaceholder'))) > 0
          AS has_badword
      FROM m
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(CASE WHEN n_sentences >= 3 AND NOT has_lorem
                     AND NOT has_brace AND NOT has_badword
               THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
      CAST(SUM(n_lines) AS BIGINT) AS n_lines,
      CAST(SUM(n_end_punct) AS BIGINT) AS n_end_punct,
      CAST(SUM(n_ge_min_words) AS BIGINT) AS n_ge_min_words,
      CAST(SUM(n_js_lines) AS BIGINT) AS n_js_lines,
      CAST(SUM(n_kept) AS BIGINT) AS n_lines_kept,
      CAST(SUM(n_sentences) AS BIGINT) AS n_sentences_total,
      CAST(SUM(clean_chars) AS BIGINT) AS clean_chars_total,
      CAST(SUM(CASE WHEN n_sentences < 3 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_fail_sentences,
      CAST(SUM(CASE WHEN has_lorem THEN 1 ELSE 0 END) AS BIGINT)
        AS n_fail_lorem,
      CAST(SUM(CASE WHEN has_brace THEN 1 ELSE 0 END) AS BIGINT)
        AS n_fail_brace,
      CAST(SUM(CASE WHEN has_badword THEN 1 ELSE 0 END) AS BIGINT)
        AS n_fail_badword
    FROM s
    """,
)
def q_docs_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning-rule audit over the documents corpus
    (operators/text.py::c4_flags — Raffel et al. 2020 §2.2): per-rule
    line marginals (terminal punctuation, >=5 words, javascript),
    kept-line and sentence counts, total characters of the
    reconstructed clean text, the three page-drop triggers, and the
    surviving-page count.

    The fixture corpus has no newlines or terminal punctuation, so
    the line-conjunction counts ground at zero while the marginals
    (n_ge_min_words), page totals, and clean-text arithmetic still
    vary — rule-firing behavior itself is pinned by the unit tests
    (tests/test_properties.py::test_c4_*).

    Scale: map-only line/word array folds fused into the scan + one
    single-row combine — the q_docs_gopher_rules shape."""
    docs = load_table(spark, sf_dir, "documents")
    flagged = tx.c4_flags(docs, "text")
    return flagged.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("c4_pass"), 1).otherwise(0))
        .cast("long")
        .alias("n_pass"),
        F.sum("c4_n_lines").cast("long").alias("n_lines"),
        F.sum("c4_n_end_punct").cast("long").alias("n_end_punct"),
        F.sum("c4_n_ge_min_words").cast("long").alias("n_ge_min_words"),
        F.sum("c4_n_js_lines").cast("long").alias("n_js_lines"),
        F.sum("c4_n_kept").cast("long").alias("n_lines_kept"),
        F.sum("c4_n_sentences").cast("long").alias("n_sentences_total"),
        F.sum(F.length("c4_clean_text")).cast("long").alias(
            "clean_chars_total"
        ),
        F.sum(F.when(F.col("c4_n_sentences") < 3, 1).otherwise(0))
        .cast("long")
        .alias("n_fail_sentences"),
        F.sum(F.when(F.col("c4_has_lorem"), 1).otherwise(0))
        .cast("long")
        .alias("n_fail_lorem"),
        F.sum(F.when(F.col("c4_has_brace"), 1).otherwise(0))
        .cast("long")
        .alias("n_fail_brace"),
        F.sum(F.when(F.col("c4_has_badword"), 1).otherwise(0))
        .cast("long")
        .alias("n_fail_badword"),
    )


# ---------------------------------------------------------------------------
# C4 line rules on a DERIVED corpus where every rule demonstrably
# fires — the r6 verdict's vacuity fix: the fixture corpus has no
# newlines or terminal punctuation, so q_docs_c4_rules grounds the
# line-conjunction counts at zero.  This row RE-LINES each document
# deterministically in-plan — line i takes 3 + (doc_id+i) % 5 tokens
# (some below the 5-word minimum), gets ' javascript' injected when
# (doc_id+i) % 7 == 3, and a terminal '.'/'!' when (doc_id+i) % 3 is
# 0/1 — so every line rule and their conjunction have non-zero,
# varying marginals, and the oracle replicates the derivation token
# for token.  Guarded by in-plan positivity booleans so a future
# fixture change cannot silently re-vacuate the grade.
# ---------------------------------------------------------------------------
@reg.query(
    "q_docs_c4_rules_derived",
    oracle="""
    WITH tok0 AS (
      SELECT doc_id,
             list_filter(string_split(coalesce(text, ''), ' '),
                         x -> x <> '') AS tk
      FROM documents
    ), dv AS (
      SELECT doc_id,
        array_to_string(
          list_transform(
            range(0, LEAST(CAST(floor(len(tk) / 8.0) AS BIGINT), 12)),
            i -> concat(
              array_to_string(
                tk[(i*8 + 1)::INT : (i*8 + 3 + ((doc_id + i) % 5))::INT],
                ' '),
              CASE WHEN (doc_id + i) % 7 = 3 THEN ' javascript'
                   ELSE '' END,
              CASE WHEN (doc_id + i) % 3 = 0 THEN '.'
                   WHEN (doc_id + i) % 3 = 1 THEN '!'
                   ELSE '' END)),
          chr(10)) AS text
      FROM tok0
    ), t AS (
      SELECT doc_id, text,
             list_filter(string_split(text, chr(10)), x -> x <> '') AS lines
      FROM dv
    ), m AS (
      SELECT doc_id, text,
        CAST(len(lines) AS BIGINT) AS n_lines,
        CAST(len(list_filter(lines,
              l -> right(l, 1) IN ('.', '!', '?', '"')))
             AS BIGINT) AS n_end_punct,
        CAST(len(list_filter(lines,
              l -> len(list_filter(string_split(l, ' '), w -> w <> ''))
                   >= 5)) AS BIGINT) AS n_ge_min_words,
        CAST(len(list_filter(lines,
              l -> len(list_filter(string_split(l, ' '),
                        w -> lower(w) = 'javascript')) > 0))
             AS BIGINT) AS n_js_lines,
        list_filter(lines,
          l -> right(l, 1) IN ('.', '!', '?', '"')
           AND len(list_filter(string_split(l, ' '), w -> w <> '')) >= 5
           AND len(list_filter(string_split(l, ' '),
                    w -> lower(w) = 'javascript')) = 0) AS kept
      FROM t
    ), s AS (
      SELECT doc_id, n_lines, n_end_punct, n_ge_min_words, n_js_lines,
        CAST(len(kept) AS BIGINT) AS n_kept,
        CAST(COALESCE(list_sum(list_transform(kept,
              l -> len(list_filter(regexp_split_to_array(l, '[.!?]'),
                    seg -> len(list_filter(string_split(seg, ' '),
                                           w -> w <> '')) > 0)))), 0)
             AS BIGINT) AS n_sentences,
        CAST(COALESCE(len(array_to_string(kept, chr(10))), 0) AS BIGINT)
          AS clean_chars
      FROM m
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_lines) AS BIGINT) AS n_lines,
      CAST(SUM(n_end_punct) AS BIGINT) AS n_end_punct,
      CAST(SUM(n_ge_min_words) AS BIGINT) AS n_ge_min_words,
      CAST(SUM(n_js_lines) AS BIGINT) AS n_js_lines,
      CAST(SUM(n_kept) AS BIGINT) AS n_lines_kept,
      CAST(SUM(n_sentences) AS BIGINT) AS n_sentences_total,
      CAST(SUM(clean_chars) AS BIGINT) AS clean_chars_total,
      SUM(n_end_punct) < SUM(n_lines) AS punct_rule_fires,
      SUM(n_ge_min_words) < SUM(n_lines) AS minwords_rule_fires,
      SUM(n_js_lines) > 0 AS js_rule_fires,
      SUM(n_kept) > 0 AND SUM(n_kept) < SUM(n_lines)
        AS conjunction_nonvacuous
    FROM s
    """,
)
def q_docs_c4_rules_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 LINE-rule audit on the deterministically re-lined corpus
    (section comment above): per-rule line marginals, kept-line /
    sentence / clean-text totals, and four positivity booleans pinning
    that each line rule and their conjunction actually fire on the
    graded input — the non-vacuous companion to q_docs_c4_rules,
    whose natural-corpus input grounds these at zero.

    Scale: the derivation is one more map-only array expression fused
    into the same scan; everything else is the q_docs_c4_rules
    shape."""
    docs = load_table(spark, sf_dir, "documents")
    tok = tx.tokens(F.coalesce(F.col("text"), F.lit("")))
    nl = F.least(
        F.floor(F.size(tok) / 8.0).cast("int"), F.lit(12)
    )

    def line_of(j: F.Column) -> F.Column:
        i = j - 1  # 0-based line index
        width = F.lit(3) + F.pmod(F.col("doc_id") + i, F.lit(5))
        base = F.array_join(F.slice(tok, i * 8 + 1, width), " ")
        with_js = F.when(
            F.pmod(F.col("doc_id") + i, F.lit(7)) == 3,
            F.concat(base, F.lit(" javascript")),
        ).otherwise(base)
        mod3 = F.pmod(F.col("doc_id") + i, F.lit(3))
        return (
            F.when(mod3 == 0, F.concat(with_js, F.lit(".")))
            .when(mod3 == 1, F.concat(with_js, F.lit("!")))
            .otherwise(with_js)
        )

    # sequence(1, 0) descends — build over max(nl, 1), slice to nl
    lines_arr = F.slice(
        F.transform(F.sequence(F.lit(1), F.greatest(nl, F.lit(1))), line_of),
        1,
        nl,
    )
    derived = docs.select(
        "doc_id", F.array_join(lines_arr, "\n").alias("text")
    )
    flagged = tx.c4_flags(derived, "text")
    return flagged.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("c4_n_lines").cast("long").alias("n_lines"),
        F.sum("c4_n_end_punct").cast("long").alias("n_end_punct"),
        F.sum("c4_n_ge_min_words").cast("long").alias("n_ge_min_words"),
        F.sum("c4_n_js_lines").cast("long").alias("n_js_lines"),
        F.sum("c4_n_kept").cast("long").alias("n_lines_kept"),
        F.sum("c4_n_sentences").cast("long").alias("n_sentences_total"),
        F.sum(F.length("c4_clean_text")).cast("long").alias(
            "clean_chars_total"
        ),
        (F.sum("c4_n_end_punct") < F.sum("c4_n_lines")).alias(
            "punct_rule_fires"
        ),
        (F.sum("c4_n_ge_min_words") < F.sum("c4_n_lines")).alias(
            "minwords_rule_fires"
        ),
        (F.sum("c4_n_js_lines") > 0).alias("js_rule_fires"),
        (
            (F.sum("c4_n_kept") > 0)
            & (F.sum("c4_n_kept") < F.sum("c4_n_lines"))
        ).alias("conjunction_nonvacuous"),
    )
