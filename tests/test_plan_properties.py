"""Physical-plan regression tests — the scale posture, asserted.

Correctness tests prove the right rows come back at sf0.001; these
prove the *plan* is the one that survives 100 TB: filters reach the
parquet scan, projections prune columns, small dimensions broadcast
(no sort-merge shuffle of the fact table against a 25-row dim), top-k
plans as TakeOrderedAndProject (no global sort), and nothing
quadratic (CartesianProduct) sneaks into the LSH pipelines.
"""

from __future__ import annotations

import os
import re
from urllib.parse import unquote, urlparse

import pytest
from pyspark.sql import functions as F

from fortymhz_spark.queries import all_queries

_QUERIES = all_queries()


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class _LazyPlans(dict):
    def __init__(self, spark, sf_dir):
        super().__init__()
        self._spark, self._sf = spark, sf_dir

    def __missing__(self, name: str) -> str:
        self[name] = plan_of(_QUERIES[name](self._spark, self._sf))
        return self[name]


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    return _LazyPlans(spark, sf_dir)


def test_q6_filter_pushdown_and_pruning(plans):
    plan = plans["q6_forecast_revenue"]
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    # predicate reaches the scan…
    assert "PushedFilters: [" in scan and "GreaterThanOrEqual" in scan
    # …and only the 4 referenced columns are read (no full-row scan)
    m = re.search(r"FileScan parquet \[([^\]]*)\]", scan)
    cols = [c.split("#")[0] for c in m.group(1).split(",")]
    assert sorted(cols) == [
        "l_discount",
        "l_extendedprice",
        "l_quantity",
        "l_shipdate",
    ]


@pytest.mark.parametrize(
    "name", ["q5_local_supplier_volume", "q_top_customers", "q3_shipping_priority"]
)
def test_dimension_joins_broadcast(plans, name):
    plan = plans[name]
    assert "BroadcastHashJoin" in plan
    # the fact table must never be shuffled for a dim join
    assert "SortMergeJoin" not in plan


def test_topk_plans_as_take_ordered(plans):
    assert "TakeOrderedAndProject" in plans["q_top_customers"]


def test_q1_single_aggregation_shuffle(plans):
    # partial+final hash agg → exactly one hash Exchange (plus the sort)
    hash_exchanges = [
        l for l in plans["q1_pricing_summary"].splitlines()
        if "Exchange hashpartitioning" in l
    ]
    assert len(hash_exchanges) == 1


@pytest.mark.parametrize(
    "name",
    [
        "q_docs_minhash_near_dups",
        "q_docs_simhash_near_dups",
        "q_docs_jaccard_blocked",
        # since the sparse inverted-index form landed, even the
        # UNBLOCKED exact-Jaccard ground truth equi-joins on the
        # shingle key — no cross product anywhere in the family
        "q_docs_ngram_jaccard_pairs",
        # round-4 minhash-family queries: estimation accuracy and
        # fuzzy decontamination both ride the banded bucket join
        "q_docs_minhash_estimate",
        "q_docs_decontaminate_fuzzy",
    ],
)
def test_lsh_pipelines_never_cartesian(plans, name):
    plan = plans[name]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsh_knn_operator_never_cartesian(spark, sf_dir):
    # The registered q_emb_ann_lsh/q_emb_ann_ivf queries now embed the
    # brute-force ground-truth branch for their in-plan recall check —
    # that branch is a broadcast nested loop BY DESIGN (small query set
    # against the corpus = the scoring work itself).  The scale
    # guarantee lives in the ANN operators: their candidate generation
    # must stay bucketed, never all-pairs.
    from fortymhz_spark.operators import similarity as sim
    from fortymhz_spark.sources.batch import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    for df in (
        sim.lsh_knn(emb, queries, k=10, n_planes=16, bands=8),
        sim.ivf_knn(emb, queries, k=5, n_cells=16, nprobe=8),
    ):
        plan = plan_of(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_window_dedup_single_shuffle(plans):
    # latest-per-user = one hash exchange for the window, nothing more
    plan = plans["q_events_latest_per_user"]
    hash_exchanges = [
        l for l in plan.splitlines() if "Exchange hashpartitioning" in l
    ]
    assert len(hash_exchanges) == 1


def test_codegen_covers_relational_queries(spark, sf_dir):
    # hot path stays inside whole-stage codegen (no interpreted islands
    # beyond exchanges/scans).  Codegen spans only appear in the final
    # (post-AQE, executed) plan, so run the query first.
    for name in ("q1_pricing_summary", "q5_local_supplier_volume"):
        df = _QUERIES[name](spark, sf_dir)
        df.collect()
        # codegen stages appear as "*(n) Operator" in the plan string
        assert re.search(r"\*\(\d+\) (HashAggregate|Project|Filter)", plan_of(df))


def test_media_decode_is_arrow_batched(plans):
    # mapInPandas shows up as a (Flat)MapInPandas/ArrowEvalPython node,
    # i.e. vectorized Arrow transfer — not row-at-a-time BatchEvalPython
    plan = plans["q_media_decode_stats"]
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_q21_semi_anti_self_joins_not_quadratic(plans):
    # EXISTS → LeftSemi, NOT EXISTS → LeftAnti, both hashed on
    # l_orderkey; the non-equi suppkey/shipdate terms ride along as
    # join residuals — never a nested-loop or cartesian expansion.
    plan = plans["q21_suppliers_kept_waiting"]
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q16_not_in_is_broadcast_anti_join(plans):
    # NOT IN over a filtered dimension must broadcast the excluded-key
    # set, not shuffle the fact table.
    plan = plans["q16_supplier_diversity"]
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan)
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize(
    "name", ["q11_important_suppliers", "q15_top_supplier"]
)
def test_scalar_subquery_is_single_row_broadcast(plans, name):
    # the global-total / MAX scalar joins back as a 1-row broadcast —
    # either a BroadcastNestedLoopJoin (inequality compare, q11) or a
    # BroadcastHashJoin (Catalyst rewrites the `= scalar` filter into
    # an equi-join, q15).  Never a shuffle, never a per-row subquery,
    # never anything quadratic.
    plan = plans[name]
    assert (
        "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    )
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q9_star_join_never_shuffles_fact(plans):
    # all three dims broadcast after their filters; lineitem is only
    # shuffled once, for the final groupBy.
    plan = plans["q9_product_profit"]
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_asof_flagship_is_a_joinless_sweep(plans):
    # the as-of operator is a sort-merge sweep: union + keyed window
    # carry-forward, so the plan must contain NO join node at all —
    # pair materialization (the old equi-join + argmax shape that
    # needed a tolerance bound to stay scale-safe) is structurally
    # impossible.  The tolerance now applies as a post-sweep filter;
    # its interval literal must still reach the plan.
    plan = plans["q_events_asof_last_order"]
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    assert "3650" in plan  # the lookback filter survives in the plan


def test_cosine_near_dup_lsh_path_is_bucketed(spark, sf_dir):
    # use_lsh=True (the explicit scale-path opt-in — approximation is
    # never a silent data-size-dependent downgrade) must plan bucketed
    # LSH candidate generation: no all-pairs join shape anywhere.
    from fortymhz_spark.operators import similarity as sim
    from fortymhz_spark.sources.batch import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    lsh = sim.cosine_near_dup_pairs(emb, threshold=0.9, use_lsh=True)
    plan = plan_of(lsh)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize(
    "name", ["q_docs_pii_stats", "q_docs_stratified_sample", "q_docs_top_terms"]
)
def test_new_llm_ops_stay_jvm_side(plans, name):
    # PII regexes, sampling arithmetic, and term stats are pure column
    # expressions: single scan, no Python boundary, nothing quadratic.
    plan = plans[name]
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("FileScan") == 1


def test_decontaminate_joins_on_shingles_not_pairs(plans):
    # eval shingles join train shingles on the shingle key (hash or
    # broadcast) — never an all-pairs doc comparison.
    plan = plans["q_docs_decontaminate"]
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q2_min_price_scan_is_pruned(plans):
    # the per-part MIN aggregate must read only (l_partkey,
    # l_extendedprice[, l_suppkey]) — not the whole lineitem row.
    plan = plans["q2_min_cost_supplier"]
    for line in plan.splitlines():
        if "FileScan parquet" in line and "l_partkey" in line:
            m = re.search(r"FileScan parquet \[([^\]]*)\]", line)
            cols = [c.split("#")[0] for c in m.group(1).split(",")]
            assert len(cols) <= 3, cols


@pytest.mark.parametrize(
    "name",
    [
        "q_chunk_token_windows",
        "q_text_repetition_stats",
        "q_vec_int8_quant_error",
    ],
)
def test_round2_map_only_ops_single_scan_no_python(plans, name):
    # chunking, repetition folds, and quant-error are map-only column
    # expressions: one scan, no Python boundary, and at most the final
    # tiny aggregate/sort exchange — never a per-row shuffle of text.
    plan = plans[name]
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("FileScan") == 1


def test_pack_sequences_single_shard_window_exchange(plans):
    # packing = one hashpartitioning exchange on the shard column for
    # the window + the aggregate reusing it; no global single-partition
    # sort before the window (rangepartitioning only for final ORDER BY).
    plan = plans["q_pack_sequences"]
    assert "BatchEvalPython" not in plan
    assert plan.count("FileScan") == 1
    window_lines = [l for l in plan.splitlines() if "Window" in l]
    assert window_lines, "expected a Window node"
    # shard-partitioned window: the exchange feeding it hashes on source
    assert "hashpartitioning(source" in plan


def test_repetition_stats_reads_only_needed_columns(plans):
    plan = plans["q_text_repetition_stats"]
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    m = re.search(r"FileScan parquet \[([^\]]*)\]", scan)
    cols = sorted(c.split("#")[0] for c in m.group(1).split(","))
    assert cols == ["source", "text"]


def test_bm25_broadcasts_stats_and_takes_ordered(plans):
    # corpus stats (N, df, Σdl) are ONE aggregated row broadcast back;
    # ranking must be TakeOrderedAndProject, never a global sort; term
    # frequencies are array filters, so no explode-shuffle of tokens.
    plan = plans["q_search_bm25"]
    assert "BatchEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_arrow_knn_is_arrow_batched_with_local_topk(plans):
    # the BLAS path must cross into Python ONCE via Arrow (MapInPandas),
    # never row-at-a-time, and merge per-partition top-k with a window —
    # no corpus-wide cross join.
    plan = plans["q_vec_knn_arrow"]
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_curation_funnel_single_scan(plans):
    # the funnel must read the corpus ONCE: representative selection is
    # a window min (no self-join), funnel counters are conditional aggs
    # on the same pass.  A stage-per-DataFrame version costs 4 scans.
    plan = plans["q_pipeline_curation"]
    assert plan.count("FileScan") == 1
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_rarity_vocab_is_takeordered_broadcast(plans):
    # the vocabulary must be a distributed top-k (TakeOrderedAndProject),
    # broadcast back — never a full-vocabulary single-partition window
    # or a shuffled join of the dictionary.
    plan = plans["q_text_rarity_score"]
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_crossdoc_blocks_shuffle_hashes_not_text(plans):
    # only (doc_id, block_md5) rows shuffle; no all-pairs comparison.
    plan = plans["q_text_crossdoc_blocks"]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("FileScan") <= 2


def test_pivot_declared_domain_single_agg(plans):
    # declared pivot values ⇒ one partial+final aggregate, no extra
    # distinct-values job (which an undeclared pivot would run).
    plan = plans["q_pivot_flag_by_status"]
    assert plan.count("FileScan") == 1
    assert "BatchEvalPython" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "q_docs_tfidf_top_terms",
        "q_docs_bigram_familiarity",
        "q_mixture_temperature",
    ],
)
def test_curation_queries_stay_jvm_side(plans, name):
    # TF-IDF, bigram familiarity, and temperature rebalancing are pure
    # column expressions + joins on data-derived keys: no Python
    # boundary, nothing quadratic.
    plan = plans[name]
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_semantic_near_dup_operator_is_bucketed(spark, sf_dir):
    """The PRODUCTION form of semantic_near_dup_pairs (unlike the
    graded query, which deliberately embeds the exact all-pairs
    ground-truth branch) must generate candidates via the cell join
    only: hash-partitioned on the cell id, nothing quadratic, no
    Python boundary."""
    from fortymhz_spark.operators.similarity import semantic_near_dup_pairs
    from fortymhz_spark.sources.batch import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    plan = plan_of(
        semantic_near_dup_pairs(emb, threshold=0.45, n_cells=8, probes=2)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


@pytest.mark.parametrize(
    "name",
    [
        # overlapping-shingle span dedup: frequency agg + banned-run
        # window + coverage arrays — equi-joins on md5/doc keys only
        "q_docs_span_dedup",
        # derived-corpus C4 grade: in-plan re-lining + line folds,
        # map-only into a single-row combine
        "q_docs_c4_rules_derived",
        # incremental dedup: banded bucket join against persisted
        # lanes + candidate-only verify — never all-pairs
        "q_docs_incremental_dedup",
        # round-8: the span-decontamination STRIP — same hit/run-merge
        # shape plus a doc-keyed rebuild join, all equi-keyed
        "q_docs_strip_contaminated_spans",
    ],
)
def test_round7_text_queries_stay_jvm_and_bucketed(plans, name):
    plan = plans[name]
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_span_dedup_operator_shuffles_positions_not_text(spark, sf_dir):
    """duplicated_spans' shuffles carry (id, pos, md5) — the text
    column must be pruned out before any exchange (the 'only
    positions ever shuffle' scale claim, asserted on the plan)."""
    from fortymhz_spark.operators.text import duplicated_spans
    from fortymhz_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(duplicated_spans(docs, shingle_tokens=8))
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line


def test_incremental_dedup_never_rescans_archive_signatures(
    spark, sf_dir, tmp_path
):
    """The serving plan must read the archive's lanes from the INDEX
    parquet, not recompute them: exactly one scan of the base
    documents table may appear (the candidate-verify fetch), and the
    index path must appear as a file source."""
    from pyspark.sql import functions as F

    from fortymhz_spark.operators import dedup as dd
    from fortymhz_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 20 != 0)
    new = docs.filter(F.col("doc_id") % 20 == 0)
    td = str(tmp_path / "idx")
    dd.build_minhash_index(old, td, num_hashes=32, bands=16)
    out = dd.incremental_near_dups(new, old, td, threshold=0.7)
    plan = plan_of(out)
    # lanes come from the artifact (inputFiles, not the plan text:
    # Spark abbreviates a long scan Location to ".../")
    assert any(
        unquote(urlparse(f).path).startswith(td + os.sep)
        for f in out.inputFiles()
    )
    # the candidate join BROADCASTS the batch's banded lanes: the
    # standing lanes are scanned map-only, never hash-shuffled on the
    # bucket key and never self-joined corpus-vs-corpus (round-8: the
    # ingest-time form — per-trigger cost must not re-pair the
    # archive's internal duplication)
    assert "BroadcastHashJoin" in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "band" not in line and "bucket" not in line, line


def test_drift_report_is_map_only_single_scan(spark, sf_dir, tmp_path):
    """ann_drift_report is the index-health probe an operator runs per
    corpus version at 100 TB — it must stay ONE map-only scan into a
    single-row aggregate: no join, no Python boundary, and no
    per-cell literal-array blowup (the per-subquantizer dtab lambda
    form, same discipline as the serving path)."""
    from fortymhz_spark.operators.ann_index import (
        ann_drift_report,
        build_ann_index,
        load_ann_index,
    )
    from fortymhz_spark.sources.batch import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    td = str(tmp_path / "idx")
    build_ann_index(emb, td, n_coarse=8, n_sub=8, n_cells=16)
    plan = plan_of(ann_drift_report(emb, load_ann_index(spark, td)))
    assert len(re.findall(r"FileScan parquet", plan)) == 1
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_codes_delete_serving_still_reads_codes_at_rest(
    spark, sf_dir, tmp_path
):
    """After delete_ann_codes, the serving plan must be unchanged in
    kind: candidate codes come from the parquet codes table (a
    FileScan carrying code_0#), with NO in-plan corpus encode
    (array_sort argmin) leaking back in — a tombstone merge that
    broke the at-rest layout would silently revert serving to the
    O(corpus · encode) per-query shape."""
    from fortymhz_spark.operators.ann_index import (
        build_ann_codes,
        build_ann_index,
        delete_ann_codes,
        load_ann_codes,
        load_ann_index,
    )
    from fortymhz_spark.operators.similarity import ivfpq_knn
    from fortymhz_spark.sources.batch import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    idx_dir, codes_dir = str(tmp_path / "idx"), str(tmp_path / "codes")
    build_ann_index(emb, idx_dir, n_coarse=8, n_sub=8, n_cells=16)
    idx = load_ann_index(spark, idx_dir)
    build_ann_codes(emb, codes_dir, idx, corpus_version=1)
    delete_ann_codes(
        emb.filter(F.col("vec_id") % 7 == 0), codes_dir, idx,
        corpus_version=2,
    )
    surviving = emb.filter(F.col("vec_id") % 7 != 0)
    codes = load_ann_codes(spark, codes_dir, idx, corpus_version=2)
    plan = plan_of(
        ivfpq_knn(
            surviving, emb.limit(3), k=5, nprobe=4, rerank=8, index=idx,
            codes=codes,
        )
    )
    assert any(
        "FileScan parquet" in line and "code_0#" in line
        for line in plan.splitlines()
    ), "post-delete candidate scan must read the persisted codes table"
    assert "array_sort" not in plan, "in-plan PQ encode leaked back in"
