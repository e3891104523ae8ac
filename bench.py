#!/usr/bin/env python
"""Benchmark harness: times the HEADLINE queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line:  {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is collected to the driver, so a timing covers scan →
shuffle → result, not just plan construction.

- Reps: $SPARK_GRAFT_BENCH_REPS (default 3) INTERLEAVED rounds
  (q1..qN, q1..qN, …), so a host stall inflates one round of many
  queries instead of every rep of one query.
- Stat: with 3+ rounds "queries" holds per-query medians; with fewer,
  per-query minima (the warm rep).  "stat" says which; "value" is the
  sum.  An erroring query leaves the sum and is named in "excluded".
- Budget: a round after the first starts only when the elapsed time
  plus the previous round's wall fits in $SPARK_GRAFT_BENCH_BUDGET_S.
- Recall: ann_recall_report's recall@k at bench scale, never summed.
- Audits: the AUDIT rows run once each, cheapest first, after the
  recall report; a row starts only while the elapsed time is under
  $SPARK_GRAFT_BENCH_WALL_S, and unstarted rows are reported skipped.
  Their walls go to BENCH_DETAILS.json and the "audit" summary, never
  into "value".
- Output: the stdout line is compact JSON capped at 1900 chars (the
  tail a caller captures); cold runs, spreads and samples go to
  BENCH_DETAILS.json next to this script.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q_top_customers",
    "q_window_top_orders_per_customer",
    "q_brand_volume",
    "q_distinct_parts_per_flag",
    "q_events_hourly_by_type",
    "q_events_sessionize",
    "q_docs_token_stats",
    "q_docs_exact_dedup",
    "q_emb_knn_bruteforce",
    "q_docs_minhash_near_dups",
    "q17_small_quantity_revenue",
    "q_cube_flag_status",
    "q_pandas_udf_revenue",
    "q_media_decode_stats",
    "q_full_outer_daily_activity",
    "q_events_view_to_purchase",
    "q_salted_agg_volume",
    "q_docs_bpe_token_stats",
    "q_sql_revenue_by_nation",
    "q9_product_profit",
    "q13_order_count_distribution",
    "q18_large_volume_orders",
    "q21_suppliers_kept_waiting",
    # gate queries.  q_emb_ann_lsh / q_emb_ann_ivf /
    # q_docs_simhash_near_dups / q_media_features /
    # q_sketch_heavy_hitters embed their oracle ground-truth branch
    # (recall/containment/checksum checks), so their time includes
    # the verification work.
    "q_emb_ann_lsh",
    "q_emb_ann_ivf",
    "q_docs_simhash_near_dups",
    "q_dt_channel_occupancy",
    "q_dt_hits_per_orbit",
    "q_dt_orbit_assembly",
    "q_events_asof_last_order",
    "q_media_features",
    "q_docs_pii_stats",
    "q_docs_dedup_groups",
    "q_docs_decontaminate",
    "q_events_dedup_ingest",
    # training-pipeline queries
    "q_chunk_token_windows",
    "q_text_repetition_stats",
    "q_pack_sequences",
    "q_vec_int8_quant_error",
    "q_vec_kmeans",
    "q_search_bm25",
    "q_vec_knn_arrow",
    "q_pipeline_curation",
    "q_text_crossdoc_blocks",
    "q_sketch_heavy_hitters",
    "q_shuffle_epochs",
    "q_pack_export",
    "q_mixture_upsample",
    # q_emb_near_dup_lsh_subset is gate-only, NOT a bench headline: its
    # exact ground-truth branch is all-pairs BY DESIGN (the verification
    # harness for the LSH path), which at sf0.1's 2k vectors costs
    # minutes — the benchmarked scale representatives for the embedding
    # family are q_emb_ann_lsh / q_emb_ann_ivf.
    "q_docs_jaccard_blocked",
    "q_right_outer_order_counts",
    # q_emb_semantic_dedup and q_emb_semantic_keep_list are gate-only
    # for the same reason as q_emb_near_dup_lsh_subset: their graded
    # forms embed the exact all-pairs ground-truth branch, which is
    # quadratic BY DESIGN at verification scale.
    "q_docs_tfidf_top_terms",
    "q_docs_bigram_familiarity",
    "q_mixture_temperature",
    "q_docs_minhash_estimate",
    "q_docs_decontaminate_fuzzy",
    "q_profile_orders",
    "q_histogram_quantity",
    "q_docs_decontaminate_bloom",
    "q_docs_quality_classifier",
    "q_docs_bpe_merges",
    # the trained-classifier slots (bucketed-array and broadcast-vocab),
    # production-size BPE encode, and the snapshot MERGE protocol.  NB:
    # lakehouse._merge_table is build_once, so the merged table is
    # built once per process and only the COLD rep pays the v1 write +
    # merge rewrite (visible in BENCH_DETAILS.json "cold"); the median
    # reps grade the manifest read + aggregate over the published
    # artifact.
    "q_docs_classifier_trained",
    "q_docs_vocab_classifier",
    "q_docs_bpe_encode_stats",
    "q_snapshot_merge_orders",
    # DSIR selection: two fit aggregates + map-only scoring + top-k
    "q_docs_dsir_selection",
    # cross-doc span removal: block-hash shuffle + text rebuild
    "q_docs_strip_boilerplate",
    # incremental view maintenance: CDC delta + groups-sized join only
    "q_snapshot_incremental_agg",
    # hybrid retrieval: BM25 scan + cosine scan + integer-RRF fusion
    "q_docs_hybrid_search",
    # unigram tokenizer: corpus pass + driver EM + arrow Viterbi encode
    "q_docs_unigram_encode_stats",
    # the soft-EM (forward-backward) unigram variant with its extra
    # driver-side hard-EM train for the divergence grade
    "q_docs_unigram_soft_encode",
    # the Gopher rule-based quality filter (map-only integer
    # cross-multiplication over the scan) and SemDeDup/D4
    # prototypicality pruning (kmeans driver loop + one slim
    # (id, cluster, dist) window)
    "q_docs_gopher_rules",
    "q_emb_prototype_prune",
    # the full Gopher Table-A1 repetition table (dup line/para +
    # top/dup n-gram char fractions) — the heaviest text map in the
    # repo (nine sorted-run folds per row), scan _spread first
    "q_docs_gopher_repetition",
    # the C4 cleaning rules (line filters + page-drop triggers +
    # clean-text reconstruction) — map-only line/word folds
    "q_docs_c4_rules",
    # alignment-free duplicated-span dedup (one overlapping-shingle row
    # per token position + banned-run merge + the aligned-block
    # comparison twin), the derived-corpus C4 line-rule grade, and the
    # Expand-free approx profile beside its exact twin
    "q_docs_span_dedup",
    "q_docs_c4_rules_derived",
    "q_profile_orders_approx",
    # incremental ingest dedup against the persisted MinHash signature
    # index (the index is build_once, so only the cold rep pays its
    # build; medians grade the batch signature pass + banded join +
    # candidate-only verify), and the tokenizer-artifact round-trip
    # encode
    "q_docs_incremental_dedup",
    "q_docs_bpe_persisted",
    # span-level decontamination: one shingle row per train token
    # position + eval-set semi join + run merge, total per-doc output
    "q_docs_decontaminate_spans",
    # the span-decontamination STRIP (the flag row's shape plus the
    # per-doc text rebuild)
    "q_docs_strip_contaminated_spans",
    # token-budget mixture selection: per-bucket sums (one map-side
    # combine, ≤ sources × 256 driver rows) + wholesale pre-cutoff
    # keep + exact window over the single cutoff bucket per source
    "q_docs_token_budget_sample",
    # filter-threshold yield curve: all cutoffs' doc/token retention
    # as side-by-side conditional sums in ONE scan + literal unpivot
    "q_docs_quality_yield_curve",
    # reverse contamination audit: per-eval leak fraction + distinct
    # train-doc blast radius, distinct-(id, shingle) reductions + one
    # hash join, aggregates over hit rows only
    "q_docs_contamination_report",
    # cross-source duplication matrix: domain-bounded collect_set per
    # shingle hash (no self-join), |sources|^2 pair fan-out per hash
    "q_docs_source_overlap",
    # distributed perceptron training: per epoch one map-only scoring
    # scan + one <=64-row gradient aggregate; epochs x 64 driver ints
    "q_docs_classifier_training",
    # metadata-filtered search, exact half (strong SQL oracle; the ANN
    # half is in AUDIT)
    "q_emb_knn_filtered",
]

# Lifecycle audits: each row's wall is dominated by its graded
# twin/exact/lifecycle branches (serve + byte-identity twin + exact
# ground truth for the codes family, deliberately uncached index fits
# and moment scans for drift/PCA/refit/tuned, a per-call re-fit for
# ivfpq_auto), not by the serving path.  They stay registered and
# gate-graded; the bench runs each once per invocation so an erroring
# audit shows up.  PQ/IVFPQ serving quality is measured every run by
# the ann_recall report.  Ordered cheapest first by their measured
# walls (seconds, local[32], sf0.1); the rows without a bench timing
# follow in their expected-cost order.
AUDIT = [
    "q_emb_pca_audit",  # 3.8
    "q_emb_ann_ivfpq",  # 4.2
    "q_emb_ann_ivfpq_auto",  # 4.6
    "q_emb_ann_drift_report",  # 5.5
    "q_emb_ann_ivfpq_codes",  # 7.6
    "q_emb_pca_incremental",  # 11.1
    "q_emb_ann_codes_extend",  # 13.8
    "q_emb_ann_ivfpq_persisted",  # 20.0
    "q_emb_ann_pq",  # 27.7
    "q_emb_ann_tuned_persisted",  # 29.6
    "q_emb_ann_filtered",  # 39.7
    "q_emb_ann_codes_delete",
    "q_emb_ann_refit_tombstone",
    "q_emb_ann_opq",
    "q_emb_ann_rotation_auto",
    "q_emb_ann_refit",
    "q_emb_ann_ivfpq_residual",
    "q_emb_ann_tuned",
]


def headline_names(registry: dict) -> list[str]:
    """HEADLINE in order, checked against ``registry``: an unregistered
    name raises KeyError instead of silently shortening the headline."""
    missing = [n for n in HEADLINE if n not in registry]
    if missing:
        raise KeyError(f"headline queries not registered: {missing}")
    return list(HEADLINE)


def run_audits(run, elapsed, wall_s: float) -> list[str]:
    """Call ``run(name)`` for each AUDIT row in order while
    ``elapsed() < wall_s``; return the rows never started."""
    for i, name in enumerate(AUDIT):
        if elapsed() >= wall_s:
            return AUDIT[i:]
        run(name)
    return []


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "400"))
    wall_s = float(os.environ.get("SPARK_GRAFT_BENCH_WALL_S", "555"))
    t0 = time.perf_counter()

    def elapsed() -> float:
        return time.perf_counter() - t0

    from fortymhz_spark.queries import all_queries
    from fortymhz_spark.session import get_session

    spark = get_session("fortymhz-bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    names = headline_names(registry)

    # Warm the JVM + parquet footers with one cheap action so per-query
    # timings measure the engine, not classloading.
    registry[names[0]](spark, sf_dir).limit(1).collect()

    def timed(name: str, tag: str, errs: dict[str, str]) -> float | None:
        """Collect one query; its wall in seconds, or None after
        recording the error in ``errs`` (one bad query must not void
        the bench)."""
        start = time.perf_counter()
        try:
            rows = registry[name](spark, sf_dir).collect()
        except Exception as ex:
            errs[name] = f"{type(ex).__name__}: {str(ex)[:200]}"
            print(f"# {tag} {name}: ERROR {errs[name]}", file=sys.stderr)
            return None
        el = time.perf_counter() - start
        print(f"# {tag} {name}: {el:.3f}s ({len(rows)} rows)",
              file=sys.stderr)
        return el

    times: dict[str, list[float]] = {n: [] for n in names}
    errors: dict[str, str] = {}
    reps_run = 0
    last_rep_wall = 0.0
    for rep in range(reps):
        if rep > 0 and elapsed() + last_rep_wall > budget_s:
            print(
                f"# budget {budget_s}s: round {rep + 1} would end past "
                f"it; stopping after {rep} round(s)",
                file=sys.stderr,
            )
            break
        reps_run = rep + 1
        rep_start = time.perf_counter()
        for name in names:
            if name not in errors:
                el = timed(name, f"r{rep}", errors)
                if el is not None:
                    times[name].append(el)
        last_rep_wall = time.perf_counter() - rep_start

    # ANN recall@k at bench scale: the gate grades recall only at
    # sf0.001/0.01, so a collapse at 10x corpus must show here.  A
    # recall failure must not void the timing bench.
    ann_recall: dict[str, float] = {}
    ann_recall_detail: dict[str, dict[str, float]] = {}
    try:
        from fortymhz_spark.queries.llm import ann_recall_report

        rstart = time.perf_counter()
        report = ann_recall_report(spark, sf_dir)
        ann_recall = {f: round(v["mean"], 3) for f, v in report.items()}
        ann_recall_detail = {
            f: {k2: round(v2, 4) if isinstance(v2, float) else v2
                for k2, v2 in v.items()}
            for f, v in report.items()
        }
        print(
            f"# ann_recall ({time.perf_counter() - rstart:.1f}s): "
            f"{ann_recall}",
            file=sys.stderr,
        )
    except Exception as ex:
        print(f"# ann_recall: ERROR {type(ex).__name__}: {str(ex)[:200]}",
              file=sys.stderr)

    audit_times: dict[str, float] = {}
    audit_errors: dict[str, str] = {}

    def run_audit(name: str) -> None:
        el = timed(name, "audit", audit_errors)
        if el is not None:
            audit_times[name] = el

    audit_skipped = run_audits(run_audit, elapsed, wall_s)
    if audit_skipped:
        print(
            f"# audit: wall {wall_s}s reached; skipped "
            + ",".join(audit_skipped),
            file=sys.stderr,
        )

    # An erroring query is excluded even if earlier rounds sampled it,
    # so "value" never mixes in a partial sample of a broken query.
    ok = {n: ts for n, ts in times.items() if ts and n not in errors}
    # Median-of-2 would average the cold round into every number, so
    # fewer than 3 rounds fall back to the min (the warm rep).
    medians = {
        n: (statistics.median(ts) if len(ts) >= 3 else min(ts))
        for n, ts in ok.items()
    }
    stat = "median" if reps_run >= 3 else "min"
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    result = {
        "metric": "headline_queries_total",
        "value": round(sum(medians.values()), 3),
        "unit": "sec",
        "stat": stat,
        "queries": {n: round(m, 3) for n, m in medians.items()},
        "n_queries_in_value": len(medians),
        "excluded": sorted(set(names) - set(medians)),
        "reps": reps_run,
        "sf": float(sf) if sf else None,
        "ann_recall": ann_recall,
        "audit": {
            "n": len(audit_times),
            "total_sec": round(sum(audit_times.values()), 2),
            "skipped": len(audit_skipped),
            "errors": len(audit_errors),
        },
    }
    details = {
        **result,
        "queries": {n: round(m, 4) for n, m in medians.items()},
        "ann_recall": ann_recall_detail,
        "cold": {n: round(ts[0], 4) for n, ts in ok.items()},
        "spread": {n: round(max(ts) - min(ts), 4) for n, ts in ok.items()},
        "samples": {n: [round(t, 4) for t in ts] for n, ts in ok.items()},
        "errors": errors,
        "audit": {n: round(t, 4) for n, t in audit_times.items()},
        "audit_skipped": audit_skipped,
        "audit_errors": audit_errors,
    }
    details_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "BENCH_DETAILS.json")
    with open(details_path, "w") as fh:
        json.dump(details, fh, indent=1)
    print(f"# cold/spread/samples -> {details_path}", file=sys.stderr)
    spark.stop()
    # The compact result line must be printed last and fit 1900 chars:
    # shed precision, then the per-query map.
    line = json.dumps(result, separators=(",", ":"))
    if len(line) > 1900:
        result["queries"] = {n: round(m, 2) for n, m in medians.items()}
        line = json.dumps(result, separators=(",", ":"))
        if len(line) > 1900:
            del result["queries"]
            result["queries_in"] = "BENCH_DETAILS.json"
            line = json.dumps(result, separators=(",", ":"))
    sys.stdout.flush()
    print(line, flush=True)


if __name__ == "__main__":
    main()
