"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR.

    python bench.py                 # every HEADLINE query
    python bench.py q1 q2 ...       # only the named queries

Prints the full per-query JSON line, then a compact summary line LAST:
    {"metric": "...", "value": N, "unit": "sec", "n_queries": N,
     "queries": {...}, "sf": ...}
and writes the complete record (timings, Spark jobs and codegen
compiles per query, failed queries) to $SPARK_GRAFT_BENCH_PQ_OUT
(default bench_per_query.json).

Each query executes via the noop sink (full plan execution, no driver
collect), after a warm-up pass that triggers JVM/codegen warm-up on the
smallest table. Timings are per-query wall clock, MIN of
$SPARK_GRAFT_BENCH_RUNS runs (default 3) — sub-second queries jitter
±40-50% run-to-run locally, and min-of-n reads steady-state throughput
through that noise.

:func:`measure` is the one timing loop in the repo; the scaling reports
in ``tools/`` call it too.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# n runs per query, report the MIN: sub-second queries jitter up to
# ±40-50% run-to-run on a busy local JVM (GC, JIT, other tenants of the host),
# and min-of-n is the standard way to read steady-state throughput
# through that noise so real regressions stand out.
RUNS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))

#: Headline queries: the flagship analytics + every operator family that
#: matters at scale (joins, anti-join, windows, sessionization, text/dedup
#: extensions as they land).
HEADLINE = [
    "groupby_agg_pricing_summary",
    "star_join_revenue",
    "nway_inner_join",
    "anti_join_new_keys",
    "window_moving_avg",
    "window_tumbling_daily",
    "sessionize_events",
    "topk_per_group",
    "unnest_tokens",
    "exact_distinct_parts",
    "top_unshipped_orders",
    "pivot_event_counts",
    "percentiles_by_segment",
    "nation_pair_volume",
    "asof_join_last_signup",
    "range_join_error_windows",
    # heavy TPC-H-shaped analytics tier (round 2: regression-visible)
    "sole_late_supplier_waitlist",
    "min_cost_supplier_per_part",
    "top_revenue_supplier",
    "disjunctive_predicate_revenue",
    "customers_above_nation_avg",
    "rolling_7day_customer_revenue",
    "cube_order_stats",
    "grouping_sets_revenue",
    "customer_balance_deciles",
    "outer_join_customer_orders",
    "daily_event_gapfill",
    "window_sliding_6h",
    # LLM-pipeline extensions
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_clusters",
    "dedup_survivor_selection",
    "dedup_embedding_cosine",
    "semantic_dedup_stats",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "skew_salted_join_agg",
    "text_quality_score",
    "doc_fingerprint",
    "gopher_repetition_signals",
    "quality_percentile_prune",
    "benchmark_contamination",
    "corpus_curation",
    "tfidf_top_terms",
    "stratified_sample_langs",
    "mixture_weighted_sample_sources",
    "train_val_test_split",
    "document_chunks",
    "sequence_packing_stats",
    "multimodal_decode_features",
    "audio_decode_features",
    "video_frame_features",
    # round 3 additions
    "template_doc_flags",
    "embedding_quantize_error",
    "ewma_user_value",
    "unigram_logprob_score",
    "data_quality_report",
    "full_outer_daily_activity",
    "dedup_incremental_probe",
    # round 4: TPC-H gap shapes (Q4/Q6/Q8/Q9/Q10/Q11/Q16/Q17/Q20/Q22)
    "order_priority_exists_counts",
    "forecast_revenue_change",
    "nation_market_share",
    "product_profit_by_nation_year",
    "returned_items_by_customer",
    "important_parts_value_share",
    "parts_supplier_diversity",
    "small_quantity_revenue",
    "excess_volume_suppliers",
    "idle_rich_customers",
    "local_supplier_volume",
    # round 4: curation extensions
    "span_dedup_stats",
    "span_dedup_rewrite",
    "source_capped_docs",
    "token_length_buckets",
    # round 4: CDC / dimension history
    "snapshot_diff_orders",
    "scd2_customer_history",
    # round 4: entity resolution + time-series fill
    "fuzzy_part_name_pairs",
    "daily_user_value_locf",
    # round 5: behavioral analytics, sketches, graph
    "funnel_view_click_purchase",
    "weekly_retention_cohorts",
    "cohort_ltv_curves",
    "rolling_zscore_anomalies",
    "daily_user_value_interp",
    "heavy_hitter_users",
    "bloom_pruned_order_revenue",
    "pagerank_copurchase_parts",
    "pagerank_weighted_copurchase",
    "personalized_pagerank_parts",
    "triangle_counts_parts",
    "kcore_parts",
    "bigram_pmi_collocations",
    "table_profile_orders",
    "correlation_matrix_lineitem",
    "daily_new_returning_users",
    "pareto_revenue_by_segment",
    "daily_ohlc_bars",
    "daily_returns_volatility",
    "max_drawdown_per_user",
    "user_value_trend",
    "monthly_revenue_mom_growth",
    "custom_source_events_report",
    "incremental_rollup_merge",
    "char_entropy_report",
    "winsorized_price_stats",
    "cms_user_counts",
    "bpe_merge_stats",
    "bpe_encode_stats",
    "join_view_maintenance",
    "event_sequence_patterns",
    # round 4: statistical analytics + pattern mining
    "regr_price_quantity",
    "mad_outlier_prices",
    "dow_seasonality_index",
    "markov_event_transitions",
    "market_basket_part_pairs",
    "zipf_token_rank_slope",
    "chi_square_segment_priority",
    "rfm_customer_segments",
    "top_session_paths",
    "customer_order_gap_stats",
    "seasonal_adjusted_anomalies",
    "bigram_logprob_score",
    "readability_report",
    "brown_forecast_user_value",
    "ks_drift_purchase_view",
    "gini_revenue_concentration",
    # round 7: retrieval second stage + dimensionality reduction
    "ann_rerank_topk",
    "pca_embedding_variance",
    # round 7: model-based filtering + deterministic epoch shuffle
    "classifier_quality_filter",
    "epoch_shuffle_stats",
    # round 7: leakage-proof cluster-aware train/val/test splitting
    "cluster_aware_split_stats",
    # round 8: learned-weight classifier path (plan-constant model swap)
    "classifier_learned_weights_filter",
    # round 8: persisted ANN index build -> merge -> probe lifecycle
    "ann_index_lifecycle",
    # round 9: index SCD maintenance (delete -> probe -> re-embed)
    "ann_index_delete_reembed",
    # round 9: frozen-quantizer drift measurement (retrain-cadence knob)
    "ann_index_drift_audit",
    # round 9: in-engine-trained quality classifier (committed artifact)
    "classifier_trained_model_filter",
    # round 9: substring-level dedup (rolling multi-width cascade)
    "span_dedup_multiwidth",
    # round 9: hands-free streaming index maintenance (auto-compaction)
    "ann_index_autocompact_stream",
    # round 9: drift signal acted on (audit -> retrain -> measured win)
    "ann_index_retrain_cycle",
    # round 10: drift audit wired into the maintainer (auto-retrain)
    "ann_index_autoretrain_stream",
    # round 11: discriminative recall gate on the planted-cluster fixture
    "ann_clustered_recall",
    # round 12: the same gate extended to LSH / IVF-Flat / PQ
    "ann_clustered_recall_families",
]


def measure(spark, qs, names, sf_dir, *, warm_dir, runs) -> dict:
    """Time ``qs[name](spark, sf_dir)`` through the noop sink for every
    name: MIN of ``runs`` wall-clock runs after one warm-up pass over
    all names at ``warm_dir``.

    Returns ``{"queries": {name: sec}, "jobs": {name: n},
    "compiles": {name: n}, "failed": {name: error}}``. ``jobs`` is the
    fewest Spark jobs one timed run scheduled and ``compiles`` the
    fewest generated classes one timed run compiled, both read outside
    the timed region. A query that
    raises in a timed run is reported on stderr, recorded in
    ``failed`` and skipped; the run goes on. An unknown name raises
    ``KeyError`` before any work starts.
    """
    from sentiment_analysis_data_engineering_spark.operators.dedup import release_pinned
    from sentiment_analysis_data_engineering_spark.operators.observe import (
        codegen_compile_count,
        spark_job_count,
    )

    fns = {name: qs[name] for name in names}

    # Warm-up: run every query once at warm_dir (bench: the smallest
    # scale factor), so the timed runs measure steady-state throughput,
    # not one-time JVM start-up. Generated classes are cached by their
    # source, and get_spark sizes that cache to hold every registered
    # query's classes; a class whose source differs at sf_dir (AQE can
    # pick another join shape there) is compiled in the first timed
    # run, which ``compiles`` (min over runs) leaves out.
    for name, fn in fns.items():
        try:
            fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # warm-up must never sink the bench...
            # ...but a silent failure would bias the first timed run
            # (cold codegen) — make it visible in the captured log.
            print(f"WARMUP-FAIL {name}: {type(exc).__name__}: {exc}", file=sys.stderr)
        finally:
            release_pinned()

    out: dict[str, dict] = {"queries": {}, "jobs": {}, "compiles": {}, "failed": {}}
    for name, fn in fns.items():
        best = jobs = compiles = None
        try:
            for _ in range(runs):
                before = spark_job_count(spark)
                compiled = codegen_compile_count(spark)
                try:
                    t0 = time.time()
                    df = fn(spark, sf_dir)
                    df.write.format("noop").mode("overwrite").save()
                    dt = time.time() - t0
                    n = spark_job_count(spark) - before
                    c = codegen_compile_count(spark) - compiled
                finally:
                    # dedup/LSH queries pin signature frames for
                    # intra-query reuse; drain between runs so storage
                    # stays flat
                    release_pinned()
                best = dt if best is None else min(best, dt)
                jobs = n if jobs is None else min(jobs, n)
                compiles = c if compiles is None else min(compiles, c)
        except Exception as exc:
            out["failed"][name] = f"{type(exc).__name__}: {exc}"
            print(f"FAIL {name}:\n{traceback.format_exc()}", file=sys.stderr)
        else:
            out["queries"][name] = round(best, 3)
            out["jobs"][name] = jobs
            out["compiles"][name] = compiles
        # Between queries (OUTSIDE the timed section): drop any cached
        # relations and force a driver GC. Spark's ContextCleaner only
        # releases finished queries' broadcast/shuffle state when the
        # driver heap GCs, which a 74-query session on a huge heap may
        # never do on its own — the accumulated executor blocks were
        # measured inflating late-running queries ~2x vs solo runs.
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
    return out


def main() -> None:
    from sentiment_analysis_data_engineering_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("bench")
    record = measure(
        spark, entrymod.queries(), sys.argv[1:] or HEADLINE, SF_DIR,
        warm_dir=entrymod.SF0001, runs=RUNS,
    )
    timings = record["queries"]

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    total = round(sum(timings.values()), 3)
    # Persist the FULL per-query map to a file: the driver captures only
    # the tail of this log, so the complete per-query breakdown of a
    # 140+-query run never survives into BENCH_r{N}.json (round 9's tail
    # held ~46 of 143 entries) — cross-round per-query audits need the
    # whole map on disk. $SPARK_GRAFT_BENCH_PQ_OUT overrides the path
    # (the closeout protocol points it at bench_per_query_r{N}.json and
    # commits the result at final HEAD).
    pq_out = os.environ.get(
        "SPARK_GRAFT_BENCH_PQ_OUT", os.path.join(ROOT, "bench_per_query.json")
    )
    # write-temp-then-rename: a crash mid-dump must never leave a
    # truncated file at the final path (the closeout protocol commits
    # this artifact verbatim as the per-query record)
    pq_tmp = f"{pq_out}.tmp"
    with open(pq_tmp, "w") as f:
        json.dump(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "queries": timings,
                "jobs": record["jobs"],
                "compiles": record["compiles"],
                "failed": record["failed"],
                "sf": sf_val,
            },
            f,
            indent=1,
            sort_keys=True,
        )
    os.replace(pq_tmp, pq_out)
    # Full per-query line first...
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
            }
        )
    )
    # ...then a compact totals line LAST. The driver captures only the
    # TAIL of the bench log — measured at 2000 bytes in BENCH_r14.json
    # — and round 3's 107-query full line overflowed that window,
    # truncating the head (metric/value/total) and leaving
    # BENCH_r03.json unparseable (parsed: null). A full 146-query line
    # is ~4.5 KB, so it can NEVER survive the capture; instead this
    # last line packs AS MANY of the slowest queries as fit a
    # conservative 1800-byte budget (~45 entries vs the old top-10 —
    # additions-only, so every prior round's top-10 keys still appear)
    # and the cross-round PERF comparison covers every query that
    # contributes measurable time. The complete map is still printed
    # on the preceding line and persisted to $SPARK_GRAFT_BENCH_PQ_OUT.
    head = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "queries": {},
        "sf": sf_val,
    }
    budget = 1800 - len(json.dumps(head, separators=(",", ":")))
    top: dict[str, float] = {}
    for name, sec in sorted(
        timings.items(), key=lambda kv: kv[1], reverse=True
    ):
        cost = len(json.dumps({name: sec}, separators=(",", ":"))) - 1
        if budget - cost < 0:
            break
        budget -= cost
        top[name] = sec
    head["queries"] = top
    print(json.dumps(head, separators=(",", ":")))


if __name__ == "__main__":
    main()
