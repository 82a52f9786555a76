"""Physical-plan shape assertions — the 100 TB properties.

Correctness tests prove the numbers; these prove the PLAN: filters
reach the parquet scan, small dimensions broadcast, aggregates combine
map-side, hot paths stay inside whole-stage codegen, and the anti-join
probe carries keys only. A regression here means a query silently
degraded to a shape that won't survive scale-up, even though its
results still match.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

QUERIES = entrymod.queries()


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_predicate_scan_pushes_filters(spark, sf_dir):
    df = QUERIES["predicate_scan"](spark, sf_dir)
    plan = plan_of(df)
    assert "PushedFilters: [" in plan
    # at least one concrete pushed predicate, not an empty list
    assert "PushedFilters: []" not in plan


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    df = QUERIES["star_join_revenue"](spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan


def test_anti_join_is_single_left_anti(spark, sf_dir):
    df = QUERIES["anti_join_new_keys"](spark, sf_dir)
    plan = plan_of(df)
    assert "LeftAnti" in plan
    # the reference's shape was one probe query per row; ours is ONE join
    assert plan.count("LeftAnti") == 1


def test_groupby_agg_has_partial_and_final(spark, sf_dir):
    df = QUERIES["groupby_agg_pricing_summary"](spark, sf_dir)
    plan = plan_of(df)
    # partial (map-side combine) + final hash aggregate
    assert plan.count("HashAggregate") >= 2


def test_scalar_pipeline_stays_in_codegen(spark, sf_dir):
    df = QUERIES["text_quality_score"](spark, sf_dir)
    # "*(n) " prefixes mark whole-stage-codegen'd operators in toString()
    assert "*(1)" in plan_of(df)


def test_column_pruning_reaches_scan(spark, sf_dir):
    df = QUERIES["groupby_agg_pricing_summary"](spark, sf_dir)
    plan = plan_of(df)
    # the pricing summary needs a handful of lineitem columns; the scan
    # must not read the full 11-column schema
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)", plan)
    assert m, plan
    assert len(m.group(1).split(",")) <= 8


def test_salted_join_spreads_key_space(spark, sf_dir):
    df = QUERIES["skew_salted_join_agg"](spark, sf_dir)
    opt = optimized_of(df)
    # the salt column must be part of the join keys in the logical plan
    assert "_salt" in opt


def test_range_join_is_hash_not_nested_loop(spark, sf_dir):
    df = QUERIES["range_join_error_windows"](spark, sf_dir)
    plan = plan_of(df)
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_corpus_curation_semi_join_and_partial_aggs(spark, sf_dir):
    df = QUERIES["corpus_curation"](spark, sf_dir)
    plan = plan_of(df)
    assert "LeftSemi" in plan               # survivors gate, not inner+distinct
    assert plan.count("HashAggregate") >= 2  # partial+final rollup


def test_tfidf_idf_join_broadcasts_vocabulary(spark, sf_dir):
    df = QUERIES["tfidf_top_terms"](spark, sf_dir)
    plan = plan_of(df)
    # small-vocab side broadcasts at this SF; window top-k present
    assert "BroadcastHashJoin" in plan
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_stratified_sample_is_narrow_filter(spark, sf_dir):
    df = QUERIES["stratified_sample_langs"](spark, sf_dir)
    plan = plan_of(df)
    assert "Exchange" not in plan            # pure scan+filter, no shuffle


# ---- round-4 warehouse (TPC-H gap shapes) ---------------------------------


def test_forecast_revenue_filters_reach_scan(spark, sf_dir):
    df = QUERIES["forecast_revenue_change"](spark, sf_dir)
    plan = plan_of(df)
    # Q6 is a pruned scan + partial/final agg — no joins, no wide shuffle
    assert "PushedFilters: [" in plan and "PushedFilters: []" not in plan
    # the date range must reach the scan too (year(col)=k would not)
    import re

    pushed = re.search(r"PushedFilters: \[([^\]]*)", plan).group(1)
    assert "l_shipdate" in pushed
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2


def test_market_share_broadcasts_all_dimensions(spark, sf_dir):
    df = QUERIES["nation_market_share"](spark, sf_dir)
    plan = plan_of(df)
    # part/supplier/nation/region all broadcast; lineitem⋈orders is the
    # only shuffled join
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_returned_items_aggregates_before_widening(spark, sf_dir):
    df = QUERIES["returned_items_by_customer"](spark, sf_dir)
    opt = optimized_of(df)
    # the customer/nation joins must sit ABOVE the revenue aggregate in
    # the optimized plan (join input is |customers|, not |lineitems|)
    agg_pos = opt.index("Aggregate")
    join_pos = opt.index("Join")
    assert join_pos < agg_pos  # plan prints top-down: join above agg


def test_idle_rich_single_anti_join_pruned_probe(spark, sf_dir):
    df = QUERIES["idle_rich_customers"](spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("LeftAnti") == 1
    # the orders probe must carry only o_custkey (+ the pushed date)
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)", plan)
    orders_schemas = [s for s in schemas if "o_custkey" in s]
    assert orders_schemas and all(
        len(s.split(",")) <= 2 for s in orders_schemas
    ), schemas


def test_small_quantity_broadcasts_per_part_avg(spark, sf_dir):
    df = QUERIES["small_quantity_revenue"](spark, sf_dir)
    plan = plan_of(df)
    # decorrelated per-part avg joins back as a broadcast, not a shuffle
    assert plan.count("BroadcastHashJoin") >= 2


# ---- round-4 curation -----------------------------------------------------


def test_span_dedup_uses_agg_not_window(spark, sf_dir):
    df = QUERIES["span_dedup_stats"](spark, sf_dir)
    plan = plan_of(df)
    # first-occurrence attribution is min(doc_id) — commutative agg, no
    # global sort/window anywhere in the plan
    assert "Window" not in plan
    assert "Sort" not in plan or "SortMergeJoin" in plan
    assert plan.count("HashAggregate") >= 2  # partial+final


def test_source_cap_is_single_keyed_window(spark, sf_dir):
    df = QUERIES["source_capped_docs"](spark, sf_dir)
    plan = plan_of(df)
    assert "Window" in plan
    # keyed by source — not a partition-less global window
    assert "hashpartitioning(source" in plan


def test_token_length_buckets_no_joins(spark, sf_dir):
    df = QUERIES["token_length_buckets"](spark, sf_dir)
    plan = plan_of(df)
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2


# ---- round-4 CDC ----------------------------------------------------------


def test_snapshot_diff_single_full_outer_no_bnlj(spark, sf_dir):
    df = QUERIES["snapshot_diff_orders"](spark, sf_dir)
    plan = plan_of(df)
    assert "FullOuter" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    # exactly ONE join — the CDC floor — and both scans keep pushdown
    assert plan.count("Join") == 1
    assert "PushedFilters: [" in plan and "PushedFilters: []" not in plan


def test_scd2_closed_history_bypasses_join(spark, sf_dir):
    df = QUERIES["scd2_customer_history"](spark, sf_dir)
    opt = optimized_of(df)
    # the history union has a branch with no Join below it (closed
    # slice passes through); count joins well under branches x joins
    assert opt.count("Join") <= 3


def test_graph_family_never_nested_loops(spark, sf_dir):
    # triangle counting / k-core / span rewrite: every join must be an
    # equi-join — a CartesianProduct or nested loop anywhere in the
    # graph family is a planning regression, not a tuning matter.
    # (PageRank's returned frame is a localCheckpoint, so its plan is
    # opaque here; its shape is pinned by the operator docstring and
    # the per-iteration structure instead.)
    for name in ("triangle_counts_parts", "kcore_parts", "span_dedup_rewrite"):
        plan = plan_of(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "NestedLoop" not in plan, name


def test_profiler_has_no_expand_or_keyed_sort_aggregate(spark, sf_dir):
    # the trap the profiler's two-subtree layout avoids is a KEYED
    # SortAggregate over an Expand (rows replicated per distinct group,
    # then sorted on all columns — measured 6x). A keyless global
    # SortAggregate is fine: string min/max buffers disqualify
    # HashAggregate but with key=[] there is nothing to sort.
    plan = plan_of(QUERIES["table_profile_orders"](spark, sf_dir))
    assert "Expand" not in plan
    import re

    keyed_sorts = [
        m for m in re.findall(r"SortAggregate\(key=\[([^\]]*)\]", plan)
        if m.strip()
    ]
    assert keyed_sorts == []


def test_correlation_matrix_single_scan(spark, sf_dir):
    plan = plan_of(QUERIES["correlation_matrix_lineitem"](spark, sf_dir))
    assert plan.count("FileScan parquet") == 1


def test_driver_gate_prefix_contract():
    """The driver checks EXACTLY the first 50 queries() entries; the
    prefix must be full-length, registered, and deduplicated — a typo'd
    or dropped name silently wastes a verification slot."""
    import itertools

    import __spark_entry__ as entrymod

    gate = entrymod._GATE_FIRST
    qs = entrymod.queries()
    assert len(gate) == 50
    assert len(set(gate)) == 50
    assert all(name in qs for name in gate)
    assert list(itertools.islice(qs, 50)) == gate
    # every registered query has an oracle (the round-3+ invariant)
    assert set(entrymod.oracle_sql()) == set(qs)


def test_bench_headline_names_resolve():
    """Every bench.py HEADLINE name must exist in the registry — the
    harness raises on an unknown name, so a typo would sink the whole
    BENCH/SCALING run instead of timing anything."""
    import __spark_entry__ as entrymod
    from bench import HEADLINE

    qs = entrymod.queries()
    missing = [n for n in HEADLINE if n not in qs]
    assert not missing, f"bench names not in registry: {missing}"
    assert len(set(HEADLINE)) == len(HEADLINE), "duplicate bench names"


def test_bench_measure_records_jobs_and_isolates_failures(spark, sf_dir):
    """bench.measure times a good query, counts its Spark jobs, and
    records a raising query as failed without aborting the run."""
    from bench import measure

    def boom(spark, sf_dir):
        raise RuntimeError("boom")

    qs = {"star_join_revenue": QUERIES["star_join_revenue"], "boom": boom}
    rec = measure(spark, qs, ["star_join_revenue", "boom"], sf_dir,
                  warm_dir=sf_dir, runs=1)
    assert set(rec["queries"]) == {"star_join_revenue"}
    assert rec["queries"]["star_join_revenue"] > 0
    assert rec["jobs"]["star_join_revenue"] >= 1
    assert set(rec["failed"]) == {"boom"}
    assert "boom" in rec["failed"]["boom"]

    with pytest.raises(KeyError):
        measure(spark, qs, ["no_such_query"], sf_dir, warm_dir=sf_dir, runs=1)


#: Exported names that no registered query, DAG task, tool or other
#: package code references, each kept for the reason in its comment.
_UNREACHED_EXPORTS = {
    # SURVEY §2.1 S7–S9: the reference's dataset/table DDL verbs
    "catalog": {
        "alter_table_add_columns", "analyze_table", "create_warehouse",
        "drop_database", "drop_table", "list_tables",
    },
    # test fixtures: the REST-shaped payloads and price histories
    "fixtures": {"company_stats", "indicator_json", "ohlcv_history", "spot_price_json"},
    # SURVEY §2 F3–F5 (casts, coalesce) and F7 (JSON path)
    "functions.scalar": {"coalesce_default", "safe_cast"},
    "sources.json_source": {"scalar_json_lookup"},
    # SURVEY §2 A2: multiset frame equality
    "operators.relational": {"multiset_equal"},
    # test reference: the multi-operator edge-case test samples with it
    "operators.sampling": {"hash_sample"},
    # SURVEY §2 T1–T8: the reference's DAG tasks
    "plans.pipelines": {
        "load_company_esg", "load_company_group", "load_financial_ratio",
        "load_key_metrics", "load_macro_daily", "load_macro_monthly",
        "load_macro_quarterly", "load_stock_daily",
    },
}


def test_every_export_is_reached_outside_tests():
    """Every name in a package module's ``__all__`` is used by code in
    the package (its own module counts, its own definition does not),
    ``bench.py``, ``tools/`` or ``__spark_entry__.py`` — or sits on
    ``_UNREACHED_EXPORTS`` with its reason. A name only tests reach is
    code no query, DAG task or tool runs: delete it with its tests."""
    import ast
    from pathlib import Path

    root = Path(entrymod.__file__).resolve().parent
    pkg = root / "sentiment_analysis_data_engineering_spark"

    def used(node) -> set[str]:
        out = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.ImportFrom):
                out.update(a.name for a in n.names)
        return out

    modules = [p for p in sorted(pkg.rglob("*.py")) if p.name != "__init__.py"]
    callers = [root / "bench.py", root / "__spark_entry__.py",
               *sorted((root / "tools").glob("*.py"))]
    trees = {p: ast.parse(p.read_text()) for p in modules + callers}
    uses = {p: used(t) for p, t in trees.items()}

    unreached = {}
    for mod in modules:
        tree = trees[mod]
        exported = next(
            (
                [e.value for e in stmt.value.elts]
                for stmt in tree.body
                if isinstance(stmt, ast.Assign)
                and any(getattr(t, "id", None) == "__all__" for t in stmt.targets)
            ),
            [],
        )
        elsewhere = set().union(*(u for p, u in uses.items() if p != mod))
        key = ".".join(mod.relative_to(pkg).with_suffix("").parts)
        for name in exported:
            at_home = set().union(
                *(used(stmt) for stmt in tree.body if getattr(stmt, "name", None) != name)
            )
            if name not in elsewhere | at_home:
                unreached.setdefault(key, set()).add(name)

    assert unreached == _UNREACHED_EXPORTS


def test_crossencoder_rerank_plan_shape(spark, sf_dir):
    """The production rerank path (candidates -> true-vector equi-join
    -> Arrow score -> window top-k) must broadcast the query side and
    never fall back to a cartesian product; the corpus is scanned, not
    cross-joined."""
    from pyspark.sql import functions as F

    from sentiment_analysis_data_engineering_spark.operators import (
        similarity as sim,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cand = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        (F.col("vec_id") + 10).alias("neighbor_id"),
    )
    out = sim.crossencoder_rerank_topk(
        cand, emb.filter(F.col("vec_id") < 3), emb, k=2, dim=64
    )
    plan = plan_of(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # query vectors ride a broadcast
    assert "ArrowEvalPython" in plan or "BatchEvalPython" not in plan


def test_pca_variance_plan_shape(spark, sf_dir):
    """pca_embedding_variance's post-fit plan is two 1-row aggregates
    joined and exploded to k rows — no corpus-sized shuffle, no
    cartesian product larger than 1x1."""
    from sentiment_analysis_data_engineering_spark.plans.registry import QUERIES

    plan = plan_of(QUERIES["pca_embedding_variance"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # exactly the two fit-independent corpus scans (projection + input
    # variances); the MLlib fit happens at plan build, not here
    assert plan.count("FileScan parquet") == 2
