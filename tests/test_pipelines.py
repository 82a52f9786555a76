"""End-to-end pipeline tests: T1-T8 against Family B fixtures
(FIXTURES.md), write → read-back → assert warehouse semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sentiment_analysis_data_engineering_spark import fixtures as fx
from sentiment_analysis_data_engineering_spark.plans import pipelines as pl
from sentiment_analysis_data_engineering_spark.sources.io import scan


def test_t1_macro_daily_idempotent(spark, tmp_table_dir):
    target = str(tmp_table_dir / "macro_data_daily")
    gold, oil = fx.spot_price_json(2023, 5, 12)
    n1 = pl.load_macro_daily(spark, gold, oil, "2023-05-12", target)
    assert n1 == 1
    # same day again: no new row (the daily_dag.py:80-84 probe semantics)
    assert pl.load_macro_daily(spark, gold, oil, "2023-05-12", target) == 0
    # next day: appends
    gold2, oil2 = fx.spot_price_json(2023, 5, 13)
    assert pl.load_macro_daily(spark, gold2, oil2, "2023-05-13", target) == 1
    out = scan(spark, target)
    assert out.count() == 2
    row = out.filter(F.col("day") == 12).first()
    assert row.oil_price is not None and row.gold_price is not None


def test_t2_stock_daily_dedups_history(spark, tmp_table_dir):
    target = str(tmp_table_dir / "fact_table")
    history = fx.ohlcv_history(spark, ["D05.SI", "U11.SI"])
    n1 = pl.load_stock_daily(spark, history, target)
    # 2 tickers x 36 months x 4 days; the fixture's deliberate duplicate
    # row must NOT survive (the reference's ST4 divergence)
    assert n1 == 2 * 36 * 4
    out = scan(spark, target)
    assert out.count() == n1
    assert (
        out.groupBy("ticker", "year", "month", "day").count()
        .filter(F.col("count") > 1).count() == 0
    )
    # re-run: full history re-offered, nothing appended
    assert pl.load_stock_daily(spark, fx.ohlcv_history(spark, ["D05.SI", "U11.SI"]), target) == 0


def test_t3_financial_ratio_schema_and_upsert(spark, tmp_table_dir):
    target = str(tmp_table_dir / "financial_ratio_table")
    stats = fx.company_stats((2023, 5, 12))
    n = pl.load_financial_ratio(spark, stats, "2023-05-12", target)
    assert n == 9
    out = scan(spark, target)
    assert out.count() == 9
    cols = set(out.columns)
    assert {"value_PE_RATIO", "value_PEG_RATIO", "value_PAYOUT_RATIO", "company"} <= cols
    assert dict(out.dtypes)["value_PAYOUT_RATIO"] == "string"  # DDL weekly_dag.py:521
    # identical re-run: signature matches, zero rows rewritten
    assert pl.load_financial_ratio(spark, stats, "2023-05-12", target) == 0
    # changed data, same (year, month): partition replaced, not duplicated
    stats2 = fx.company_stats((2023, 5, 19))
    assert pl.load_financial_ratio(spark, stats2, "2023-05-19", target) == 9
    assert scan(spark, target).count() == 9  # same partition replaced wholesale


def test_t4_key_metrics_strings(spark, tmp_table_dir):
    target = str(tmp_table_dir / "key_metrics_table")
    assert pl.load_key_metrics(spark, fx.company_stats((2023, 5, 12)), "2023-05-12", target) == 9
    out = scan(spark, target)
    types = dict(out.dtypes)
    for c in out.columns:
        if c.startswith("value_"):
            assert types[c] == "string", c  # DDL weekly_dag.py:536-540
    # suffixed values parse downstream via F6
    parsed = out.select(
        fxcol := F.col("value_FREE_CASHFLOW_TTM"),
    ).first()[0]
    assert parsed.endswith("B")


def test_t5_esg_ddl_column_name(spark, tmp_table_dir):
    target = str(tmp_table_dir / "company_esg_table")
    assert pl.load_company_esg(spark, fx.company_stats((2023, 5, 12)), "2023-05-12", target) == 9
    cols = scan(spark, target).columns
    assert "value_SOCIAL_RATING" in cols        # DDL name (weekly_dag.py:556)
    assert "value_SOCIAL_LEVEL" not in cols     # drifted append-path name


def test_t6_company_group_unit_parse_and_default(spark, tmp_table_dir):
    target = str(tmp_table_dir / "company_group_table")
    stats = fx.company_stats((2023, 5, 12))
    assert pl.load_company_group(spark, stats, "2023-05-12", target) == 9
    out = scan(spark, target).collect()
    for r in out:
        assert r.value_MARKET_CAP > 1e8          # "X.YB" parsed to ~1e9-1.5e10
        assert r.value_EMPLOYEES >= 0.0          # missing → 0 default
        assert r.CompanyName.startswith("Company ")


def test_t7_macro_monthly_join_and_horizon(spark, tmp_table_dir):
    target = str(tmp_table_dir / "macro_data_monthly")
    payloads = [fx.indicator_json(n) for n in fx.MONTHLY_INDICATORS]
    n = pl.load_macro_monthly(spark, payloads, target)
    # 2021-2023 x 12 months survive the year > 2020 horizon filter
    assert n == 36
    out = scan(spark, target)
    assert out.count() == 36
    assert out.filter(F.col("year") <= 2020).count() == 0
    types = dict(out.dtypes)
    assert types["value_RETAIL_SALES"] == "bigint"      # DDL long columns
    assert types["value_CPI"] == "double"
    assert len([c for c in out.columns if c.startswith("value_")]) == 9
    # idempotent re-run
    assert pl.load_macro_monthly(spark, payloads, target) == 0


def test_t8_macro_quarterly(spark, tmp_table_dir):
    target = str(tmp_table_dir / "macro_data_quarterly")
    payloads = [fx.indicator_json(n, monthly=False) for n in fx.QUARTERLY_INDICATORS]
    n = pl.load_macro_quarterly(spark, payloads, target)
    assert n == 12  # 3 years x 4 quarters
    out = scan(spark, target)
    assert {r.month for r in out.select("month").distinct().collect()} == {1, 4, 7, 10}
    assert pl.load_macro_quarterly(spark, payloads, target) == 0


def test_t7_inner_join_drops_date_missing_from_one_payload(spark, tmp_table_dir):
    """The one-aggregate pivot keeps the N-way inner join's contract: a
    date absent from ANY payload yields no row."""
    import json

    target = str(tmp_table_dir / "macro_data_monthly_gap")
    payloads = [fx.indicator_json(n) for n in fx.MONTHLY_INDICATORS]
    gap = json.loads(payloads[1])
    gap["data"] = [e for e in gap["data"] if e["date"] != "2022-03-01"]
    payloads[1] = json.dumps(gap)
    assert pl.load_macro_monthly(spark, payloads, target) == 35
    out = scan(spark, target)
    assert out.filter((F.col("year") == 2022) & (F.col("month") == 3)).count() == 0
    assert out.filter(F.col("year") == 2022).count() == 11


def _jobs(spark, task):
    """(task's return value, Spark jobs it launched)."""
    from sentiment_analysis_data_engineering_spark.operators.observe import spark_job_count

    before = spark_job_count(spark)
    n = task()
    return n, spark_job_count(spark) - before


def _horizon_cut(payload: str, last_year: int) -> str:
    import json

    p = json.loads(payload)
    p["data"] = [e for e in p["data"] if int(e["date"][:4]) <= last_year]
    return json.dumps(p)


def test_pipeline_tasks_commit_within_job_budgets(spark, tmp_table_dir):
    """Each task against an existing target is one observed write: no
    count or cache action, no schema-inference job, one shared anti-join
    probe (T2's 9 union branches), one aggregate for T7/T8."""
    got = {}
    t1 = str(tmp_table_dir / "budget_macro_daily")
    pl.load_macro_daily(spark, *fx.spot_price_json(2023, 5, 12), "2023-05-12", t1)
    got["T1"] = _jobs(spark, lambda: pl.load_macro_daily(
        spark, *fx.spot_price_json(2023, 5, 13), "2023-05-13", t1))

    t2 = str(tmp_table_dir / "budget_fact")
    pl.load_stock_daily(spark, fx.ohlcv_history(spark, ["D05.SI", "U11.SI"]), t2)
    history = fx.ohlcv_history(spark)  # all 9 tickers, 2 already stored
    got["T2"] = _jobs(spark, lambda: pl.load_stock_daily(spark, history, t2))

    t3 = str(tmp_table_dir / "budget_ratio")
    pl.load_financial_ratio(spark, fx.company_stats((2023, 5, 12)), "2023-05-12", t3)
    # changed stats in the stored month: both signatures, one rewrite
    got["T3"] = _jobs(spark, lambda: pl.load_financial_ratio(
        spark, fx.company_stats((2023, 5, 19)), "2023-05-19", t3))

    t7 = str(tmp_table_dir / "budget_monthly")
    monthly = [fx.indicator_json(n) for n in fx.MONTHLY_INDICATORS]
    pl.load_macro_monthly(spark, [_horizon_cut(p, 2021) for p in monthly], t7)
    got["T7"] = _jobs(spark, lambda: pl.load_macro_monthly(spark, monthly, t7))

    t8 = str(tmp_table_dir / "budget_quarterly")
    quarterly = [fx.indicator_json(n, monthly=False) for n in fx.QUARTERLY_INDICATORS]
    pl.load_macro_quarterly(spark, [_horizon_cut(p, 2021) for p in quarterly], t8)
    got["T8"] = _jobs(spark, lambda: pl.load_macro_quarterly(spark, quarterly, t8))

    rows = {task: n for task, (n, _) in got.items()}
    assert rows == {"T1": 1, "T2": 7 * 36 * 4, "T3": 9, "T7": 24, "T8": 8}
    budget = {"T1": 2, "T2": 3, "T3": 5, "T7": 3, "T8": 3}
    over = {task: j for task, (_, j) in got.items() if j > budget[task]}
    assert not over, f"jobs over budget {budget}: {over}"


def _rdd_scans(df) -> int:
    """``LogicalRDD`` leaves in ``df``'s optimized plan — each one a
    frame parallelized from the driver, read through a Python worker."""
    import re

    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return len(re.findall(r"\bLogicalRDD\b", plan))


def test_etl_tasks_add_no_rdd_scan(spark, monkeypatch):
    """T1 and T3-T8 build their inputs on the driver as LocalRelations,
    so the frames they write hold no ``LogicalRDD`` — no Python-worker
    task. T2 writes the caller's per-ticker frames: exactly one RDD scan
    per caller-built frame, and none when the caller's frames are
    local."""
    written = []

    def capture(spark, df, *args, **kwargs):
        written.append(df)
        return 0

    monkeypatch.setattr(pl, "idempotent_append", capture)
    monkeypatch.setattr(pl, "upsert_partitions", capture)
    stats = fx.company_stats((2023, 5, 12))
    pl.load_macro_daily(spark, *fx.spot_price_json(2023, 5, 12), "2023-05-12", "t1")
    for task in (pl.load_financial_ratio, pl.load_key_metrics,
                 pl.load_company_esg, pl.load_company_group):
        task(spark, stats, "2023-05-12", "t")
    pl.load_macro_monthly(spark, [fx.indicator_json(n) for n in fx.MONTHLY_INDICATORS], "t7")
    pl.load_macro_quarterly(
        spark, [fx.indicator_json(n, monthly=False) for n in fx.QUARTERLY_INDICATORS], "t8"
    )
    assert [_rdd_scans(df) for df in written] == [0] * 7

    local = fx.ohlcv_history(spark, ["D05.SI", "U11.SI", "O39.SI"])
    pl.load_stock_daily(spark, local, "t2")
    callers = {t: spark.createDataFrame(df.collect(), df.schema) for t, df in local.items()}
    assert [_rdd_scans(df) for df in callers.values()] == [1] * len(callers)
    pl.load_stock_daily(spark, callers, "t2")
    assert [_rdd_scans(df) for df in written[7:]] == [0, len(callers)]
