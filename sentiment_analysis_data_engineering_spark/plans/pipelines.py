"""The reference's eight pipeline tasks (T1-T8, SURVEY.md §2.10)
re-expressed as lazy single-plan Spark jobs.

Each function takes its *inputs* (payload strings / DataFrames /
semi-structured dicts) plus an explicit ``as_of`` date, builds ONE
lazy DataFrame plan, and commits it through the engine's writers as
ONE observed write — no per-row probes, no eager intermediates, no
wall-clock reads. No task sorts before writing: the partitioned write
orders rows by (year, month) itself, and no reader depends on row
order within a file.

Documented divergences from the reference (SURVEY.md §2.11):
- T2 standardizes on idempotent append; the reference re-appends full
  history every run (``daily_dag.py:92,117``).
- T3 maps pegRatio→value_PEG_RATIO etc. CORRECTLY; the reference swaps
  three fields (``weekly_dag.py:82-84``).
- T4/T5 write only to their own tables; the reference cross-writes
  into company_group_table (``weekly_dag.py:216,279``).
- T5 uses the DDL name value_SOCIAL_RATING (``weekly_dag.py:556``),
  not the drifted append-path name.
- T3-T6 upsert via replace-partition-on-CHANGE (the stated intent);
  the reference's inverted condition rewrites identical data only.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalar import parse_unit_suffixed, today_parts
from ..operators.relational import union_all
from ..sources.io import idempotent_append, local_frame, upsert_partitions
from ..sources.json_source import TIMESERIES_SCHEMA

__all__ = [
    "load_macro_daily",
    "load_stock_daily",
    "load_financial_ratio",
    "load_key_metrics",
    "load_company_esg",
    "load_company_group",
    "load_macro_monthly",
    "load_macro_quarterly",
]

#: yfinance's column names → the fact_table's snake_case DDL names
#: (positional rename at ``daily_dag.py:104-105``).
_YF_RENAME = {
    "Date": "date", "Open": "open", "High": "high", "Low": "low",
    "Close": "close", "Volume": "volume", "Dividends": "dividends",
    "Stock_Splits": "stock_splits",
}


# --------------------------------------------------------------------------
# T1 — get_macro_daily_data (daily_dag.py:46-85)
# --------------------------------------------------------------------------


def load_macro_daily(
    spark: SparkSession,
    gold_json: str,
    oil_json: str,
    as_of: str,
    target: str,
) -> int:
    """Oil+gold spot prices → one (year, month, day) row, idempotent.

    The reference probes BigQuery per run (``daily_dag.py:80-84``);
    here the probe is the anti join inside ``idempotent_append``.
    """
    parts = today_parts(as_of)
    row = local_frame(
        spark, [(gold_json, oil_json)], "gold string, oil string"
    ).select(
        parts["year"].alias("year"),
        parts["month"].alias("month"),
        parts["day"].alias("day"),
        F.get_json_object("oil", "$.data.price").try_cast("double").alias("oil_price"),
        F.get_json_object("gold", "$.rates.SGD").try_cast("double").alias("gold_price"),
    )
    return idempotent_append(spark, row, target, ["year", "month", "day"])


# --------------------------------------------------------------------------
# T2 — get_stock_daily_data (daily_dag.py:89-117)
# --------------------------------------------------------------------------


def load_stock_daily(
    spark: SparkSession,
    history: dict[str, DataFrame],
    target: str,
) -> int:
    """Per-ticker OHLCV frames → union → decompose → cast → dedup append.

    One lazy plan: concat (U1) + literal ticker (P3) + date parts
    (F1/F2) + drop (P1) + rename (P2) + casts (F3), then ONE anti-join
    dedup on (ticker, year, month, day) — replacing the reference's
    probe-free duplicate-producing append (ST4, ``daily_dag.py:117``).
    """
    frames = []
    for ticker, df in history.items():
        frames.append(df.withColumn("ticker", F.lit(ticker)))
    unioned = union_all(frames).withColumnsRenamed(_YF_RENAME)
    d = F.to_date("date")
    fact = (
        unioned.withColumn("year", F.year(d).cast("long"))
        .withColumn("month", F.month(d).cast("long"))
        .withColumn("day", F.dayofmonth(d).cast("long"))
        .drop("date")
        .select(
            F.col("open").cast("double"),
            F.col("high").cast("double"),
            F.col("low").cast("double"),
            F.col("close").cast("double"),
            F.col("volume").cast("double"),
            F.col("dividends").cast("double"),
            F.col("stock_splits").cast("double"),
            "ticker", "year", "month", "day",
        )
        # intra-batch dedup first (the fixture carries ST4 duplicates)
        .dropDuplicates(["ticker", "year", "month", "day"])
    )
    return idempotent_append(spark, fact, target, ["ticker", "year", "month", "day"])


# --------------------------------------------------------------------------
# T3-T6 — fit_into_* (weekly_dag.py:55-363): semi-structured lookups
# --------------------------------------------------------------------------


def _stats_df(spark: SparkSession, stats: list[dict], as_of: str) -> DataFrame:
    """(company, payload json, year, month, day) — the engine-side form
    of the yahoo_fin nested-dict lookups: every field access below is
    ``get_json_object`` + ``try_cast`` (+ coalesce where the reference
    defaults), i.e. F5+F7 in-plan instead of Python conditionals."""
    parts = today_parts(as_of)
    rows = [(s["company"], json.dumps(s)) for s in stats]
    return local_frame(spark, rows, "company string, payload string").select(
        parts["year"].alias("year"),
        parts["month"].alias("month"),
        parts["day"].alias("day"),
        "company",
        "payload",
    )


def _j(path: str, dtype: str | None = "double"):
    col = F.get_json_object(F.col("payload"), path)
    return col.try_cast(dtype) if dtype else col


def load_financial_ratio(
    spark: SparkSession, stats: list[dict], as_of: str, target: str
) -> int:
    """T3 — financial ratios (body ``weekly_dag.py:55-147``).

    Correct field mapping (the reference swaps pegRatio/priceToBook/
    priceToSales — §2.11.4); payout ratio stays STRING per DDL
    (``weekly_dag.py:521``).
    """
    df = _stats_df(spark, stats, as_of).select(
        "year", "month", "day", "company",
        _j("$.quote['PE Ratio (TTM)']").alias("value_PE_RATIO"),
        _j("$.stats.defaultKeyStatistics.pegRatio").alias("value_PEG_RATIO"),
        _j("$.stats.defaultKeyStatistics.priceToSalesTrailing12Months").alias(
            "value_PRICE_SALES_RATIO"
        ),
        _j("$.stats.defaultKeyStatistics.priceToBook").alias("value_PRICE_BOOK_RATIO"),
        _j("$.stats.defaultKeyStatistics.profitMargins").alias("value_PROFIT_MARGIN"),
        _j("$.stats.defaultKeyStatistics.payoutRatio", "string").alias(
            "value_PAYOUT_RATIO"
        ),
        _j("$.stats.financialData.returnOnEquity").alias("value_ROE"),
        _j("$.stats.financialData.returnOnAssets").alias("value_ROA"),
    )
    return upsert_partitions(spark, df, target, ["year", "month"])


def load_key_metrics(
    spark: SparkSession, stats: list[dict], as_of: str, target: str
) -> int:
    """T4 — key metrics (``weekly_dag.py:153-226``): all five value
    columns STRING (may carry "1.2B" suffixes, ``weekly_dag.py:536-540``).
    Writes ONLY to its own table (§2.11.2 divergence)."""
    df = _stats_df(spark, stats, as_of).select(
        "year", "month", "day", "company",
        _j("$.stats.financialData.revenuePerShare", "string").alias(
            "value_REVENUE_PER_SHARE_TTM"
        ),
        _j("$.stats.financialData.freeCashflow", "string").alias(
            "value_FREE_CASHFLOW_TTM"
        ),
        _j("$.stats.financialData.totalCashPerShare", "string").alias(
            "value_CASH_PER_SHARE_TTM"
        ),
        _j("$.stats.financialData.netIncomeToCommon", "string").alias(
            "value_TOTAL_NET_INCOME_TTM"
        ),
        _j("$.stats.financialData.trailingEps", "string").alias(
            "value_EARNINGS_PER_SHARE_TTM"
        ),
    )
    return upsert_partitions(spark, df, target, ["year", "month"])


def load_company_esg(
    spark: SparkSession, stats: list[dict], as_of: str, target: str
) -> int:
    """T5 — ESG ratings (``weekly_dag.py:229-288``); DDL column name
    value_SOCIAL_RATING (§2.11.3)."""
    df = _stats_df(spark, stats, as_of).select(
        "year", "month", "day", "company",
        _j("$.stats.esgScores.environmentScore").alias("value_ENVIRONMENTAL_RATING"),
        _j("$.stats.esgScores.governanceScore").alias("value_GOVERNMENT_RATING"),
        _j("$.stats.esgScores.highestControversy").alias("value_CONTROVERSY_LEVEL"),
        _j("$.stats.esgScores.socialScore").alias("value_SOCIAL_RATING"),
    )
    return upsert_partitions(spark, df, target, ["year", "month"])


def load_company_group(
    spark: SparkSession, stats: list[dict], as_of: str, target: str
) -> int:
    """T6 — company profile (``weekly_dag.py:292-363``): employees
    default to 0 when missing (dict ``.get(...) != None else 0``,
    ``weekly_dag.py:311``); market cap / enterprise value parse their
    unit suffix (F6, generalizing ``float(s[:-1]) * 10**9``)."""
    df = _stats_df(spark, stats, as_of).select(
        "year", "month", "day", "company",
        _j("$.stats.profile.longName", "string").alias("CompanyName"),
        _j("$.stats.profile.industry", "string").alias("Industry"),
        F.coalesce(_j("$.stats.profile.fullTimeEmployees"), F.lit(0.0)).alias(
            "value_EMPLOYEES"
        ),
        _j("$.stats.profile.sharesOutstanding").alias("value_NO_OF_STOCKS"),
        parse_unit_suffixed(_j("$.stats.profile.marketCap", "string")).alias(
            "value_MARKET_CAP"
        ),
        parse_unit_suffixed(_j("$.stats.profile.enterpriseValue", "string")).alias(
            "value_ENTERPRISE_VALUE"
        ),
    )
    return upsert_partitions(spark, df, target, ["year", "month"])


# --------------------------------------------------------------------------
# T7/T8 — get_macro_monthly/quarterly_data (weekly_dag.py:366-492)
# --------------------------------------------------------------------------

#: LongType monthly indicators per the DDL (``weekly_dag.py:566-570``).
_MONTHLY_TYPES = {
    "RETAIL_SALES": "long", "DURABLES": "long", "NONFARM_PAYROLL": "long",
}


def _load_macro_joined(
    spark: SparkSession,
    payloads: list[str],
    target: str,
    *,
    value_types: dict[str, str] | str,
    horizon_year: int = 2020,
) -> int:
    """Shared T7/T8 core: ONE aggregate replaces the reference's N-way
    inner join on date (J1, ``weekly_dag.py:382-394``). All payloads
    are unnested together (P7: ``from_json`` + ``inline`` over one
    frame) and pivoted by a single ``groupBy("date")`` into one
    ``value_<NAME>`` column per payload; a date missing from any payload
    is dropped, which is the inner join's contract. Then date parts
    (F2) → horizon filter (P5/ST5) → ONE anti-join append (ST2).

    The indicator names come from the payload strings already on the
    driver, so no job runs to read them. A date repeated inside one
    payload collapses to one row (``max`` of its values) instead of
    raising, which a ``map_from_entries`` pivot would do under the
    default ``mapKeyDedupPolicy=EXCEPTION``.

    The reference runs one SELECT per row here (``weekly_dag.py:420-427``,
    ``#This is super slow``); this is the single-plan replacement: one
    aggregate shuffle plus the anti join's probe, zero per-row
    round-trips.
    """
    names = [json.loads(p)["name"] for p in payloads]
    types = {
        n: value_types.get(n, "double") if isinstance(value_types, dict) else value_types
        for n in names
    }
    entries = (
        local_frame(spark, [(p,) for p in payloads], "payload string")
        .select(F.from_json("payload", TIMESERIES_SCHEMA).alias("p"))
        .select("p.name", F.inline("p.data"))
    )
    wide = (
        entries.groupBy("date")
        .agg(
            F.size(F.collect_set("name")).alias("_n"),
            *[
                F.max(
                    F.when(F.col("name") == n, F.col("value").try_cast(types[n]))
                ).alias(f"value_{n}")
                for n in names
            ],
        )
        .filter(F.col("_n") == len(set(names)))
    )
    d = F.to_date("date")
    monthly = wide.select(
        *[f"value_{n}" for n in names],
        F.year(d).cast("long").alias("year"),
        F.month(d).cast("long").alias("month"),
    ).filter(F.col("year") > horizon_year)
    # partition layout must match the registry's declared (year, month)
    # (schemas.WAREHOUSE_SCHEMAS) — a year=-only layout would raise on
    # the managed table and silently break month pruning on paths
    return idempotent_append(spark, monthly, target, ["year", "month"])


def load_macro_monthly(spark: SparkSession, payloads: list[str], target: str) -> int:
    """T7 — nine monthly US macro indicators (``weekly_dag.py:366-432``)."""
    return _load_macro_joined(
        spark, payloads, target, value_types=_MONTHLY_TYPES
    )


def load_macro_quarterly(spark: SparkSession, payloads: list[str], target: str) -> int:
    """T8 — real GDP (+ per-capita), quarterly (``weekly_dag.py:434-492``)."""
    return _load_macro_joined(spark, payloads, target, value_types="double")
