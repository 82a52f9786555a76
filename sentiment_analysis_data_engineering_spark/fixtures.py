"""Family B fixtures — reference-shaped synthetic inputs (FIXTURES.md).

Deterministic (fixed seed, pure arithmetic — no RNG state shared with
anything else), generated as plain Python rows and turned into Spark
DataFrames with the exact warehouse schemas. These stand in for the
reference's upstream APIs:

- yfinance OHLCV history   (``daily_dag.py:91-94``)   → ohlcv_history
- metalprice/oilprice JSON (``daily_dag.py:48-60``)   → spot_price_json
- Alpha Vantage indicators (``weekly_dag.py:367-381``) → indicator_json
- yahoo_fin quote/stats    (``weekly_dag.py:55-71``)  → company_stats

Dates span 2021-2023 (the reference filters ``year > 2020``,
``weekly_dag.py:417``); FLOAT columns carry ~5% NULLs (the reference
coalesces missing API fields to NaN, ``weekly_dag.py:81-88``);
key-metrics values carry "1.2B"-style suffixes (``weekly_dag.py:313``).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from .schemas import TICKERS
from .sources.io import local_frame

__all__ = [
    "ohlcv_history",
    "spot_price_json",
    "indicator_json",
    "company_stats",
    "labeled_quality_docs",
    "MONTHLY_INDICATORS",
    "QUARTERLY_INDICATORS",
]

MONTHLY_INDICATORS = [
    "INFLATION_EXPECTATION", "UNEMPLOYMENT", "CONSUMER_SENTIMENT",
    "RETAIL_SALES", "DURABLES", "NONFARM_PAYROLL",
    "TREASURY_YIELD", "FEDERAL_FUNDS_RATE", "CPI",
]
QUARTERLY_INDICATORS = ["REAL_GDP", "REAL_GDP_PER_CAPITA"]

#: integer-valued monthly indicators (LongType in the DDL,
#: ``weekly_dag.py:566-570``)
INT_INDICATORS = {"RETAIL_SALES", "DURABLES", "NONFARM_PAYROLL"}


def _price(tick_idx: int, day_ordinal: int) -> float:
    """Deterministic pseudo-price: smooth-ish, strictly positive."""
    return round(10.0 + tick_idx + ((day_ordinal * 37 + tick_idx * 11) % 500) / 100.0, 2)


def _dates(year_from: int = 2021, year_to: int = 2023):
    """All (y, m, d) for the 1st/8th/15th/22nd of each month — a compact
    stand-in for trading days."""
    for y in range(year_from, year_to + 1):
        for m in range(1, 13):
            for d in (1, 8, 15, 22):
                yield y, m, d


def ohlcv_history(spark: SparkSession, tickers: list[str] | None = None) -> dict[str, DataFrame]:
    """Per-ticker OHLCV history frames, date still attached (the raw
    yfinance shape before decomposition) — includes a deliberate
    duplicate date per ticker to exercise the dedup writer."""
    out: dict[str, DataFrame] = {}
    for ti, t in enumerate(tickers or TICKERS):
        rows = []
        for i, (y, m, d) in enumerate(_dates()):
            p = _price(ti, i)
            rows.append((f"{y:04d}-{m:02d}-{d:02d}", p, p * 1.02, p * 0.98,
                         p * 1.01, float(1000 + i), 0.0, 0.0))
        rows.append(rows[-1])  # ST4 duplicate (daily_dag.py re-appends history)
        out[t] = local_frame(
            spark,
            rows,
            "date string, open double, high double, low double, close double, "
            "volume double, dividends double, stock_splits double",
        )
    return out


def spot_price_json(year: int, month: int, day: int) -> tuple[str, str]:
    """(gold_json, oil_json) — the two REST payload shapes of
    ``daily_dag.py:48-60``: ``{'rates': {'SGD': ...}}`` and
    ``{'data': {'price': ...}}``."""
    seed = year * 372 + month * 31 + day
    gold = {"rates": {"SGD": round(2400 + (seed % 200) / 2.0, 2)}}
    oil = {"data": {"price": round(70 + (seed % 150) / 10.0, 2)}}
    return json.dumps(gold), json.dumps(oil)


def indicator_json(name: str, *, monthly: bool = True) -> str:
    """One Alpha Vantage-shaped payload: ``{'name': X, 'data':
    [{'date': 'YYYY-MM-DD', 'value': '...'}, ...]}``
    (``weekly_dag.py:367-391``). Values are strings, as upstream."""
    idx = (MONTHLY_INDICATORS + QUARTERLY_INDICATORS).index(name)
    data = []
    months = range(1, 13) if monthly else (1, 4, 7, 10)
    for y in range(2019, 2024):  # pre-2021 rows exercise the horizon filter
        for m in months:
            v = 50 + idx * 7 + ((y * 12 + m) % 40) / (1 if name in INT_INDICATORS else 4.0)
            data.append({
                "date": f"{y:04d}-{m:02d}-01",
                "value": str(int(v)) if name in INT_INDICATORS else str(round(v, 2)),
            })
    return json.dumps({"name": name, "data": data})


def company_stats(as_of: tuple[int, int, int]) -> list[dict]:
    """Per-company semi-structured stats dicts — the yahoo_fin /
    ``Ticker.stats()`` nested-lookup shape (``weekly_dag.py:55-71``,
    ``:293-314``). ~5% missing fields (None) and suffixed strings."""
    y, m, d = as_of
    out = []
    for i, t in enumerate(TICKERS):
        seed = i + y + m + d
        miss = (seed % 19) == 0  # deterministic sparse missingness
        out.append({
            "company": t,
            "quote": {
                "PE Ratio (TTM)": None if miss else round(8 + seed % 20 + i / 10.0, 2),
            },
            "stats": {
                "defaultKeyStatistics": {
                    "pegRatio": round(1 + (seed % 10) / 10.0, 2),
                    "priceToBook": round(0.8 + (seed % 15) / 10.0, 2),
                    "priceToSalesTrailing12Months": round(2 + (seed % 8) / 10.0, 2),
                    "profitMargins": round((seed % 30) / 100.0, 4),
                    "payoutRatio": f"{round((seed % 90) / 100.0, 2)}",
                },
                "financialData": {
                    "returnOnEquity": None if miss else round((seed % 25) / 100.0, 4),
                    "returnOnAssets": round((seed % 12) / 100.0, 4),
                    "revenuePerShare": f"{round(1 + (seed % 50) / 10.0, 2)}",
                    "freeCashflow": f"{round(1 + (seed % 40) / 10.0, 1)}B",
                    "totalCashPerShare": f"{round((seed % 30) / 10.0, 2)}",
                    "netIncomeToCommon": f"{round(1 + (seed % 25) / 10.0, 1)}B",
                    "trailingEps": f"{round((seed % 35) / 10.0, 2)}",
                },
                "esgScores": {
                    "environmentScore": round(40 + seed % 30, 1),
                    "governanceScore": round(45 + seed % 25, 1),
                    "highestControversy": float(seed % 5),
                    "socialScore": None if miss else round(50 + seed % 20, 1),
                },
                "profile": {
                    "longName": f"Company {t}",
                    "industry": ["Banking", "Telecom", "Transport"][i % 3],
                    "fullTimeEmployees": 1000.0 * (i + 1),
                    "sharesOutstanding": 1e6 * (i + 2),
                    "marketCap": f"{round(1 + (seed % 140) / 10.0, 1)}B",
                    "enterpriseValue": f"{round(1 + (seed % 160) / 10.0, 1)}B",
                },
            },
        })
    return out


# --------------------------------------------------------------------------
# Labeled quality-classifier training fixture (extension layer)
# --------------------------------------------------------------------------

#: Disjoint vocabularies so the label is learnable from hashed
#: bag-of-words alone; words chosen to avoid 31-polynomial hash
#: collisions between the two sets at 4096 features (verified by the
#: training test).
CLEAN_VOCAB = [
    "science", "history", "theory", "journal", "method", "data",
    "result", "study", "model", "energy", "river", "garden",
    "music", "novel", "poem", "light",
]
JUNK_VOCAB = [
    "cheap", "winner", "click", "free", "pills", "casino",
    "jackpot", "prize", "spam", "buy", "offer", "deal",
    "bonus", "credit", "loan", "urgent",
]


def labeled_quality_docs(
    spark: SparkSession, n_docs: int = 120, words_per_doc: int = 24
) -> DataFrame:
    """Deterministic labeled corpus for training the hashed quality
    classifier (operators/text.py::train_hashed_classifier): document
    ``i`` mixes ``i % (words_per_doc + 1)`` junk-vocabulary words with
    clean-vocabulary fill, labeled 1 (keep) iff junk words are a
    strict minority — a smooth quality gradient, not a two-cluster
    toy, so ranking laws over the learned scores are meaningful. Pure
    arithmetic word choice (no RNG), same determinism contract as the
    Family B fixtures above."""
    rows = []
    for i in range(n_docs):
        n_junk = i % (words_per_doc + 1)
        words = []
        for j in range(words_per_doc):
            pick = (i * 31 + j * 17 + 7) % 97
            if j < n_junk:
                words.append(JUNK_VOCAB[pick % len(JUNK_VOCAB)])
            else:
                words.append(CLEAN_VOCAB[pick % len(CLEAN_VOCAB)])
        rows.append((i, " ".join(words), 1 if 2 * n_junk < words_per_doc else 0))
    return local_frame(spark, rows, "doc_id long, text string, label int")
