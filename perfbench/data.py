"""Seeded inputs for the benchmark.

Two generators, both pure functions of the seed:

- :func:`write_tables` writes the ten star-schema tables the registered
  queries read (``region`` … ``embeddings``) as one parquet file each,
  with the column names, types and value domains of the repository's
  test fixture (TESTDATA.md), scaled by ``sf``.
- :func:`etl_week` builds the ``daily_etl`` traffic: a backfill, daily
  DAG inputs (T1 spot prices, T2 OHLCV with a re-delivered overlap
  window) and one weekly DAG input (T3-T6 company stats with exactly one
  company changed, T7/T8 macro payloads), each with the row count the
  pipeline task must return.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "big"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_DAY_US = 86_400 * 1_000_000


def _ts(start: dt.date, us_offsets: np.ndarray) -> pa.Array:
    """Naive microsecond timestamps, as the fixture stores them
    (isAdjustedToUTC=false)."""
    base = (start - dt.date(1970, 1, 1)).days * _DAY_US
    return pa.array(base + us_offsets.astype(np.int64), pa.timestamp("us"))


def _keys(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten fixture tables at scale ``sf`` (sf0.01: 60k lineitems)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(10, int(150_000 * sf)), max(5, int(10_000 * sf))
    n_part, n_ord = max(20, int(200_000 * sf)), max(100, int(1_500_000 * sf))
    n_users, n_events = max(5, int(15_000 * sf)), max(100, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": _keys(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": _keys(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    out["part"] = pa.table({
        "p_partkey": _keys(n_part),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, n_part),
                                              rng.choice(_PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    order_day = rng.integers(0, (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days + 1, n_ord)
    out["orders"] = pa.table({
        "o_orderkey": _keys(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(dt.date(1995, 1, 1), order_day * _DAY_US),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    # 0-7 lines per order, line numbers 1..n: (orderkey, linenumber) unique
    per_order = np.minimum(rng.poisson(4.0, n_ord), 7)
    l_order = np.repeat(np.arange(n_ord), per_order)
    n_li = len(l_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": l_order.astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(
            dt.date(1995, 1, 1),
            (order_day[l_order] + rng.integers(1, 122, n_li)) * _DAY_US,
        ),
    })
    span_us = 30 * _DAY_US
    out["events"] = pa.table({
        "event_id": _keys(n_events),
        "ts": _ts(dt.date(2024, 1, 1), np.sort(rng.integers(0, span_us, n_events))),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": rng.choice(_EVENT_TYPES, n_events),
        "value": np.round(rng.gamma(1.2, 40.0, n_events) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    })
    texts = [
        " ".join(rng.choice(_WORDS, int(rng.integers(10, 100))))
        for _ in range(n_docs)
    ]
    # plant exact duplicates so the dedup queries find pairs
    for i in rng.choice(n_docs, n_docs // 50, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))]
    out["documents"] = pa.table({
        "doc_id": _keys(n_docs),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vec = rng.standard_normal((n_docs, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": _keys(n_docs),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vec.reshape(-1), pa.float32()), 64
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_docs), pa.int32()),
    })
    return out


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# daily_etl: one trading week against a backfilled warehouse
# --------------------------------------------------------------------------

MONTHLY = [
    "INFLATION_EXPECTATION", "UNEMPLOYMENT", "CONSUMER_SENTIMENT",
    "RETAIL_SALES", "DURABLES", "NONFARM_PAYROLL",
    "TREASURY_YIELD", "FEDERAL_FUNDS_RATE", "CPI",
]
QUARTERLY = ["REAL_GDP", "REAL_GDP_PER_CAPITA"]
_INT_INDICATORS = {"RETAIL_SALES", "DURABLES", "NONFARM_PAYROLL"}
#: T3-T6 and the payload field each reads; the changed field picks the
#: one table whose partition the weekly upsert must rewrite.
STAT_FIELDS = {
    "T3": ("quote", "PE Ratio (TTM)"),
    "T4": ("financialData", "revenuePerShare"),
    "T5": ("esgScores", "environmentScore"),
    "T6": ("profile", "marketCap"),
}


@dataclass
class DailyRun:
    as_of: str
    gold_json: str
    oil_json: str
    #: ticker -> rows (date, open, high, low, close, volume, dividends, splits)
    ohlcv: dict[str, list[tuple]]
    expect_t1: int = 1
    #: one new row per ticker; the re-delivered overlap must add nothing
    expect_t2: int = 0


@dataclass
class WeeklyRun:
    as_of: str
    stats: list[dict]
    monthly: list[str]
    quarterly: list[str]
    changed_task: str
    changed_company: str
    expect: dict[str, int] = field(default_factory=dict)


@dataclass
class EtlWeek:
    #: the key-probed tables as they stand before the week, by table
    #: name; ``year`` and ``month`` become hive partition directories
    backfill: dict[str, pa.Table]
    #: (as_of, stats) the T3-T6 tables are backfilled from
    stats: tuple[str, list[dict]]
    history_days: int
    days: list[DailyRun]
    weekly: WeeklyRun
    tickers: list[str]


def _weekdays(end: dt.date, n: int) -> list[dt.date]:
    out, d = [], end
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d -= dt.timedelta(days=1)
    return out[::-1]


def _ohlcv_row(day: dt.date, close: float, volume: float) -> tuple:
    return (day.isoformat(), round(close * 0.995, 4), round(close * 1.01, 4),
            round(close * 0.985, 4), round(close, 4), volume, 0.0, 0.0)


def _spot(rng: np.random.Generator) -> tuple[str, str]:
    gold = {"rates": {"SGD": round(float(rng.uniform(2300, 2600)), 2)}}
    oil = {"data": {"price": round(float(rng.uniform(65, 90)), 2)}}
    return json.dumps(gold), json.dumps(oil)


def _indicator(name: str, last: dt.date, monthly: bool, rng_seed: int) -> str:
    """Alpha Vantage-shaped payload from 2020-01 through ``last``'s month
    (monthly) or quarter (quarterly); values are strings, as upstream."""
    rng = np.random.default_rng(rng_seed)
    data = []
    for y in range(2020, last.year + 1):
        for m in (range(1, 13) if monthly else (1, 4, 7, 10)):
            if (y, m) > (last.year, last.month):
                break
            v = 50 + 20 * rng.random()
            data.append({
                "date": f"{y:04d}-{m:02d}-01",
                "value": str(int(v * 1000)) if name in _INT_INDICATORS else str(round(v, 2)),
            })
    return json.dumps({"name": name, "data": data})


def _company_stats(rng: np.random.Generator, tickers: list[str]) -> list[dict]:
    """The yahoo_fin nested-dict shape of ``fixtures.company_stats``."""
    out = []
    for i, t in enumerate(tickers):
        r = rng.random(12)
        out.append({
            "company": t,
            "quote": {"PE Ratio (TTM)": round(8 + 20 * r[0], 2)},
            "stats": {
                "defaultKeyStatistics": {
                    "pegRatio": round(1 + r[1], 2),
                    "priceToBook": round(0.8 + 1.5 * r[2], 2),
                    "priceToSalesTrailing12Months": round(2 + r[3], 2),
                    "profitMargins": round(0.3 * r[4], 4),
                    "payoutRatio": f"{round(0.9 * r[5], 2)}",
                },
                "financialData": {
                    "returnOnEquity": round(0.25 * r[6], 4),
                    "returnOnAssets": round(0.12 * r[7], 4),
                    "revenuePerShare": f"{round(1 + 5 * r[8], 2)}",
                    "freeCashflow": f"{round(1 + 4 * r[9], 1)}B",
                    "totalCashPerShare": f"{round(3 * r[10], 2)}",
                    "netIncomeToCommon": "1.5B",
                    "trailingEps": f"{round(3.5 * r[11], 2)}",
                },
                "esgScores": {
                    "environmentScore": round(40 + 30 * r[0], 1),
                    "governanceScore": round(45 + 25 * r[1], 1),
                    "highestControversy": float(i % 5),
                    "socialScore": round(50 + 20 * r[2], 1),
                },
                "profile": {
                    "longName": f"Company {t}",
                    "industry": ["Banking", "Telecom", "Transport"][i % 3],
                    "fullTimeEmployees": 1000.0 * (i + 1),
                    "sharesOutstanding": 1e6 * (i + 2),
                    "marketCap": f"{round(1 + 14 * r[3], 1)}B",
                    "enterpriseValue": f"{round(1 + 16 * r[4], 1)}B",
                },
            },
        })
    return out


def _macro_table(payloads: list[str]) -> pa.Table:
    """What T7/T8 leave in the warehouse for ``payloads``: one row per
    date after 2020, a ``value_<NAME>`` column per indicator."""
    cols: dict[str, list] = {}
    dates: list[str] = []
    for payload in payloads:
        doc = json.loads(payload)
        rows = [r for r in doc["data"] if r["date"] > "2021"]
        dates = [r["date"] for r in rows]
        cast = int if doc["name"] in _INT_INDICATORS else float
        cols[f"value_{doc['name']}"] = [cast(r["value"]) for r in rows]
    cols["year"] = [int(d[:4]) for d in dates]
    cols["month"] = [int(d[5:7]) for d in dates]
    return pa.table(cols)


#: trading days simulated (one, so that a run fits the sweep's budget),
#: weekdays of backfilled OHLCV before them, and previous days each daily
#: run re-delivers
N_DAYS, HISTORY_DAYS, OVERLAP = 1, 40, 2


def etl_week(seed: int) -> EtlWeek:
    """Trading days for the ``daily_etl`` workload.

    The week starts on a Monday in 2024 picked by the seed. The backfill
    holds ``HISTORY_DAYS`` weekdays of OHLCV before it, one macro-daily
    row, macro indicators through the previous month and company stats
    as of the first of the current month. Each daily run re-delivers the
    ``OVERLAP`` previous days, which the idempotent append must drop.
    The weekly run re-delivers the current month's stats with one
    company's field changed and extends the macro payloads by the
    week's month."""
    from sentiment_analysis_data_engineering_spark.schemas import TICKERS

    rng = np.random.default_rng(seed)
    monday = dt.date(2024, 2, 5) + dt.timedelta(weeks=int(rng.integers(0, 40)))
    week = [monday + dt.timedelta(days=i) for i in range(N_DAYS)]
    past = _weekdays(monday - dt.timedelta(days=1), HISTORY_DAYS)
    closes = {t: 20 + 10 * rng.random() for t in TICKERS}
    ohlcv: dict[str, dict[dt.date, tuple]] = {t: {} for t in TICKERS}
    for d in past + week:
        for t in TICKERS:
            closes[t] *= 1 + rng.normal(0, 0.01)
            ohlcv[t][d] = _ohlcv_row(d, closes[t], float(rng.integers(1e5, 1e6)))

    def daily(day: dt.date, window: list[dt.date]) -> DailyRun:
        gold, oil = _spot(rng)
        window_rows = {t: [ohlcv[t][d] for d in window] for t in TICKERS}
        # the fixture's ST4 shape: today's row delivered twice
        for rows in window_rows.values():
            rows.append(rows[-1])
        return DailyRun(as_of=day.isoformat(), gold_json=gold, oil_json=oil,
                        ohlcv=window_rows, expect_t2=len(TICKERS))

    timeline = past + week
    days = [daily(d, timeline[len(past) + i - OVERLAP:len(past) + i + 1])
            for i, d in enumerate(week)]

    this_month = week[0].replace(day=1)
    prev_month = (this_month - dt.timedelta(days=1)).replace(day=1)
    stats = _company_stats(rng, TICKERS)
    changed_task = str(rng.choice(sorted(STAT_FIELDS)))
    ci = int(rng.integers(0, len(TICKERS)))
    reupsert = json.loads(json.dumps(stats))
    group, key = STAT_FIELDS[changed_task]
    node = reupsert[ci]["quote"] if group == "quote" else reupsert[ci]["stats"][group]
    node[key] = f"{round(20 + 10 * rng.random(), 1)}B" if key == "marketCap" else (
        f"{round(7 + rng.random(), 2)}" if key == "revenuePerShare"
        else round(float(node[key]) + 1.5, 2)
    )

    def payloads(last: dt.date) -> tuple[list[str], list[str]]:
        s = seed * 1009
        return ([_indicator(n, last, True, s + k) for k, n in enumerate(MONTHLY)],
                [_indicator(n, last, False, s + 50 + k) for k, n in enumerate(QUARTERLY)])

    last_month = week[-1]
    added = [
        (y, m) for y in range(prev_month.year, last_month.year + 1) for m in range(1, 13)
        if (prev_month.year, prev_month.month) < (y, m) <= (last_month.year, last_month.month)
    ]
    monthly, quarterly = payloads(last_month)
    weekly = WeeklyRun(
        as_of=this_month.isoformat(), stats=reupsert, monthly=monthly, quarterly=quarterly,
        changed_task=changed_task, changed_company=TICKERS[ci],
    )
    # the changed company's (year, month) partition is rewritten whole
    weekly.expect = {t: (len(TICKERS) if t == changed_task else 0) for t in STAT_FIELDS}
    weekly.expect["T7"] = len(added)
    weekly.expect["T8"] = sum(m in (1, 4, 7, 10) for _, m in added)

    fact = [(t, d, ohlcv[t][d]) for d in past for t in TICKERS]
    gold, oil = _spot(rng)
    monthly_before, quarterly_before = payloads(prev_month)
    backfill = {
        "fact_table": pa.table({
            **{c: [r[i + 1] for _, _, r in fact] for i, c in enumerate(
                ["open", "high", "low", "close", "volume", "dividends", "stock_splits"])},
            "ticker": [t for t, _, _ in fact],
            "year": [d.year for _, d, _ in fact],
            "month": [d.month for _, d, _ in fact],
            "day": [d.day for _, d, _ in fact],
        }),
        "macro_data_daily": pa.table({
            "year": [past[-1].year], "month": [past[-1].month], "day": [past[-1].day],
            "oil_price": [json.loads(oil)["data"]["price"]],
            "gold_price": [json.loads(gold)["rates"]["SGD"]],
        }),
        "macro_data_monthly": _macro_table(monthly_before),
        "macro_data_quarterly": _macro_table(quarterly_before),
    }
    return EtlWeek(
        backfill=backfill, stats=(this_month.isoformat(), stats),
        history_days=HISTORY_DAYS, days=days, weekly=weekly, tickers=list(TICKERS),
    )
