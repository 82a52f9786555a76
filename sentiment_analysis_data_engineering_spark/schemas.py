"""Warehouse and fixture schemas.

The reference declares every table schema twice — as DDL at creation
(``daily_dag.py:121-151``, ``weekly_dag.py:507-608``) and again as
``table_schema`` on write (``weekly_dag.py:116-129``). Its type system
is exactly three persisted types: INTEGER, FLOAT, STRING, with
REQUIRED/NULLABLE modes. Mapping (SURVEY.md §1.4):

    BigQuery INTEGER -> LongType      FLOAT -> DoubleType
    STRING -> StringType              REQUIRED -> nullable=False

Dates are decomposed into integer year/month/day columns and the
source timestamp is dropped before persist (``daily_dag.py:62-66``) —
so no DATE/TIMESTAMP type appears in any warehouse schema. Where the
reference's DDL and its append path disagree (ESG ``value_SOCIAL_RATING``
vs ``value_SOCIAL_LEVEL``, ``weekly_dag.py:556`` vs ``:274``), the DDL
wins (SURVEY.md §2.11.3).

The fixture tables (TESTDATA.md) are declared here too, in
``FIXTURE_SCHEMAS``, so ``plans.registry.load_tables`` reads them
without a schema-inference job — the catalog-held DDL of the
reference, for parquet files that carry no catalog.
"""

from __future__ import annotations

from pyspark.sql import types as T

__all__ = [
    "FACT_TABLE",
    "MACRO_DATA_DAILY",
    "MACRO_DATA_MONTHLY",
    "MACRO_DATA_QUARTERLY",
    "FINANCIAL_RATIO_TABLE",
    "KEY_METRICS_TABLE",
    "COMPANY_ESG_TABLE",
    "COMPANY_GROUP_TABLE",
    "WAREHOUSE_SCHEMAS",
    "TICKERS",
    "DATE_KEY_DAILY",
    "DATE_KEY_MONTHLY",
    "FIXTURE_SCHEMAS",
]

#: The nine SGX tickers every pipeline iterates over
#: (``daily_dag.py:31``, ``weekly_dag.py:49``).
TICKERS = [
    "D05.SI", "U11.SI", "O39.SI", "Z74.SI", "F34.SI",
    "C38U.SI", "C6L.SI", "V03.SI", "BN4.SI",
]

#: Degenerate date-dimension keys shared across the star schema.
DATE_KEY_DAILY = ["year", "month", "day"]
DATE_KEY_MONTHLY = ["year", "month"]


def _f(name: str, dtype: T.DataType, required: bool = False) -> T.StructField:
    return T.StructField(name, dtype, nullable=not required)


_LONG = T.LongType()
_DBL = T.DoubleType()
_STR = T.StringType()

#: Daily OHLCV fact table (DDL ``daily_dag.py:134-151``).
FACT_TABLE = T.StructType([
    _f("open", _DBL, required=True),
    _f("high", _DBL, required=True),
    _f("low", _DBL, required=True),
    _f("close", _DBL, required=True),
    _f("volume", _DBL, required=True),
    _f("dividends", _DBL, required=True),
    _f("stock_splits", _DBL, required=True),
    _f("ticker", _STR, required=True),
    _f("year", _LONG, required=True),
    _f("month", _LONG, required=True),
    _f("day", _LONG, required=True),
])

#: Oil + gold spot prices (DDL ``daily_dag.py:121-132``).
MACRO_DATA_DAILY = T.StructType([
    _f("year", _LONG, required=True),
    _f("month", _LONG, required=True),
    _f("day", _LONG, required=True),
    _f("oil_price", _DBL),
    _f("gold_price", _DBL),
])

#: Nine US macro indicators, monthly grain (DDL ``weekly_dag.py:560-577``).
MACRO_DATA_MONTHLY = T.StructType([
    _f("year", _LONG, required=True),
    _f("month", _LONG, required=True),
    _f("value_INFLATION_EXPECTATION", _DBL),
    _f("value_UNEMPLOYMENT", _DBL),
    _f("value_CONSUMER_SENTIMENT", _DBL),
    _f("value_RETAIL_SALES", _LONG),
    _f("value_DURABLES", _LONG),
    _f("value_NONFARM_PAYROLL", _LONG),
    _f("value_TREASURY_YIELD", _DBL),
    _f("value_FEDERAL_FUNDS_RATE", _DBL),
    _f("value_CPI", _DBL),
])

#: Real GDP (+ per-capita), quarterly grain (DDL ``weekly_dag.py:579-589``).
MACRO_DATA_QUARTERLY = T.StructType([
    _f("year", _LONG, required=True),
    _f("month", _LONG, required=True),
    _f("value_REAL_GDP", _DBL),
    _f("value_REAL_GDP_PER_CAPITA", _DBL),
])

#: Per-company financial ratios (DDL ``weekly_dag.py:507-525``).
#: ``value_PAYOUT_RATIO`` is deliberately STRING — upstream may carry
#: unit suffixes (``weekly_dag.py:521``).
FINANCIAL_RATIO_TABLE = T.StructType([
    _f("year", _LONG, required=True),
    _f("month", _LONG, required=True),
    _f("day", _LONG, required=True),
    _f("company", _STR, required=True),
    _f("value_PE_RATIO", _DBL),
    _f("value_PEG_RATIO", _DBL),
    _f("value_PRICE_SALES_RATIO", _DBL),
    _f("value_PRICE_BOOK_RATIO", _DBL),
    _f("value_PROFIT_MARGIN", _DBL),
    _f("value_PAYOUT_RATIO", _STR),
    _f("value_ROE", _DBL),
    _f("value_ROA", _DBL),
])

#: Per-company key metrics — all five value columns STRING because the
#: upstream values carry "1.2B"-style suffixes (``weekly_dag.py:536-540``).
KEY_METRICS_TABLE = T.StructType([
    _f("year", _LONG, required=True),
    _f("month", _LONG, required=True),
    _f("day", _LONG, required=True),
    _f("company", _STR, required=True),
    _f("value_REVENUE_PER_SHARE_TTM", _STR),
    _f("value_FREE_CASHFLOW_TTM", _STR),
    _f("value_CASH_PER_SHARE_TTM", _STR),
    _f("value_TOTAL_NET_INCOME_TTM", _STR),
    _f("value_EARNINGS_PER_SHARE_TTM", _STR),
])

#: Per-company ESG ratings (DDL ``weekly_dag.py:544-558``).
COMPANY_ESG_TABLE = T.StructType([
    _f("year", _LONG, required=True),
    _f("month", _LONG, required=True),
    _f("day", _LONG, required=True),
    _f("company", _STR),
    _f("value_ENVIRONMENTAL_RATING", _DBL),
    _f("value_GOVERNMENT_RATING", _DBL),
    _f("value_CONTROVERSY_LEVEL", _DBL),
    _f("value_SOCIAL_RATING", _DBL),
])

#: Per-company profile (DDL ``weekly_dag.py:592-608``).
COMPANY_GROUP_TABLE = T.StructType([
    _f("year", _LONG, required=True),
    _f("month", _LONG, required=True),
    _f("day", _LONG, required=True),
    _f("company", _STR, required=True),
    _f("CompanyName", _STR, required=True),
    _f("Industry", _STR),
    _f("value_EMPLOYEES", _DBL),
    _f("value_NO_OF_STOCKS", _DBL),
    _f("value_MARKET_CAP", _DBL),
    _f("value_ENTERPRISE_VALUE", _DBL),
])

#: table name -> (schema, partition columns). Partitioning on
#: (year, month) turns the reference's ubiquitous
#: ``WHERE year = .. AND month = ..`` probes (``daily_dag.py:80``)
#: into partition pruning.
WAREHOUSE_SCHEMAS: dict[str, tuple[T.StructType, list[str]]] = {
    "fact_table": (FACT_TABLE, ["year", "month"]),
    "macro_data_daily": (MACRO_DATA_DAILY, ["year", "month"]),
    "macro_data_monthly": (MACRO_DATA_MONTHLY, ["year", "month"]),
    "macro_data_quarterly": (MACRO_DATA_QUARTERLY, ["year", "month"]),
    "financial_ratio_table": (FINANCIAL_RATIO_TABLE, ["year", "month"]),
    "key_metrics_table": (KEY_METRICS_TABLE, ["year", "month"]),
    "company_esg_table": (COMPANY_ESG_TABLE, ["year", "month"]),
    "company_group_table": (COMPANY_GROUP_TABLE, ["year", "month"]),
}


_INT = T.IntegerType()
_NTZ = T.TimestampNTZType()


def _table(*cols: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([_f(n, t) for n, t in cols])


#: The ten fixture tables, typed exactly as Spark's parquet
#: reader infers them from the files at every SF (int32 keys stay
#: ``int``, naive ``timestamp[us]`` reads as ``timestamp_ntz``). A
#: file whose column drifts to a type the reader cannot widen fails
#: its first action instead of being misread; the schema law in
#: tests/test_registry.py compares these to the inferred schemas.
FIXTURE_SCHEMAS: dict[str, T.StructType] = {
    "region": _table(("r_regionkey", _INT), ("r_name", _STR)),
    "nation": _table(
        ("n_nationkey", _INT), ("n_name", _STR), ("n_regionkey", _INT),
    ),
    "customer": _table(
        ("c_custkey", _LONG), ("c_name", _STR), ("c_nationkey", _INT),
        ("c_acctbal", _DBL), ("c_mktsegment", _STR),
    ),
    "supplier": _table(
        ("s_suppkey", _LONG), ("s_name", _STR), ("s_nationkey", _INT),
        ("s_acctbal", _DBL),
    ),
    "part": _table(
        ("p_partkey", _LONG), ("p_name", _STR), ("p_brand", _STR),
        ("p_type", _STR), ("p_size", _INT), ("p_retailprice", _DBL),
    ),
    "orders": _table(
        ("o_orderkey", _LONG), ("o_custkey", _LONG), ("o_orderstatus", _STR),
        ("o_totalprice", _DBL), ("o_orderdate", _NTZ),
        ("o_orderpriority", _STR),
    ),
    "lineitem": _table(
        ("l_orderkey", _LONG), ("l_partkey", _LONG), ("l_suppkey", _LONG),
        ("l_linenumber", _INT), ("l_quantity", _DBL),
        ("l_extendedprice", _DBL), ("l_discount", _DBL), ("l_tax", _DBL),
        ("l_returnflag", _STR), ("l_linestatus", _STR), ("l_shipdate", _NTZ),
    ),
    "events": _table(
        ("event_id", _LONG), ("ts", _NTZ), ("user_id", _LONG),
        ("event_type", _STR), ("value", _DBL), ("props", _STR),
    ),
    "documents": _table(
        ("doc_id", _LONG), ("text", _STR), ("lang", _STR),
        ("source", _STR), ("n_chars", _LONG),
    ),
    "embeddings": _table(
        ("vec_id", _LONG), ("embedding", T.ArrayType(T.FloatType())),
        ("label", _INT),
    ),
}
