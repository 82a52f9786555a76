"""Query registry backing the driver contract (__spark_entry__.py).

Each registered query is a ``(spark, sf_dir) -> DataFrame`` callable
plus (optionally) the ANSI-SQL oracle string DuckDB runs over the same
parquet tables. Registration happens at import time of the nine
``plans/*_queries.py`` modules, each of which decorates its queries with
``@query``; ``__spark_entry__`` imports them all.

Determinism rules enforced across the registry (SURVEY.md §5.2):
- every computed column is aliased identically in Spark and SQL;
- double aggregates are ``round``-ed in BOTH engines so summation-order
  differences (Spark partition order vs DuckDB hash order) vanish;
- no raw TIMESTAMP columns in outputs — formatted strings or integer
  date parts instead (session tz is UTC, oracle is tz-naive);
- DuckDB ``sum(BIGINT)`` returns INT128 — always ``CAST(... AS BIGINT)``
  in the oracle to match Spark's long.
"""

from __future__ import annotations

import json
from collections.abc import Callable

import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import FIXTURE_SCHEMAS

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a query; ``oracle=None`` marks a non-SQL-expressible op
    (the driver then records a weaker rows-only check)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    """Read the fixture parquet tables (TESTDATA.md) with their
    declared schemas (``schemas.FIXTURE_SCHEMAS``), so no read launches
    a schema-inference job.

    Every current fixture SF stores ``events.ts`` as naive
    ``timestamp[us]``; older fixture releases stored TIMESTAMP(NANOS),
    which Spark reads only as a bigint of epoch-nanos, and a table
    Spark wrote itself stores a UTC-adjusted one. ``ts``'s declared
    type comes from the parquet footer (read on the driver, no Spark
    job). Either way ``ts`` becomes a microsecond TIMESTAMP
    that matches DuckDB's view of the same file bit-for-bit (the nanos
    fixture's sub-microsecond digits are all zero).
    """
    # Self-defend against a non-UTC caller session: the DuckDB oracle is
    # tz-naive, so timestamp-derived year/month must be computed in UTC.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out: list[DataFrame] = []
    for n in names:
        path = f"{sf_dir}/{n}.parquet"
        if n == "events":
            out.append(_read_events(spark, path))
        else:
            out.append(spark.read.schema(FIXTURE_SCHEMAS[n]).parquet(path))
    return out


def _read_events(spark: SparkSession, path: str) -> DataFrame:
    ts_type = _ts_type(path)
    nanos = ts_type == T.LongType()
    schema = T.StructType([
        T.StructField("ts", ts_type) if f.name == "ts" else f
        for f in FIXTURE_SCHEMAS["events"]
    ])
    df = spark.read.schema(schema).parquet(path)
    if nanos:
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # canonical engine type for event time is TIMESTAMP (downstream uses
    # unix_micros etc., which reject NTZ); under the UTC session the NTZ
    # cast is value-preserving and matches DuckDB's naive reading of the
    # same file
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def _ts_type(path: str) -> T.DataType:
    """Spark's type for ``events.ts`` in the parquet file or directory
    at ``path``, from its first file's footer: INT96 (Spark's default
    timestamp encoding) and UTC-adjusted timestamps read as TIMESTAMP,
    naive ones as TIMESTAMP_NTZ and nanosecond ones as a bigint."""
    footer = pq.ParquetFile(ds.dataset(path, format="parquet").files[0]).schema
    col = next(c for c in map(footer.column, range(len(footer))) if c.path == "ts")
    if col.physical_type == "INT96":
        return T.TimestampType()
    logical = json.loads(col.logical_type.to_json())
    if logical["timeUnit"] == "nanoseconds":
        return T.LongType()
    return T.TimestampType() if logical["isAdjustedToUTC"] else T.TimestampNTZType()


def fixture_rows(sf_dir: str, name: str) -> int:
    """Row count of a fixture table from its parquet footers — driver
    metadata, no Spark job."""
    return ds.dataset(f"{sf_dir}/{name}.parquet", format="parquet").count_rows()
