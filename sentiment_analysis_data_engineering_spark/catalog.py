"""Catalog / DDL surface (SURVEY.md §2.1 S7-S8).

The reference creates one BigQuery dataset + table per pipeline with
``BigQueryCreateEmptyDatasetOperator`` / ``BigQueryCreateEmptyTableOperator``
(``daily_dag.py:119-151``, ``weekly_dag.py:500-608``). Here the same
surface is Spark SQL DDL over parquet tables partitioned on
(year, month), which upgrades the reference's ubiquitous
``WHERE year= AND month=`` probes to partition pruning.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from .schemas import WAREHOUSE_SCHEMAS

__all__ = [
    "alter_table_add_columns",
    "analyze_table",
    "create_database",
    "create_table",
    "create_warehouse",
    "drop_database",
    "drop_table",
    "list_tables",
]


def create_database(spark: SparkSession, name: str) -> None:
    """S7 — idempotent namespace creation."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {name}")


def _ddl_of(schema: T.StructType) -> str:
    return ", ".join(
        f"{f.name} {f.dataType.simpleString().upper()}"
        + ("" if f.nullable else " NOT NULL")
        for f in schema.fields
    )


def create_table(
    spark: SparkSession,
    name: str,
    schema: T.StructType,
    partition_by: list[str] | None = None,
    location: str | None = None,
) -> None:
    """S8 — create an empty managed/external parquet table with a fixed
    schema and REQUIRED→NOT NULL modes, mirroring the reference's DDL."""
    parts = f" PARTITIONED BY ({', '.join(partition_by)})" if partition_by else ""
    loc = f" LOCATION '{location}'" if location else ""
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {name} ({_ddl_of(schema)}) "
        f"USING parquet{parts}{loc}"
    )


def drop_database(spark: SparkSession, name: str, *, cascade: bool = False) -> None:
    """S9 — dataset deletion (``BigQueryDeleteDatasetOperator``,
    imported at ``daily_dag.py:14`` but never invoked by the reference;
    exposed here so the DDL verb set is complete)."""
    spark.sql(f"DROP DATABASE IF EXISTS {name}{' CASCADE' if cascade else ''}")


def drop_table(spark: SparkSession, name: str) -> None:
    """S9 — table deletion (``BigQueryDeleteTableOperator``,
    ``daily_dag.py:15``, imported-but-unused in the reference)."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def alter_table_add_columns(
    spark: SparkSession, name: str, columns: T.StructType
) -> None:
    """S9 — additive schema evolution
    (``BigQueryUpdateTableSchemaOperator``, ``daily_dag.py:20``,
    imported-but-unused). Only ADD COLUMNS is exposed: it is the one
    schema change that is metadata-only over immutable parquet files —
    existing files simply read the new columns as NULL. Type changes
    or drops would require rewriting data and belong to a log-based
    table format, not this catalog. Added columns are always nullable
    (existing rows have no value for them), whatever the field mode."""
    cols = ", ".join(
        f"{f.name} {f.dataType.simpleString().upper()}" for f in columns.fields
    )
    spark.sql(f"ALTER TABLE {name} ADD COLUMNS ({cols})")


def list_tables(spark: SparkSession, database: str) -> list[str]:
    """S9 — dataset listing (``BigQueryGetDatasetTablesOperator``,
    ``daily_dag.py:17``, imported-but-unused). ``SHOW TABLES IN db``
    also lists the session's temporary views; they are not tables of
    the database and are dropped here."""
    return [
        r.tableName
        for r in spark.sql(f"SHOW TABLES IN {database}").collect()
        if not r.isTemporary
    ]


def create_warehouse(spark: SparkSession, database: str = "warehouse") -> None:
    """Create the full 8-table reference star schema (§1.1)."""
    create_database(spark, database)
    for table, (schema, part_cols) in WAREHOUSE_SCHEMAS.items():
        create_table(spark, f"{database}.{table}", schema, part_cols)


def analyze_table(
    spark: SparkSession,
    name: str,
    *,
    columns: list[str] | None = None,
) -> dict[str, int | None]:
    """Collect table (and optionally per-column) statistics so the
    cost-based optimizer can size joins — at warehouse scale, accurate
    rowCount/sizeInBytes is what lets Catalyst pick broadcast over
    sort-merge and reorder multi-way joins; column stats (NDV,
    min/max, null counts) sharpen selectivity estimates under
    ``spark.sql.cbo.enabled``.

    Wraps ``ANALYZE TABLE ... COMPUTE STATISTICS [FOR COLUMNS ...]``
    (one scan; NDV via HyperLogLog, no exact distinct pass) and
    returns the recorded {rows, bytes} from DESCRIBE EXTENDED so
    callers can assert stats actually landed.
    """
    spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
    if columns:
        cols = ", ".join(columns)
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS {cols}")
    stats_row = [
        r for r in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
        if r.col_name == "Statistics"
    ]
    out: dict[str, int | None] = {"rows": None, "bytes": None}
    if stats_row:
        text = stats_row[0].data_type  # e.g. "1234 bytes, 56 rows"
        for part in text.split(","):
            part = part.strip()
            if part.endswith("bytes"):
                out["bytes"] = int(part.split()[0])
            elif part.endswith("rows"):
                out["rows"] = int(part.split()[0])
    return out
