"""Scan and write-path operators (SURVEY.md §2.1 S1-S2, §2.9 ST1-ST3).

The reference's storage contract, re-expressed on partitioned parquet:

- ``scan``               S1: predicate scan; filters reach the parquet
                         reader (pushdown / partition pruning).
- ``append``             S2: plain append (``to_gbq(if_exists='append')``).
- ``idempotent_append``  ST1/ST2: insert only rows whose key is absent —
                         ONE left_anti join instead of the reference's
                         per-row probe loop (``weekly_dag.py:420-427``,
                         ``#This is super slow``).
- ``upsert_partitions``  ST3 intent: rewrite only the partitions whose
                         content changed.
- ``replace_partition``  ST3: the delete+insert upsert
                         (``weekly_dag.py:131-147``) as dynamic
                         partition overwrite — only the (year, month)
                         partitions present in the incoming frame are
                         replaced; others untouched.

Divergence documented per SURVEY.md §2.11: the reference's fact_table
path re-appends full history every run with no dedup (``daily_dag.py:92,117``);
this engine standardizes on ``idempotent_append`` for that path.

Both incremental writers commit as ONE observed write, with no extra
driver round trip: the target is probed for existence on the Hadoop
FileSystem (no failed read), read back with the incoming frame's
declared schema (no schema-inference job; partition columns come back
with the incoming types), and the rows written are counted by an
``Observation`` riding the write itself
(``operators.observe.write_with_metrics``) — no cache, no separate
count action. A write that turns out to hold zero rows leaves no data
file behind.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.observe import write_with_metrics
from ..operators.relational import anti_join_new_rows

__all__ = [
    "scan",
    "scan_or_none",
    "append",
    "idempotent_append",
    "replace_partition",
    "upsert_partitions",
]


def scan(
    spark: SparkSession,
    path_or_table: str,
    *,
    predicate: Column | None = None,
    columns: list[str] | None = None,
    schema: T.StructType | None = None,
) -> DataFrame:
    """S1 — read a parquet path or catalog table with optional predicate
    and projection. Both are declared on the lazy plan, so Catalyst
    pushes them into the scan (``PushedFilters`` / pruned ``ReadSchema``)
    rather than filtering post-read — unlike the reference's local
    re-filter after ``read_gbq`` (``daily_dag.py:82``).

    ``schema`` declares the columns to read and their types: a parquet
    path is then read without the schema-inference job, and partition
    columns parse their directory values into the declared types; a
    catalog table (whose schema the catalog already holds) is cast to
    it."""
    if _is_path(path_or_table):
        reader = spark.read if schema is None else spark.read.schema(schema)
        df = reader.parquet(path_or_table)
    else:
        df = spark.table(path_or_table)
        if schema is not None:
            df = df.select(*[F.col(f.name).cast(f.dataType) for f in schema])
    if predicate is not None:
        df = df.filter(predicate)
    if columns:
        df = df.select(*columns)
    return df


def _is_path(path_or_table: str) -> bool:
    return path_or_table.endswith(".parquet") or "/" in path_or_table


def scan_or_none(
    spark: SparkSession,
    path_or_table: str,
    *,
    schema: T.StructType | None = None,
) -> DataFrame | None:
    """``scan`` that returns None ONLY when the target does not exist
    yet — the first-write probe every incremental writer needs.

    Existence is asked of the Hadoop FileSystem (or the catalog), not
    inferred from a caught read failure: a failed read is reported to
    every query-execution listener as an error, and once an
    ``Observation`` has been used on the session that listener logs it
    at ERROR. Any failure to READ an existing target (permissions,
    corrupt footers) raises: treating it as "no data yet" would make
    the caller silently rebuild the table from one batch and drop
    history."""
    if _is_path(path_or_table):
        fs, P = _hadoop_fs(spark, path_or_table)
        exists = fs.exists(P(path_or_table))
    else:
        exists = spark.catalog.tableExists(path_or_table)
    return scan(spark, path_or_table, schema=schema) if exists else None


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path constructor) for ``path`` — every metadata
    operation on a table or index directory goes through the Hadoop
    FileSystem API, so the same code runs on local/HDFS/S3A."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    return jpath(path).getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _visible_files(spark: SparkSession, target: str) -> set[str]:
    """Names of the data files directly under a path target (hidden
    ``_``/``.`` entries and directories excluded); empty for a missing
    path or a catalog table."""
    if not _is_path(target):
        return set()
    fs, P = _hadoop_fs(spark, target)
    root = P(target)
    if not fs.exists(root):
        return set()
    return {
        st.getPath().getName()
        for st in fs.listStatus(root)
        if st.isFile() and not st.getPath().getName().startswith(("_", "."))
    }


def _counted_write(spark: SparkSession, df: DataFrame, target: str, write) -> int:
    """Run ``write(observed_df)`` and return the number of rows it
    wrote, counted inside the write job itself (no cache, no second
    action). Spark's unpartitioned writer commits one file from its
    first task even when that task has no rows, so a write that counted
    zero rows deletes the data files it added — a re-run with nothing
    new (e.g. a replayed micro-batch) leaves the target as it was.
    Partitioned writes of zero rows add no file in the first place."""
    before = _visible_files(spark, target)
    n = write_with_metrics(df, write, defaults={"n": 0}, n=F.count(F.lit(1)))["n"]
    if n == 0:
        fs, P = _hadoop_fs(spark, target)
        for name in _visible_files(spark, target) - before:
            fs.delete(P(f"{target.rstrip('/')}/{name}"), False)
    return n


def append(
    df: DataFrame,
    target: str,
    *,
    partition_by: list[str] | None = None,
) -> None:
    """S2 — append to a path (parquet dir) or catalog table."""
    writer = df.write.mode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if "/" in target:
        writer.parquet(target)
    else:
        writer.saveAsTable(target)


def idempotent_append(
    spark: SparkSession,
    df: DataFrame,
    target: str,
    keys: Iterable[str],
    *,
    partition_by: list[str] | None = None,
) -> int:
    """ST1/ST2 — append only rows whose key tuple is not yet in target.

    Returns the number of rows appended. The target is read with the
    key columns of ``df``'s schema only, so the probe reads just the
    key columns from parquet (column pruning, no schema inference) and,
    when the keys are the partition columns, only partition
    metadata-sized data moves. The anti join and the append are ONE
    observed write: the returned count rides the write job, nothing is
    cached, and an append with no new rows leaves no file.
    """
    keys = list(keys)
    key_schema = T.StructType([df.schema[k] for k in keys])
    existing = scan_or_none(spark, target, schema=key_schema)
    new_rows = df if existing is None else anti_join_new_rows(df, existing, keys)
    return _counted_write(
        spark, new_rows, target,
        lambda d: append(d, target, partition_by=partition_by),
    )


def upsert_partitions(
    spark: SparkSession,
    df: DataFrame,
    target: str,
    partition_by: list[str],
) -> int:
    """ST3 (intent form) — replace-partition-on-change.

    The reference's upsert compares pulled vs new frames and
    delete+reinserts (``weekly_dag.py:131-147``) — with the condition
    inverted so it only ever rewrites identical data (SURVEY.md
    §2.11.1). This implements the evident intent, scalably:

    1. order-insensitive per-partition signature = (count, sum of row
       xxhash64) on BOTH sides — one aggregate each, no row-level diff;
    2. partitions whose signature differs (or is new) are overwritten
       via dynamic partition overwrite; identical partitions untouched.

    The stored side is read with ``df``'s schema, so both signatures
    hash the same types (partition columns included) with no alignment
    cast and no schema-inference job. The signatures, the semi join and
    the overwrite are ONE observed write: the returned count rides the
    write job and nothing is cached. Dynamic overwrite replaces a
    partition only at job commit, after every task has read the stored
    rows; when nothing changed, nothing is rewritten.

    Returns the number of rows written.
    """
    def sig(d: DataFrame) -> DataFrame:
        # decimal(38,0) sum: order-insensitive and overflow-safe (ANSI mode
        # throws on long-sum overflow, and xxhash64 values span +-9e18)
        row_hash = F.xxhash64(*[F.col(c) for c in sorted(d.columns)])
        return d.groupBy(*partition_by).agg(
            F.count("*").alias("_n"),
            F.sum(row_hash.cast("decimal(38,0)")).alias("_h"),
        )

    existing = scan_or_none(spark, target, schema=df.schema)

    if existing is None:
        changed = df
    else:
        changed_keys = (
            sig(df)
            .join(
                sig(existing).withColumnsRenamed({"_n": "_en", "_h": "_eh"}),
                on=partition_by,
                how="left",
            )
            .filter(
                F.col("_en").isNull()
                | (F.col("_en") != F.col("_n"))
                | (F.col("_eh") != F.col("_h"))
            )
            .select(*partition_by)
        )
        changed = df.join(F.broadcast(changed_keys), on=partition_by, how="left_semi")

    return _counted_write(
        spark, changed, target,
        lambda d: replace_partition(spark, d, target, partition_by),
    )


def replace_partition(
    spark: SparkSession,
    df: DataFrame,
    target: str,
    partition_by: list[str],
) -> None:
    """ST3 — replace exactly the partitions present in ``df``.

    Dynamic overwrite is forced per-write (writer option, not session
    conf) so the semantics hold on ANY caller session. This is the safe
    form of the reference's non-atomic ``DELETE FROM t WHERE year= AND
    month=`` + re-append (``weekly_dag.py:132-147``): untouched
    partitions are never rewritten, and each partition swap is a
    directory-level commit.
    """
    writer = (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
    )
    if "/" in target:
        writer.parquet(target)
    else:
        writer.saveAsTable(target)
