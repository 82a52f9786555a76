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
    "scan_csv",
    "scan_jsonl",
    "scan_orc",
    "scan_or_none",
    "append",
    "idempotent_append",
    "merge_upsert",
    "replace_partition",
    "upsert_partitions",
    "write_balanced_shards",
    "write_bucketed",
    "compact_small_files",
    "write_range_sorted",
    "write_zorder_clustered",
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
        _, fs, P = _swap_fs(spark, path_or_table)
        exists = fs.exists(P(path_or_table))
    else:
        exists = spark.catalog.tableExists(path_or_table)
    return scan(spark, path_or_table, schema=schema) if exists else None


def _visible_files(spark: SparkSession, target: str) -> set[str]:
    """Names of the data files directly under a path target (hidden
    ``_``/``.`` entries and directories excluded); empty for a missing
    path or a catalog table."""
    if not _is_path(target):
        return set()
    _, fs, P = _swap_fs(spark, target)
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
        _, fs, P = _swap_fs(spark, target)
        for name in _visible_files(spark, target) - before:
            fs.delete(P(f"{target.rstrip('/')}/{name}"), False)
    return n


def scan_csv(
    spark: SparkSession,
    path: str,
    schema,
    *,
    header: bool = True,
    delimiter: str = ",",
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """CSV source with an EXPLICIT schema — never inference.

    Inference (``inferSchema=true``) reads the data twice and pins
    types to whatever the sample contained; at 100 TB that's a full
    extra pass and a schema that drifts with the data. An explicit
    StructType makes the scan single-pass, keeps column pruning
    available to Catalyst, and routes malformed rows per ``mode``
    (PERMISSIVE → nulls + _corrupt_record if declared, DROPMALFORMED,
    FAILFAST)."""
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("sep", delimiter)
        .option("mode", mode)
        .csv(path)
    )


def scan_orc(
    spark: SparkSession,
    path: str,
    *,
    predicate: Column | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """ORC source with the same pushdown stance as ``scan``: predicate
    and projection are applied on the DataFrame so Catalyst pushes them
    into the ORC reader (PushedFilters / pruned ReadSchema — ORC keeps
    file/stripe/row-group min-max indexes just like parquet), making
    the engine format-portable for warehouses already standardized on
    ORC (Hive lineage) without a conversion pass."""
    df = spark.read.orc(path)
    if predicate is not None:
        df = df.filter(predicate)
    if columns:
        df = df.select(*columns)
    return df


def scan_jsonl(
    spark: SparkSession,
    path: str,
    schema,
    *,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """JSON-lines source with an explicit schema (same stance as
    scan_csv: no inference pass, malformed rows routed per ``mode``).
    Nested fields are declared as StructType/ArrayType and stay
    JVM-side — ``F.col('a.b')`` and ``explode`` work without any
    string re-parsing."""
    return spark.read.schema(schema).option("mode", mode).json(path)


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


def _assert_unique_keys(df: DataFrame, keys: list[str]) -> None:
    """MERGE contract guard: an incoming batch must carry at most one
    row per key. With in-batch duplicates, ``when_matched="replace"``
    would union ALL matched copies into the target — duplicate-key rows
    after a "replace" merge, silently breaking per-key upsert
    semantics. Failing fast with the offending key beats picking a
    winner arbitrarily; callers that want last-write-wins should
    dedupe deterministically (e.g. a row_number window over a version
    column) before merging. One bounded aggregate job (limit 1) on the
    batch side — cardinality-bound by the batch, not the table."""
    dup = df.groupBy(*keys).count().filter(F.col("count") > 1).limit(1).collect()
    if dup:
        key_vals = {k: dup[0][k] for k in keys}
        raise ValueError(
            f"merge_upsert: incoming batch has multiple rows for key {key_vals}; "
            "deduplicate per key (deterministic winner) before merging"
        )


def merge_upsert(
    spark: SparkSession,
    df: DataFrame,
    target: str,
    keys: Iterable[str],
    *,
    partition_by: list[str],
    when_matched: str = "replace",
    when_new: str = "insert",
) -> dict[str, int]:
    """MERGE-on-key upsert: the row-level completion of the write-path
    story (the reference leans on BigQuery ACID for this, README.md:7;
    ``upsert_partitions`` handles whole-partition replacement, this
    handles per-KEY updates and inserts in one call).

    Semantics of ``MERGE INTO target USING df ON keys``:
    - ``when_matched``: "replace" (incoming row supersedes the stored
      row with its key) or "ignore" (stored row wins);
    - ``when_new``: "insert" or "ignore".

    Contract: the incoming batch must have at most ONE row per key —
    enforced (raises ``ValueError`` naming an offending key) because a
    duplicate-key batch under "replace" would land every copy in the
    target. Dedupe deterministically upstream if the source can emit
    multiple versions of a key in one batch.

    Scale shape: only TOUCHED partitions are rewritten — the union of
    (a) partitions the incoming rows land in and (b) partitions whose
    stored rows match an incoming key (so a row whose partition value
    CHANGES is removed from its old partition — no stale duplicate).
    (b) is one key-pruned semi join against the incoming keys; stored
    rows in untouched partitions are never read past their keys, never
    rewritten. The merged result is localCheckpoint-materialized
    before the write because dynamic partition overwrite cannot read
    and replace the same files in one job; its size is bounded by the
    touched partitions, not the table.

    Atomicity: each partition swap is a directory-level commit (same
    guarantee as ``replace_partition``) — a crash mid-job can leave
    SOME touched partitions updated and others not, unlike BigQuery's
    transactional MERGE. A table format with a commit log (Delta,
    Iceberg) slots into this exact seam when multi-partition atomicity
    is required.

    Known limit (inherent to dynamic partition overwrite): a touched
    partition whose rows ALL migrate to other partitions ends up with
    zero output rows, and a zero-row partition cannot be expressed in
    the overwrite — its stale directory survives. Callers moving keys
    across partitions wholesale should follow with an explicit
    partition delete, or use a log-based table format.

    Returns ``{"updated": ..., "inserted": ..., "rows_written": ...}``.
    """
    if when_matched not in ("replace", "ignore"):
        raise ValueError(f"when_matched must be replace|ignore, got {when_matched!r}")
    if when_new not in ("insert", "ignore"):
        raise ValueError(f"when_new must be insert|ignore, got {when_new!r}")
    keys = list(keys)

    existing = scan_or_none(spark, target, schema=df.schema)
    if existing is None:
        if when_new == "ignore":
            return {"updated": 0, "inserted": 0, "rows_written": 0}
        df = df.cache()
        try:
            _assert_unique_keys(df, keys)
            n = df.count()
            if n:
                replace_partition(spark, df, target, partition_by)
        finally:
            df.unpersist()
        return {"updated": 0, "inserted": n, "rows_written": n}

    df = df.cache()
    try:
        _assert_unique_keys(df, keys)
        existing_keys = existing.select(*keys)
        matched = df.join(existing_keys, keys, "left_semi").cache()
        new_rows = df.join(existing_keys, keys, "left_anti").cache()
        try:
            n_matched = matched.count()
            n_new = new_rows.count()

            touched = (
                df.select(*partition_by)
                .unionByName(
                    existing.join(
                        F.broadcast(df.select(*keys).distinct()), keys, "left_semi"
                    ).select(*partition_by)
                )
                .distinct()
            )
            current = existing.join(F.broadcast(touched), partition_by, "left_semi")

            survivors = (
                current.join(F.broadcast(matched.select(*keys).distinct()),
                             keys, "left_anti")
                if when_matched == "replace"
                else current
            )
            out = survivors
            if when_matched == "replace":
                out = out.unionByName(matched)
            if when_new == "insert":
                out = out.unionByName(new_rows)

            # materialize OFF the target files before overwriting them
            out = out.localCheckpoint(eager=True)
            n_written = out.count()
            if n_written:
                replace_partition(spark, out, target, partition_by)
        finally:
            matched.unpersist()
            new_rows.unpersist()
    finally:
        df.unpersist()
    return {
        "updated": n_matched if when_matched == "replace" else 0,
        "inserted": n_new if when_new == "insert" else 0,
        "rows_written": n_written,
    }


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


def write_balanced_shards(
    df: DataFrame,
    path: str,
    *,
    rows_per_shard: int,
    shard_key: str,
    sort_within: list[str] | None = None,
) -> int:
    """Write ``df`` as size-balanced parquet shards — the layout a
    training-data loader wants (uniform files it can stripe across
    readers, no straggler shard 100× the others).

    Shape: hash-repartition on ``shard_key`` into ceil(rows/target)
    partitions (uniform by hash, independent of input skew or file
    layout), optionally sort inside each shard (``sortWithinPartitions``
    — NO global sort barrier), one file per partition capped by
    ``maxRecordsPerFile`` as a hard backstop. Returns the partition
    count it wrote. The count() to size the shards is one cheap
    columnar pass; callers that already know the row count can
    repartition themselves and use plain ``append``.
    """
    n_rows = df.count()
    n_shards = max(1, -(-n_rows // rows_per_shard))
    out = df.repartition(n_shards, F.col(shard_key))
    if sort_within:
        out = out.sortWithinPartitions(*sort_within)
    (
        out.write.mode("overwrite")
        .option("maxRecordsPerFile", rows_per_shard)
        .parquet(path)
    )
    return n_shards


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    bucket_cols: list[str],
    buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist as a bucketed (and optionally sort-bucketed) managed
    table — the co-located-join layout: two tables bucketed on the
    same key with the same bucket count hash-join WITHOUT any
    Exchange, because rows are already grouped by hash(key) % buckets
    on disk. The write pays one shuffle ONCE; every subsequent join
    or aggregation on the bucket key skips its shuffle. At 100 TB
    this converts the nightly fact⋈dim joins from the dominant
    shuffle into a local zip of pre-sorted buckets.
    """
    writer = df.write.mode("overwrite").bucketBy(buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def compact_small_files(
    spark: SparkSession,
    path: str,
    *,
    target_rows_per_file: int,
    shard_key: str,
    partition_by: list[str] | None = None,
) -> dict[str, int]:
    """Rewrite a parquet directory into size-balanced files — the
    table-maintenance step every long-lived 100 TB table needs:
    incremental appends (idempotent_append, streaming sinks) accrete
    many small files, and small files dominate scan cost at scale
    (per-file open/footer overhead, starved vectorized readers,
    scheduler pressure from millions of splits).

    Shape: one columnar count sizes the rewrite, hash-repartition on
    ``shard_key`` balances rows independent of the current (skewed)
    file layout, and the swap goes through the Hadoop FileSystem API
    so the same code path runs on HDFS at scale. The directory swap is
    two renames — atomic per rename on HDFS, NOT atomic end-to-end; on
    object stores or under concurrent readers, compaction belongs
    inside a table format's commit protocol (the reference leans on
    BigQuery for exactly this, README.md:7). Returns before/after file
    counts so callers can assert the win.
    """
    df = spark.read.parquet(path)
    n_rows = df.count()
    n_files = max(1, -(-n_rows // target_rows_per_file))

    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)

    def _count_part_files(p) -> int:
        it = fs.listFiles(p, True)
        n = 0
        while it.hasNext():
            f = it.next()
            if f.getPath().getName().startswith("part-"):
                n += 1
        return n

    # Partitioned tables MUST re-declare their layout or the rewrite
    # silently flattens month=... directories into plain columns and
    # every partition-pruning reader goes dark. Refuse rather than
    # guess: partition directories in the listing require partition_by.
    if partition_by is None:
        it = fs.listStatusIterator(jpath)
        while it.hasNext():
            st = it.next()
            if st.isDirectory() and "=" in st.getPath().getName():
                raise ValueError(
                    f"compact: {path} is partitioned "
                    f"({st.getPath().getName()}/...); pass partition_by "
                    "to preserve the directory layout"
                )
    files_before = _count_part_files(jpath)
    tmp = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__compact_tmp")
    if fs.exists(tmp):  # stale in-flight rewrite from a crashed run
        fs.delete(tmp, True)
    writer = (
        df.repartition(n_files, F.col(shard_key))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", target_rows_per_file)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(str(tmp))
    _swap_install(spark, str(tmp), path)
    return {"files_before": files_before, "files_after": _count_part_files(jpath)}


def write_range_sorted(
    df: DataFrame,
    path: str,
    *,
    cluster_cols: list[str],
    n_files: int,
) -> None:
    """Range-clustered write: rows range-partitioned on
    ``cluster_cols`` then sorted inside each file — the layout that
    makes min/max data-skipping work. Parquet keeps per-row-group
    min/max stats; on a randomly-laid-out table every file spans the
    whole key range and no filter can skip anything, while after a
    range-clustered rewrite each file covers a narrow, disjoint slice
    and a selective predicate touches only the files whose range
    overlaps (the single-dimension form of the Z-order/clustering
    maintenance every lakehouse runs).

    ``repartitionByRange`` samples the key distribution to place
    balanced boundaries (skew-tolerant, one light sampling pass);
    ``sortWithinPartitions`` keeps the sort local — no global sort
    barrier.
    """
    cols = [F.col(c) for c in cluster_cols]
    (
        df.repartitionByRange(n_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def _swap_fs(spark: SparkSession, path: str):
    """(jvm, fs, Path-factory) triple for the Hadoop-FS swap helpers."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, jpath.getFileSystem(hconf), jvm.org.apache.hadoop.fs.Path


def recover_interrupted_swap(spark: SparkSession, path: str) -> bool:
    """Restore ``path`` after a crash between ``_swap_install``'s two
    renames, and clear any stale side directories a crash left behind.

    Invariants the swap protocol maintains: ``path__swap_old`` only
    ever holds the last GOOD version (moved aside immediately before
    install), and ``path__swap_tmp`` only ever holds an in-flight new
    version. So: if ``path`` is missing but ``__swap_old`` exists, the
    crash hit between the renames — rename the old version back (roll
    back; the caller re-applies its batch, which is the replay-safe
    direction for at-least-once sinks). Any remaining side directories
    are stale and deleted so they cannot wedge the NEXT swap's
    move-aside rename (rename onto an existing directory fails on
    POSIX local FS and silently nests on HDFS).

    Returns True if a rollback happened."""
    _, fs, P = _swap_fs(spark, path)
    jpath = P(path)
    old = P(path.rstrip("/") + "__swap_old")
    tmp = P(path.rstrip("/") + "__swap_tmp")
    rolled_back = False
    if not fs.exists(jpath) and fs.exists(old):
        if not fs.rename(old, jpath):
            raise IOError(f"swap recovery: could not restore {path}")
        rolled_back = True
    for stale in (old, tmp):
        if fs.exists(stale):
            fs.delete(stale, True)
    return rolled_back


def _swap_install(spark: SparkSession, tmp_str: str, path: str) -> None:
    """Install the fully-written directory ``tmp_str`` at ``path`` via
    the move-aside / install / rollback rename protocol (each rename
    atomic on HDFS, the pair not atomic end-to-end — a table format's
    commit protocol owns this on object stores). Shared by
    ``overwrite_via_swap`` and ``compact_small_files`` so crash-
    recovery fixes land in one place."""
    _, fs, P = _swap_fs(spark, path)
    jpath = P(path)
    tmp = P(tmp_str)
    old = P(path.rstrip("/") + "__swap_old")
    if not fs.exists(jpath) and fs.exists(old):
        # crash landed between a previous swap's renames: __swap_old is
        # the LAST GOOD copy, not stale garbage — restore it first so a
        # failed install below still leaves a readable table (and so the
        # rollback branch has a source).
        if not fs.rename(old, jpath):
            raise IOError(f"swap: could not restore {path} from old copy")
    if fs.exists(old):  # table present → leftover old copy is stale
        fs.delete(old, True)
    if fs.exists(jpath):
        if not fs.rename(jpath, old):
            raise IOError(f"swap: could not move {path} aside")
    if not fs.rename(tmp, jpath):
        if fs.exists(old):
            fs.rename(old, jpath)  # roll back so the table stays readable
        raise IOError(f"swap: could not install new version at {path}")
    fs.delete(old, True)


def overwrite_via_swap(df: DataFrame, path: str) -> None:
    """Materialize ``df`` and install it at ``path`` even when the plan
    READS from ``path`` — the read-modify-write every self-referential
    maintenance job needs (SCD2 history apply, rollup rebuilds). A
    plain ``mode("overwrite")`` on the source path deletes the input
    under the running scan; instead the new version lands in a side
    directory and ``_swap_install`` renames it in. Callers that may
    resume after a crash (streaming sinks) should call
    ``recover_interrupted_swap`` before READING ``path`` — a crash
    between the two renames leaves the table momentarily missing, and
    reading "missing" as "first run" rebuilds-and-drops history."""
    spark = df.sparkSession
    _, fs, P = _swap_fs(spark, path)
    tmp = path.rstrip("/") + "__swap_tmp"
    if fs.exists(P(tmp)):  # stale in-flight version from a crashed run
        fs.delete(P(tmp), True)
    df.write.mode("overwrite").parquet(tmp)
    _swap_install(spark, tmp, path)


def write_zorder_clustered(
    df: DataFrame,
    path: str,
    *,
    cluster_cols: list[str],
    n_files: int,
    bits_per_col: int = 6,
) -> None:
    """Multi-dimensional Z-order clustered write — the 2-D+ extension
    of :func:`write_range_sorted`. Range clustering on ONE column makes
    that column skippable but leaves every other column spanning the
    full range in every file; interleaving the bits of per-column
    quantile-bucket ranks puts rows that are close in ALL cluster
    columns into the same files, so parquet min/max stats prune scans
    filtered on ANY clustered column (the lakehouse OPTIMIZE ZORDER
    maintenance, engine-side).

    Mechanics:
    1. per column, 2^bits quantile boundaries via ``approxQuantile``
       (one bounded sampling action per column — model-build class;
       quantile bucketing, unlike ``width_bucket``, is skew-tolerant);
    2. bucket rank = count of boundaries ≤ value, a JVM fold over a
       literal boundary array (no Python, no join);
    3. z-value = bit interleave of the ranks (pure integer Column
       arithmetic);
    4. ``repartitionByRange`` on z + local sort — balanced files, no
       global sort barrier, same as the 1-D writer.

    Nulls sort to bucket 0 (lowest) deterministically.
    """
    if len(cluster_cols) < 2:
        raise ValueError("z-order needs >= 2 cluster columns; use "
                         "write_range_sorted for one")
    if not 1 <= bits_per_col <= 16:
        raise ValueError(f"bits_per_col must be in [1, 16], got {bits_per_col}")
    n_buckets = 1 << bits_per_col
    qs = [i / n_buckets for i in range(1, n_buckets)]

    # ONE sampling pass computes every column's boundaries (the
    # multi-column approxQuantile form) — k separate calls would scan
    # the input k times for nothing
    qcols = [f"_q{j}" for j in range(len(cluster_cols))]
    dbl = df.select(
        *[F.col(c).cast("double").alias(q)
          for c, q in zip(cluster_cols, qcols)]
    )
    all_bounds = dbl.approxQuantile(qcols, qs, 0.001)

    rank_cols = []
    for c, bounds in zip(cluster_cols, all_bounds):
        # strictly increasing boundary list: duplicates (heavy hitters
        # spanning quantiles) collapse into one boundary, which only
        # coarsens that bucket — never misorders it
        uniq: list[float] = []
        for b in bounds:
            if not uniq or b > uniq[-1]:
                uniq.append(b)
        barr = F.array(*[F.lit(b) for b in uniq])
        rank = F.size(
            F.filter(barr, lambda b: b <= F.col(c).cast("double"))
        )
        rank_cols.append(
            F.when(F.col(c).isNull(), F.lit(0)).otherwise(rank).cast("long")
        )

    z = F.lit(0).cast("long")
    for bit in range(bits_per_col):
        for j, rank in enumerate(rank_cols):
            z = z + F.shiftleft(
                F.shiftright(rank, bit).bitwiseAND(F.lit(1)),
                bit * len(rank_cols) + j,
            )

    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )
