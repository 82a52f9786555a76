"""Write-path semantics (SURVEY.md §2.9 ST1-ST3) against local parquet."""

from __future__ import annotations

from sentiment_analysis_data_engineering_spark.sources.io import (
    append,
    idempotent_append,
    replace_partition,
    scan,
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "year long, month long, day long, v double")


def test_append_and_scan(spark, tmp_table_dir):
    target = str(tmp_table_dir / "t_append")
    append(_mk(spark, [(2023, 5, 1, 1.0)]), target, partition_by=["year", "month"])
    append(_mk(spark, [(2023, 6, 1, 2.0)]), target, partition_by=["year", "month"])
    assert scan(spark, target).count() == 2


def test_idempotent_append_skips_existing_keys(spark, tmp_table_dir):
    """ST1/ST2 — the anti-join dedup writer replacing the reference's
    per-row probe loop (weekly_dag.py:420-432)."""
    target = str(tmp_table_dir / "t_idem")
    first = _mk(spark, [(2023, 5, 1, 1.0), (2023, 6, 1, 2.0)])
    n1 = idempotent_append(spark, first, target, ["year", "month"],
                           partition_by=["year", "month"])
    assert n1 == 2
    # second batch half-overlaps on (year, month)
    second = _mk(spark, [(2023, 6, 15, 99.0), (2023, 7, 1, 3.0)])
    n2 = idempotent_append(spark, second, target, ["year", "month"],
                           partition_by=["year", "month"])
    assert n2 == 1  # only (2023, 7) is new
    out = scan(spark, target)
    assert out.count() == 3
    keys = {(r.year, r.month) for r in out.collect()}
    assert keys == {(2023, 5), (2023, 6), (2023, 7)}
    # re-running the same batch appends nothing (idempotence)
    assert idempotent_append(spark, second, target, ["year", "month"],
                             partition_by=["year", "month"]) == 0


def test_idempotent_append_first_write(spark, tmp_table_dir):
    target = str(tmp_table_dir / "t_first")
    n = idempotent_append(spark, _mk(spark, [(2023, 5, 1, 1.0)]), target,
                          ["year", "month"], partition_by=["year", "month"])
    assert n == 1
    assert scan(spark, target).count() == 1


def _data_files(root):
    import os

    return sorted(
        os.path.join(d, f) for d, _, fs in os.walk(root)
        for f in fs if f.endswith(".parquet")
    )


def test_idempotent_append_rerun_adds_no_file(spark, tmp_table_dir):
    """Re-running a batch that is already stored writes zero rows and
    must leave no (empty) data file behind — on a partitioned target
    and on an unpartitioned one, whose writer commits a file from its
    first task even when that task has no rows (the streaming replay
    sink appends unpartitioned on every micro-batch)."""
    batch = _mk(spark, [(2023, 5, 1, 1.0), (2023, 6, 1, 2.0)])
    for name, partition_by in (("t_rerun_part", ["year", "month"]),
                               ("t_rerun_flat", None)):
        target = str(tmp_table_dir / name)
        keys = ["year", "month", "day"]
        assert idempotent_append(spark, batch, target, keys,
                                 partition_by=partition_by) == 2
        files = _data_files(target)
        assert files
        assert idempotent_append(spark, batch, target, keys,
                                 partition_by=partition_by) == 0
        assert _data_files(target) == files, name
        assert scan(spark, target).count() == 2


def test_replace_partition_touches_only_incoming(spark, tmp_table_dir):
    """ST3 — dynamic partition overwrite as the safe form of the
    reference's DELETE+append upsert (weekly_dag.py:131-147)."""
    target = str(tmp_table_dir / "t_replace")
    base = _mk(spark, [(2023, 5, 1, 1.0), (2023, 5, 2, 1.5), (2023, 6, 1, 2.0)])
    append(base, target, partition_by=["year", "month"])
    incoming = _mk(spark, [(2023, 5, 9, 42.0)])
    replace_partition(spark, incoming, target, ["year", "month"])
    out = scan(spark, target).collect()
    by_key = {(r.year, r.month, r.day): r.v for r in out}
    # (2023,5) replaced wholesale; (2023,6) untouched
    assert by_key == {(2023, 5, 9): 42.0, (2023, 6, 1): 2.0}


def test_scan_predicate_pushdown(spark, tmp_table_dir):
    """Predicates reach the scan as partition filters, not post-filters."""
    from pyspark.sql import functions as F

    target = str(tmp_table_dir / "t_pushdown")
    append(_mk(spark, [(2023, 5, 1, 1.0), (2023, 6, 1, 2.0)]), target,
           partition_by=["year", "month"])
    df = scan(spark, target, predicate=(F.col("year") == 2023) & (F.col("month") == 5))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert df.count() == 1


def test_ddl_round_trip(spark, tmp_path):
    """S7-S9 — the full catalog verb set the reference imports
    (daily_dag.py:10-23): CREATE dataset/table, GET tables, UPDATE
    schema (add columns), DELETE table/dataset."""
    from pyspark.sql import types as T

    from sentiment_analysis_data_engineering_spark import catalog

    db = "ddl_rt"
    catalog.create_database(spark, db)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("v", T.DoubleType(), True),
        ]
    )
    catalog.create_table(
        spark, f"{db}.t1", schema, location=str(tmp_path / "t1")
    )
    # a session temp view is not a table of the database
    spark.range(1).createOrReplaceTempView("t_ddl_rt_view")
    assert catalog.list_tables(spark, db) == ["t1"]
    spark.catalog.dropTempView("t_ddl_rt_view")

    catalog.alter_table_add_columns(
        spark,
        f"{db}.t1",
        T.StructType([T.StructField("tag", T.StringType(), True)]),
    )
    assert [f.name for f in spark.table(f"{db}.t1").schema.fields] == [
        "id", "v", "tag",
    ]

    catalog.drop_table(spark, f"{db}.t1")
    assert catalog.list_tables(spark, db) == []
    catalog.drop_database(spark, db)
    assert db not in [r.namespace for r in spark.sql("SHOW DATABASES").collect()]


def test_analyze_table_records_stats(spark):
    from pyspark.sql import functions as F

    from sentiment_analysis_data_engineering_spark import catalog

    db = "t_stats_db"
    catalog.create_database(spark, db)
    spark.range(500).withColumn("k", F.col("id") % 9).write.mode(
        "overwrite").saveAsTable(f"{db}.t_stats")
    got = catalog.analyze_table(spark, f"{db}.t_stats", columns=["id", "k"])
    assert got["rows"] == 500 and got["bytes"] > 0
    catalog.drop_table(spark, f"{db}.t_stats")
    catalog.drop_database(spark, db)
