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


def test_scan_csv_explicit_schema_roundtrip(spark, tmp_path):
    from pyspark.sql import types as T
    from sentiment_analysis_data_engineering_spark.sources.io import scan_csv

    p = tmp_path / "in.csv"
    p.write_text("id,name,score\n1,ada,9.5\n2,linus,8.25\nbad,row,NOTNUM\n")
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ])
    df = scan_csv(spark, str(p), schema)
    rows = sorted(df.collect(), key=lambda r: (r.id is None, r.id or 0))
    assert (rows[0].id, rows[0].name, rows[0].score) == (1, "ada", 9.5)
    # PERMISSIVE: malformed numeric fields become nulls, row survives
    assert rows[-1].id is None and rows[-1].score is None
    assert df.schema == schema


def test_scan_jsonl_nested_schema(spark, tmp_path):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from sentiment_analysis_data_engineering_spark.sources.io import scan_jsonl

    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"id": 1, "meta": {"lang": "en", "tags": ["a", "b"]}}\n'
        '{"id": 2, "meta": {"lang": "de", "tags": []}}\n'
    )
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("meta", T.StructType([
            T.StructField("lang", T.StringType()),
            T.StructField("tags", T.ArrayType(T.StringType())),
        ])),
    ])
    df = scan_jsonl(spark, str(p), schema)
    got = {r.id: (r.lang, r.n) for r in df.select(
        "id", F.col("meta.lang").alias("lang"), F.size("meta.tags").alias("n")
    ).collect()}
    assert got == {1: ("en", 2), 2: ("de", 0)}


def test_write_balanced_shards(spark, tmp_path):
    import glob
    from sentiment_analysis_data_engineering_spark.sources.io import write_balanced_shards

    df = spark.range(0, 10_000).withColumnRenamed("id", "doc_id")
    n = write_balanced_shards(
        df, str(tmp_path / "shards"), rows_per_shard=1000,
        shard_key="doc_id", sort_within=["doc_id"],
    )
    assert n == 10
    files = glob.glob(str(tmp_path / "shards" / "*.parquet"))
    # one file per shard, plus maxRecordsPerFile splits where the hash
    # put a partition slightly over target — never more than 2x
    assert 10 <= len(files) <= 20
    back = spark.read.parquet(str(tmp_path / "shards"))
    assert back.count() == 10_000
    # the hard cap holds per file
    import pyspark.sql.functions as F
    per_file = [
        r.c
        for r in back.groupBy(F.input_file_name().alias("f"))
        .agg(F.count("*").alias("c"))
        .collect()
    ]
    assert max(per_file) <= 1000


def test_bucketed_tables_join_without_shuffle(spark, sf_dir):
    from pyspark.sql import functions as F
    from sentiment_analysis_data_engineering_spark.plans.registry import load_tables
    from sentiment_analysis_data_engineering_spark.sources.io import write_bucketed

    # a fresh session may not know tables whose warehouse dirs survived
    # a previous run — drop both name and location before writing
    import shutil
    for t in ("t_li_bucketed", "t_ord_bucketed"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        loc = f"/root/repo/spark-warehouse/{t}"
        shutil.rmtree(loc, ignore_errors=True)

    lineitem, orders = load_tables(spark, sf_dir, "lineitem", "orders")
    write_bucketed(
        lineitem.select("l_orderkey", "l_extendedprice"),
        "t_li_bucketed", bucket_cols=["l_orderkey"], buckets=8,
        sort_cols=["l_orderkey"],
    )
    write_bucketed(
        orders.select("o_orderkey", "o_orderdate"),
        "t_ord_bucketed", bucket_cols=["o_orderkey"], buckets=8,
        sort_cols=["o_orderkey"],
    )
    li = spark.table("t_li_bucketed")
    od = spark.table("t_ord_bucketed")
    joined = li.join(
        od.hint("merge"), li.l_orderkey == od.o_orderkey
    ).groupBy("o_orderdate").agg(F.sum("l_extendedprice").alias("rev"))
    joined.collect()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # the join consumes the bucketed scans directly: no join-key exchange
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan


# --------------------------------------------------------------------------
# merge_upsert: MERGE-on-key completion of the write-path story (round 2)
# --------------------------------------------------------------------------


def _merge_fixture(spark, tmp_path, name):
    from sentiment_analysis_data_engineering_spark.sources.io import replace_partition

    target = str(tmp_path / name)
    base = spark.createDataFrame(
        [(1, "2024-01", "a", 10.0), (2, "2024-01", "b", 20.0),
         (3, "2024-02", "c", 30.0), (4, "2024-02", "d", 40.0)],
        "id long, month string, name string, value double",
    )
    replace_partition(spark, base, target, ["month"])
    return target


def _read(spark, target):
    from pyspark.sql import functions as F

    return {
        r.id: (r.month, r.name, r.value)
        for r in spark.read.parquet(target)
        .withColumn("month", F.col("month").cast("string")).collect()
    }


def test_merge_upsert_update_and_insert_one_call(spark, tmp_path):
    from sentiment_analysis_data_engineering_spark.sources.io import merge_upsert

    target = _merge_fixture(spark, tmp_path, "merge1")
    batch = spark.createDataFrame(
        [(2, "2024-01", "b2", 21.0),     # update existing key
         (5, "2024-02", "e", 50.0)],     # brand-new key
        "id long, month string, name string, value double",
    )
    stats = merge_upsert(spark, batch, target, ["id"], partition_by=["month"])
    # both partitions are touched (update in 01, insert into 02), so all
    # 3 surviving stored rows rewrite alongside the 2 incoming rows
    assert stats == {"updated": 1, "inserted": 1, "rows_written": 5}
    got = _read(spark, target)
    assert got[2] == ("2024-01", "b2", 21.0)          # updated in place
    assert got[5] == ("2024-02", "e", 50.0)           # inserted
    assert got[1] == ("2024-01", "a", 10.0)           # untouched neighbors
    assert got[3] == ("2024-02", "c", 30.0) and len(got) == 5


def test_merge_upsert_key_moves_partition(spark, tmp_path):
    from sentiment_analysis_data_engineering_spark.sources.io import merge_upsert

    target = _merge_fixture(spark, tmp_path, "merge2")
    batch = spark.createDataFrame(
        [(2, "2024-03", "b-moved", 22.0)],  # key 2 moves 2024-01 → 2024-03
        "id long, month string, name string, value double",
    )
    stats = merge_upsert(spark, batch, target, ["id"], partition_by=["month"])
    assert stats["updated"] == 1 and stats["inserted"] == 0
    got = _read(spark, target)
    assert got[2] == ("2024-03", "b-moved", 22.0)
    # the OLD partition no longer carries the moved key (no stale dup)
    assert len(got) == 4


def test_merge_upsert_matched_ignore_keeps_stored_rows(spark, tmp_path):
    from sentiment_analysis_data_engineering_spark.sources.io import merge_upsert

    target = _merge_fixture(spark, tmp_path, "merge3")
    batch = spark.createDataFrame(
        [(2, "2024-01", "CLOBBER", 99.0), (6, "2024-01", "f", 60.0)],
        "id long, month string, name string, value double",
    )
    stats = merge_upsert(spark, batch, target, ["id"],
                         partition_by=["month"], when_matched="ignore")
    # only 2024-01 is touched: its 2 stored rows + the 1 insert rewrite
    assert stats == {"updated": 0, "inserted": 1, "rows_written": 3}
    got = _read(spark, target)
    assert got[2] == ("2024-01", "b", 20.0)   # stored row won
    assert got[6] == ("2024-01", "f", 60.0)


def test_merge_upsert_first_write_creates_target(spark, tmp_path):
    from sentiment_analysis_data_engineering_spark.sources.io import merge_upsert

    target = str(tmp_path / "merge4")
    batch = spark.createDataFrame(
        [(1, "2024-01", "a", 1.0)],
        "id long, month string, name string, value double",
    )
    stats = merge_upsert(spark, batch, target, ["id"], partition_by=["month"])
    assert stats == {"updated": 0, "inserted": 1, "rows_written": 1}
    assert _read(spark, target) == {1: ("2024-01", "a", 1.0)}


def test_merge_upsert_untouched_partition_files_not_rewritten(spark, tmp_path):
    import os
    from sentiment_analysis_data_engineering_spark.sources.io import merge_upsert

    target = _merge_fixture(spark, tmp_path, "merge5")
    feb = os.path.join(target, "month=2024-02")
    before = {f: os.path.getmtime(os.path.join(feb, f))
              for f in os.listdir(feb) if f.endswith(".parquet")}
    batch = spark.createDataFrame(
        [(1, "2024-01", "a2", 11.0)],
        "id long, month string, name string, value double",
    )
    merge_upsert(spark, batch, target, ["id"], partition_by=["month"])
    after = {f: os.path.getmtime(os.path.join(feb, f))
             for f in os.listdir(feb) if f.endswith(".parquet")}
    assert before == after  # 2024-02 untouched on disk


def test_merge_upsert_rejects_duplicate_key_batch(spark, tmp_path):
    """Contract guard: a batch with two rows for one key must raise —
    under "replace" both copies would otherwise land in the target."""
    import pytest

    from sentiment_analysis_data_engineering_spark.sources.io import merge_upsert

    target = _merge_fixture(spark, tmp_path, "merge6")
    dup_batch = spark.createDataFrame(
        [(2, "2024-01", "v1", 1.0), (2, "2024-01", "v2", 2.0)],
        "id long, month string, name string, value double",
    )
    with pytest.raises(ValueError, match="multiple rows for key"):
        merge_upsert(spark, dup_batch, target, ["id"], partition_by=["month"])
    # target unchanged
    assert len(_read(spark, target)) == 4

    # fresh-target path enforces the same contract
    with pytest.raises(ValueError, match="multiple rows for key"):
        merge_upsert(spark, dup_batch, str(tmp_path / "merge6_new"),
                     ["id"], partition_by=["month"])


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
    assert catalog.list_tables(spark, db) == ["t1"]

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


def test_compact_small_files(spark, tmp_path):
    from pyspark.sql import functions as F

    from sentiment_analysis_data_engineering_spark.sources.io import compact_small_files

    path = str(tmp_path / "frag")
    df = spark.range(1000).withColumn("k", F.col("id") % 7)
    df.repartition(40).write.parquet(path)  # fragment: 40 tiny files

    stats = compact_small_files(
        spark, path, target_rows_per_file=500, shard_key="id"
    )
    assert stats["files_before"] >= 40
    assert stats["files_after"] <= 3  # ceil(1000/500) + maxRecordsPerFile slack

    out = spark.read.parquet(path)
    assert out.count() == 1000
    assert out.agg(F.sum("id")).first()[0] == 499500  # content preserved
    assert not (tmp_path / "frag__compact_tmp").exists()
    assert not (tmp_path / "frag__compact_old").exists()


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


def test_scan_orc_roundtrip_with_pushdown(spark, tmp_path):
    from pyspark.sql import functions as F

    from sentiment_analysis_data_engineering_spark.sources.io import scan_orc

    p = str(tmp_path / "t_orc")
    spark.range(100).withColumn("k", F.col("id") % 4).write.orc(p)
    df = scan_orc(spark, p, predicate=F.col("k") == 1, columns=["id"])
    assert df.columns == ["id"]
    assert df.count() == 25
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "IsNotNull(k)" in plan


def test_write_range_sorted_files_cover_disjoint_ranges(spark, tmp_path):
    from pyspark.sql import functions as F

    from sentiment_analysis_data_engineering_spark.sources.io import write_range_sorted

    path = str(tmp_path / "t_clustered")
    # shuffled input: every file would span the whole range if written as-is
    df = spark.range(10_000).withColumn("key", (F.col("id") * 7919) % 10_000)
    write_range_sorted(df, path, cluster_cols=["key"], n_files=8)

    back = spark.read.parquet(path)
    assert back.count() == 10_000
    spans = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(F.min("key").alias("lo"), F.max("key").alias("hi"))
        .collect()
    )
    assert len(spans) == 8
    ordered = sorted((r.lo, r.hi) for r in spans)
    for (lo1, hi1), (lo2, hi2) in zip(ordered, ordered[1:]):
        assert hi1 < lo2  # disjoint → min/max stats actually skip files


def test_compact_refuses_partitioned_without_layout(spark, tmp_path):
    from pyspark.sql import functions as F

    import pytest as _pytest

    from sentiment_analysis_data_engineering_spark.sources.io import compact_small_files

    path = str(tmp_path / "part_frag")
    df = spark.range(400).withColumn("m", F.col("id") % 2)
    df.repartition(10).write.partitionBy("m").parquet(path)

    with _pytest.raises(ValueError, match="partition_by"):
        compact_small_files(spark, path, target_rows_per_file=200, shard_key="id")

    stats = compact_small_files(
        spark, path, target_rows_per_file=200, shard_key="id", partition_by=["m"]
    )
    assert stats["files_after"] < stats["files_before"]
    back = spark.read.parquet(path)
    assert back.count() == 400
    # partition directories preserved -> pruning still works
    import glob
    assert glob.glob(str(tmp_path / "part_frag" / "m=*"))


def test_swap_recovery_restores_after_mid_swap_crash(spark, tmp_path):
    """Simulated crash between the swap's two renames: the table dir is
    missing and only __swap_old (last good version) exists. Recovery
    must restore it, clear the side dirs, and the next swap must work."""
    import os

    from sentiment_analysis_data_engineering_spark.sources.io import (
        overwrite_via_swap,
        recover_interrupted_swap,
    )

    path = str(tmp_path / "tbl")
    spark.range(10).write.parquet(path)
    # crash simulation: move the table aside exactly as _swap_install
    # does, plus a stale half-written tmp
    os.rename(path, path + "__swap_old")
    os.makedirs(path + "__swap_tmp")
    assert recover_interrupted_swap(spark, path) is True
    assert spark.read.parquet(path).count() == 10
    assert not os.path.exists(path + "__swap_old")
    assert not os.path.exists(path + "__swap_tmp")
    # and a stale __swap_old must not wedge the next overwrite
    os.makedirs(path + "__swap_old")
    overwrite_via_swap(spark.range(5), path)
    assert spark.read.parquet(path).count() == 5
    assert not os.path.exists(path + "__swap_old")


def test_swap_recovery_noop_when_table_healthy(spark, tmp_path):
    from sentiment_analysis_data_engineering_spark.sources.io import recover_interrupted_swap

    path = str(tmp_path / "tbl")
    spark.range(7).write.parquet(path)
    assert recover_interrupted_swap(spark, path) is False
    assert spark.read.parquet(path).count() == 7


def test_write_zorder_clusters_both_dimensions(spark, tmp_path):
    import random

    from pyspark.sql import functions as F

    from sentiment_analysis_data_engineering_spark.sources.io import (
        write_range_sorted,
        write_zorder_clustered,
    )

    rng = random.Random(23)
    rows = [(rng.random(), rng.random()) for _ in range(20_000)]
    df = spark.createDataFrame(rows, "x double, y double").repartition(8)

    zpath = str(tmp_path / "zorder")
    write_zorder_clustered(df, zpath, cluster_cols=["x", "y"], n_files=16)

    def file_spans(path):
        got = (
            spark.read.parquet(path)
            .withColumn("f", F.input_file_name())
            .groupBy("f")
            .agg(
                (F.max("x") - F.min("x")).alias("xs"),
                (F.max("y") - F.min("y")).alias("ys"),
            )
            .collect()
        )
        xs = sum(r.xs for r in got) / len(got)
        ys = sum(r.ys for r in got) / len(got)
        return xs, ys, len(got)

    zx, zy, nz = file_spans(zpath)
    assert nz > 4
    # z-order: BOTH dimensions clustered — each file covers a fraction
    # of each axis (16 files = 4 z-bits = 2 bits/dim -> ~1/4 spans;
    # allow generous slack for quantile-boundary fuzz)
    assert zx < 0.6 and zy < 0.6

    # contrast: 1-D range clustering nails x but leaves y full-range
    rpath = str(tmp_path / "range1d")
    write_range_sorted(df, rpath, cluster_cols=["x"], n_files=16)
    rx, ry, _ = file_spans(rpath)
    assert rx < 0.15 and ry > 0.9
    # and the z-layout beats 1-D on the NEGLECTED dimension
    assert zy < ry / 2


def test_write_zorder_validates_args(spark):
    import pytest

    from sentiment_analysis_data_engineering_spark.sources.io import (
        write_zorder_clustered,
    )

    df = spark.createDataFrame([(1.0, 2.0)], "x double, y double")
    with pytest.raises(ValueError, match="2 cluster columns"):
        write_zorder_clustered(df, "/tmp/nope", cluster_cols=["x"], n_files=4)
    with pytest.raises(ValueError, match="bits_per_col"):
        write_zorder_clustered(
            df, "/tmp/nope", cluster_cols=["x", "y"], n_files=4, bits_per_col=0
        )
