"""Write-path semantics (SURVEY.md §2.9 ST1-ST3) against local parquet."""

from __future__ import annotations

import pyarrow as pa
import pytest

from sentiment_analysis_data_engineering_spark.operators import similarity as sim
from sentiment_analysis_data_engineering_spark.operators.observe import spark_job_count
from sentiment_analysis_data_engineering_spark.sources.io import (
    append,
    idempotent_append,
    local_frame,
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
    n1 = idempotent_append(spark, first, target, ["year", "month"])
    assert n1 == 2
    # second batch half-overlaps on (year, month)
    second = _mk(spark, [(2023, 6, 15, 99.0), (2023, 7, 1, 3.0)])
    n2 = idempotent_append(spark, second, target, ["year", "month"])
    assert n2 == 1  # only (2023, 7) is new
    out = scan(spark, target)
    assert out.count() == 3
    keys = {(r.year, r.month) for r in out.collect()}
    assert keys == {(2023, 5), (2023, 6), (2023, 7)}
    # re-running the same batch appends nothing (idempotence)
    assert idempotent_append(spark, second, target, ["year", "month"]) == 0


def test_idempotent_append_first_write(spark, tmp_table_dir):
    target = str(tmp_table_dir / "t_first")
    n = idempotent_append(spark, _mk(spark, [(2023, 5, 1, 1.0)]), target,
                          ["year", "month"])
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
    must leave no (empty) data file behind."""
    batch = _mk(spark, [(2023, 5, 1, 1.0), (2023, 6, 1, 2.0)])
    target = str(tmp_table_dir / "t_rerun")
    keys = ["year", "month", "day"]
    assert idempotent_append(spark, batch, target, keys) == 2
    files = _data_files(target)
    assert files
    assert idempotent_append(spark, batch, target, keys) == 0
    assert _data_files(target) == files
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
    df = scan(spark, target).filter((F.col("year") == 2023) & (F.col("month") == 5))
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


def _plan_root(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


#: (rows, schema) in every schema the package builds driver-side frames
#: with: T1, T3-T6, T7/T8, the index model and ids, a summary row, the
#: JSON lookup and both fixtures — with empty, None and array cases.
_SITE_CASES = [
    ([('{"rates": {}}', None)], "gold string, oil string"),
    ([("D05.SI", "{}"), (None, '{"a": 1}')], "company string, payload string"),
    ([], "company string, payload string"),
    ([("{}",), (None,)], "payload string"),
    ([(0, [0.5, -1.0]), (1, []), (2, None), (3, [None, 2.0])], sim._CENTROIDS_SCHEMA),
    ([(0, 7, [1.0, 2.5]), (1, 2**31 - 1, None)], sim._CODEBOOKS_SCHEMA),
    ([], sim.CODES_SCHEMA),
    ([(5, [1, None, 255], 3), (2**40, [], None)], sim.CODES_SCHEMA),
    ([(1,), (2**62,), (None,)], "vec_id bigint"),
    ([(3, 15, True, False, None)],
     "n_queries long, n_results long, structure_found_ok boolean, "
     "pruning_informative_ok boolean, recall_floor_ok boolean"),
    ([("index", 40, True, None, False)],
     "segment string, n_vectors long, coverage_ok boolean, "
     "occupancy_skew_ok boolean, residual_drift_ok boolean"),
    ([("gold", '{"p": 2}', "$.p")], "name string, payload string, path string"),
    ([("2023-01-02", 1.5, 2.0, 1.0, 1.25, 1000.0, 0.0, None)],
     "date string, open double, high double, low double, close double, "
     "volume double, dividends double, stock_splits double"),
    ([(0, "clean words", 1), (1, None, None)], "doc_id long, text string, label int"),
]


@pytest.mark.parametrize("rows,schema", _SITE_CASES)
def test_local_frame_equals_the_list_frame_and_runs_no_job(spark, rows, schema):
    """``local_frame`` gives the frame ``createDataFrame(<list>)`` gives —
    same names, types, nullability and rows — as a LocalRelation whose
    collect submits no job (the list frame submits one, with a Python
    task per slice)."""
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert _plan_root(got) == "LocalRelation"
    before = spark_job_count(spark)
    got_rows = got.collect()
    assert spark_job_count(spark) == before
    assert got_rows == want.collect()


@pytest.mark.parametrize(
    "rows,schema",
    [
        ([("x",)], "v bigint"),
        ([(1.5,)], "v bigint"),
        ([(2**40,)], "v int"),
        ([("1.5",)], "v double"),
        ([(1,)], "v boolean"),
        ([(1,)], "v string"),
        ([(["a"],)], "v array<double>"),
        ([([0.5],)], "v array<int>"),
    ],
)
def test_local_frame_refuses_a_wrong_typed_value_before_any_job(spark, rows, schema):
    before = spark_job_count(spark)
    with pytest.raises((pa.ArrowInvalid, pa.ArrowTypeError)):
        local_frame(spark, rows, schema)
    assert spark_job_count(spark) == before


def test_empty_index_codes_frame_is_a_local_relation(spark, tmp_path):
    """A version that serves no cell reads as an empty LocalRelation in
    the codes schema, not as a parallelized empty list."""
    codes = sim._codes_at(spark, str(tmp_path), {"model": "v1-m", "codes": {}})
    assert codes.schema == sim.CODES_SCHEMA
    assert _plan_root(codes) == "LocalRelation"
