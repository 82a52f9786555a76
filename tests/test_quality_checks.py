"""Unit tests for data-quality validation gates
(operators/quality_checks.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from sentiment_analysis_data_engineering_spark.operators import quality_checks as qc


def test_null_violations_counts_per_column(spark):
    df = spark.createDataFrame(
        [(1, "a"), (None, "b"), (None, None)], "k long, v string"
    )
    got = {r.column: r.n_null for r in qc.null_violations(df, ["k", "v"]).collect()}
    assert got == {"k": 2, "v": 1}


def test_duplicate_key_count(spark):
    df = spark.createDataFrame(
        [(1, 1), (1, 1), (1, 1), (2, 1), (3, 1), (3, 2)], "a long, b long"
    )
    r = qc.duplicate_key_count(df, ["a", "b"]).first()
    # (1,1) x3 is the only duplicated tuple: 1 dup key, 2 surplus rows
    assert (r.n_duplicate_keys, r.n_surplus_rows) == (1, 2)
    clean = qc.duplicate_key_count(df.distinct(), ["a", "b"]).first()
    assert (clean.n_duplicate_keys, clean.n_surplus_rows) == (0, 0)


def test_orphan_count_includes_null_child_keys(spark):
    child = spark.createDataFrame([(1,), (2,), (99,), (None,)], "fk long")
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    r = qc.orphan_count(child, parent, child_key="fk", parent_key="pk").first()
    assert r.n_orphans == 2  # 99 has no parent; NULL can never join one


def test_range_violations_nulls_fail_the_gate(spark):
    df = spark.createDataFrame([(5,), (50,), (None,), (-1,)], "x long")
    got = {
        r.check: r.n_violations
        for r in qc.range_violations(
            df, {"x_nonneg": F.col("x") >= 0, "x_small": F.col("x") < 10}
        ).collect()
    }
    assert got == {"x_nonneg": 2, "x_small": 2}  # null fails both


def test_quality_summary_flattens_named_frames(spark):
    a = spark.createDataFrame([(3, 4)], "m long, n long")
    b = spark.createDataFrame([(7,)], "z long")
    got = {r.check: r.value for r in qc.quality_summary({"t1": a, "t2": b}).collect()}
    assert got == {"t1.m": 3, "t1.n": 4, "t2.z": 7}


def test_gate_names_may_contain_dots(spark):
    df = spark.createDataFrame([(1,), (None,)], "k long")
    got = {r.check: r.n_violations for r in qc.range_violations(
        df, {"lineitem.range.k": F.col("k") >= 0}).collect()}
    assert got == {"lineitem.range.k": 1}
    nulls = {r.column: r.n_null for r in qc.null_violations(df, ["k"]).collect()}
    assert nulls == {"k": 1}


def test_quality_summary_empty_parts_raises(spark):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one"):
        qc.quality_summary({})
