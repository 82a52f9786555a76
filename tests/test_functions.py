"""Unit tests for the scalar layer (SURVEY.md §2.8 F1-F9)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from sentiment_analysis_data_engineering_spark.functions.scalar import (
    coalesce_default,
    decompose_date,
    json_path,
    parse_unit_suffixed,
    safe_cast,
    today_parts,
)


def test_decompose_date(spark):
    df = spark.createDataFrame([("2023-05-12",)], "d string").select(
        F.to_date("d").alias("d")
    )
    out = decompose_date(df, "d")
    row = out.first()
    assert (row.year, row.month, row.day) == (2023, 5, 12)
    assert "d" not in out.columns
    assert dict(out.dtypes) == {"year": "bigint", "month": "bigint", "day": "bigint"}


def test_safe_cast_null_on_failure(spark):
    """Pinned semantics: failing cast -> NULL (pandas astype would raise)."""
    df = spark.createDataFrame([("12",), ("not_a_number",), (None,)], "s string")
    out = df.select(safe_cast("s", "long").alias("v")).collect()
    assert [r.v for r in out] == [12, None, None]


def test_coalesce_default(spark):
    df = spark.createDataFrame([(None,), (3.5,)], "v double")
    out = df.select(coalesce_default("v", 0.0).alias("v")).collect()
    assert sorted(r.v for r in out) == [0.0, 3.5]


def test_parse_unit_suffixed(spark):
    cases = [
        ("13.9B", 13.9e9),   # the reference's market-cap case (weekly_dag.py:313)
        ("3.4M", 3.4e6),
        ("250K", 250e3),
        ("1.5T", 1.5e12),
        ("915", 915.0),      # bare number
        ("2.5k", 2.5e3),     # lower-case suffix
    ]
    df = spark.createDataFrame([(s,) for s, _ in cases], "s string")
    out = {r.s: r.v for r in df.select("s", parse_unit_suffixed("s").alias("v")).collect()}
    for s, expected in cases:
        assert math.isclose(out[s], expected), (s, out[s], expected)


def test_parse_unit_suffixed_garbage_is_null(spark):
    df = spark.createDataFrame([("N/A",), ("",)], "s string")
    out = df.select(parse_unit_suffixed("s").alias("v")).collect()
    assert all(r.v is None for r in out)


def test_json_path(spark):
    df = spark.createDataFrame(
        [('{"data": {"price": 71.2}, "rates": {"SGD": 1.34}}',)], "j string"
    )
    row = df.select(
        json_path("j", "data.price").cast("double").alias("price"),
        json_path("j", "$.rates.SGD").cast("double").alias("sgd"),
        json_path("j", "$.missing").alias("gone"),
    ).first()
    assert row.price == 71.2 and row.sgd == 1.34 and row.gone is None


def test_today_parts_injected(spark):
    parts = today_parts("2024-06-15")
    row = spark.range(1).select(
        parts["year"].alias("y"), parts["month"].alias("m"), parts["day"].alias("d")
    ).first()
    assert (row.y, row.m, row.d) == (2024, 6, 15)
