"""operators/profile.py: one-pass table profiling."""

from __future__ import annotations

from sentiment_analysis_data_engineering_spark.operators.profile import profile_table


def _as_dict(df) -> dict[tuple[str, str], str]:
    return {(r.col_name, r.metric): r.value for r in df.collect()}


def test_profile_hand_computed(spark):
    df = spark.createDataFrame(
        [
            (1, 2.5, "aa", None),
            (2, None, "bbb", None),
            (2, 7.5, None, None),
        ],
        "k long, x double, s string, z string",
    )
    got = _as_dict(profile_table(df))
    assert got[("_table", "n_rows")] == "3"
    assert got[("k", "n_null")] == "0"
    assert got[("k", "n_distinct")] == "2"
    assert got[("k", "min")] == "1"
    assert got[("k", "max")] == "2"
    assert got[("k", "mean")] == "1.666667"
    assert got[("x", "n_null")] == "1"
    assert got[("x", "min")] == "2.500000"
    assert got[("x", "max")] == "7.500000"
    assert got[("x", "mean")] == "5.000000"
    assert got[("s", "n_null")] == "1"
    assert got[("s", "min")] == "aa"
    assert got[("s", "max")] == "bbb"
    assert got[("s", "avg_len")] == "2.500000"  # (2 + 3) / 2, nulls skipped
    # all-null column: distinct 0, no min/max beyond the base metrics
    assert got[("z", "n_null")] == "3"
    assert got[("z", "n_distinct")] == "0"
    assert got[("z", "min")] is None


def test_profile_timestamp_formatting(spark):
    df = spark.createDataFrame(
        [("2021-03-04 05:06:07",), ("2020-01-01 00:00:00",)], "t string"
    ).selectExpr("CAST(t AS TIMESTAMP) AS t")
    got = _as_dict(profile_table(df))
    assert got[("t", "min")] == "2020-01-01 00:00:00"
    assert got[("t", "max")] == "2021-03-04 05:06:07"


def test_profile_scan_counts_and_no_sort_agg(spark):
    df = spark.range(100).selectExpr("id AS k", "CAST(id AS DOUBLE) AS x")
    # exactly TWO column-pruned subtrees (base metrics + the distinct
    # pair path) and NO SortAggregate/Expand anywhere — the failure
    # mode this layout exists to avoid
    plan = profile_table(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Range (0, 100") == 2
    assert "SortAggregate" not in plan
    assert "Expand" not in plan


def test_profile_negative_zero_and_complex_types(spark):
    # -0.0 and 0.0 are ONE distinct value (matching count_distinct and
    # SQL engines); complex-typed columns fall back to approx distinct
    # (exact string casts are non-injective there) and the two arrays
    # below really are two values
    df = spark.createDataFrame(
        [(0.0, ["a, b"]), (-0.0, ["a", "b"]), (1.5, ["a", "b"])],
        "x double, arr array<string>",
    )
    got = _as_dict(profile_table(df))
    assert got[("x", "n_distinct")] == "2"
    assert got[("arr", "n_distinct")] == "2"
