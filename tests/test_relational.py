"""Unit tests for operators.relational (SURVEY.md §2.2-2.6)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from sentiment_analysis_data_engineering_spark.operators.relational import (
    add_literal,
    anti_join_new_rows,
    conjunctive_filter,
    multiset_equal,
    n_way_inner_join,
    rename_columns,
    union_all,
)


def test_rename_and_literal(spark):
    df = spark.createDataFrame([(1, "a")], "x int, y string")
    out = add_literal(rename_columns(df, {"x": "id", "y": "name"}), "ticker", "D05.SI")
    assert out.columns == ["id", "name", "ticker"]
    assert out.first().ticker == "D05.SI"


def test_conjunctive_filter(spark):
    df = spark.createDataFrame(
        [(2023, 5, 1), (2023, 6, 1), (2022, 5, 9)], "year int, month int, day int"
    )
    assert conjunctive_filter(df, year=2023, month=5).count() == 1
    assert conjunctive_filter(df, year=2023).count() == 2


def test_union_all_by_name(spark):
    a = spark.createDataFrame([(1, "x")], "id int, v string")
    b = spark.createDataFrame([("y", 2)], "v string, id int")  # swapped order
    out = union_all([a, b])
    assert out.count() == 2
    assert {r.id for r in out.collect()} == {1, 2}


def test_n_way_inner_join(spark):
    dfs = [
        spark.createDataFrame([("2023-01", float(i))], f"date string, v{i} double")
        for i in range(9)
    ]
    wide = n_way_inner_join(dfs, on="date")
    assert len(wide.columns) == 10  # date + 9 values
    assert wide.count() == 1


def test_anti_join_new_rows(spark):
    incoming = spark.createDataFrame(
        [(2023, 5, 1.0), (2023, 6, 2.0), (2023, 7, 3.0)], "year int, month int, v double"
    )
    existing = spark.createDataFrame(
        [(2023, 5, 99.0), (2023, 6, 98.0)], "year int, month int, v double"
    )
    out = anti_join_new_rows(incoming, existing, ["year", "month"])
    assert [(r.year, r.month) for r in out.collect()] == [(2023, 7)]


def test_anti_join_null_incoming_key_is_always_new(spark):
    """The struct-valued key keeps equi-join null semantics: a key with
    a null column never matches, even a stored key with the same null."""
    incoming = spark.createDataFrame(
        [(None, 5, 1.0), (2023, 5, 2.0), (2023, None, 3.0)],
        "year int, month int, v double",
    )
    existing = spark.createDataFrame(
        [(None, 5, 9.0), (2023, 5, 9.0), (2023, None, 9.0)],
        "year int, month int, v double",
    )
    out = anti_join_new_rows(incoming, existing, ["year", "month"])
    assert sorted(r.v for r in out.collect()) == [1.0, 3.0]


def test_anti_join_below_union_plans_one_probe(spark, tmp_path):
    """T2's shape: 9 per-ticker frames with a literal ticker, unioned,
    anti-joined against a stored table. Catalyst pushes the anti join
    into every union branch; the probe must stay one broadcast that the
    other 8 branches reuse, not 9 ticker-filtered probes."""
    stored = str(tmp_path / "fact")
    spark.createDataFrame(
        [(f"T{i}", d) for i in range(9) for d in range(3)],
        "ticker string, day long",
    ).write.parquet(stored)
    frames = [
        spark.createDataFrame([(d,) for d in range(5)], "day long")
        .withColumn("ticker", F.lit(f"T{i}"))
        for i in range(9)
    ]
    out = anti_join_new_rows(
        union_all(frames), spark.read.parquet(stored), ["ticker", "day"]
    )
    assert len(out.collect()) == 9 * 2
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    # a ReusedExchange line names the exchange it reuses, by plan_id
    broadcasts = set(re.findall(r"BroadcastExchange .*\[plan_id=(\d+)\]", final))
    assert len(broadcasts) == 1, final
    assert final.count("ReusedExchange") == 8, final


def test_multiset_equal(spark):
    a = spark.createDataFrame([(1, "x"), (2, "y"), (2, "y")], "id int, v string")
    b = spark.createDataFrame([(2, "y"), (1, "x"), (2, "y")], "id int, v string")
    c = spark.createDataFrame([(1, "x"), (2, "y")], "id int, v string")
    assert multiset_equal(a, b)  # order-insensitive, duplicate-sensitive
    assert not multiset_equal(a, c)


def test_broadcast_join_is_planned(spark, sf_dir):
    """The star join must broadcast the small dimensions, not shuffle them."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    joined = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
