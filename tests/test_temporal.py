"""Unit tests for as-of and range joins (operators/temporal.py)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _ts(s):
    return f"2024-01-01 {s}"


def _events(spark, rows):
    df = spark.createDataFrame(rows, "id long, user long, ts string")
    return df.select("id", "user", F.col("ts").cast("timestamp").alias("ts"))


def test_as_of_join_backward_inclusive(spark):
    from sentiment_analysis_data_engineering_spark.operators.temporal import as_of_join

    left = _events(spark, [
        (1, 1, _ts("10:00:00")),
        (2, 1, _ts("10:30:00")),
        (3, 1, _ts("09:00:00")),   # before any right row
        (4, 2, _ts("10:00:00")),   # other user
    ])
    right = _events(spark, [
        (100, 1, _ts("09:30:00")),
        (101, 1, _ts("10:30:00")),  # equal-ts: must match (inclusive)
        (102, 2, _ts("09:59:59")),
    ]).select("user", "ts")

    out = as_of_join(left, right, ts="ts", by=["user"], right_value_cols=[])
    got = {r.id: (r.matched["_rts"].strftime("%H:%M:%S") if r.matched else None)
           for r in out.collect()}
    assert got == {1: "09:30:00", 2: "10:30:00", 3: None, 4: "09:59:59"}


def test_as_of_join_tolerance(spark):
    from sentiment_analysis_data_engineering_spark.operators.temporal import as_of_join

    left = _events(spark, [(1, 1, _ts("10:00:00"))])
    right = _events(spark, [(100, 1, _ts("08:00:00"))]).select("user", "ts")
    out = as_of_join(
        left, right, ts="ts", by=["user"], right_value_cols=[],
        tolerance_seconds=3600,
    ).first()
    assert out.matched is None  # 2h gap exceeds 1h tolerance


def test_range_join_buckets_matches_inequality_join(spark, sf_dir, monkeypatch):
    """Bucketized range join ≡ plain inequality join on real data, with
    buckets narrower than a window so windows span several."""
    from sentiment_analysis_data_engineering_spark.operators import temporal
    from sentiment_analysis_data_engineering_spark.operators.temporal import (
        range_join_buckets,
    )
    from sentiment_analysis_data_engineering_spark.plans.registry import load_tables

    (events,) = load_tables(spark, sf_dir, "events")
    windows = (
        events.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("window_id"),
            "user_id",
            F.col("ts").alias("win_start"),
            (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("win_end"),
        )
    )
    monkeypatch.setattr(temporal, "RANGE_BUCKET_SECONDS", 700)
    bucketed = range_join_buckets(
        events.select("user_id", "ts"), windows,
        by=["user_id"], event_ts="ts",
        win_start="win_start", win_end="win_end",
    ).select("window_id", "ts")
    plain = (
        events.select("user_id", "ts").alias("e")
        .join(windows.alias("w"), (F.col("e.user_id") == F.col("w.user_id"))
              & (F.col("e.ts") >= F.col("w.win_start"))
              & (F.col("e.ts") <= F.col("w.win_end")))
        .select("window_id", "e.ts")
    )
    assert bucketed.exceptAll(plain).isEmpty()
    assert plain.exceptAll(bucketed).isEmpty()


def test_asof_join_forward_direction(spark):
    from datetime import datetime

    from pyspark.sql import functions as F
    from sentiment_analysis_data_engineering_spark.operators.temporal import as_of_join

    t = lambda m: datetime(2024, 1, 1, 10, m, 0)
    left = spark.createDataFrame(
        [(1, t(10)), (1, t(30)), (2, t(5))], "k long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, t(10), "exact"), (1, t(25), "later"), (2, t(0), "before")],
        "k long, ts timestamp, tag string",
    )
    out = as_of_join(
        left, right, ts="ts", by=["k"], right_value_cols=["tag"],
        direction="forward",
    )
    got = {(r.k, r.ts.minute): (r.matched.tag if r.matched else None)
           for r in out.collect()}
    assert got[(1, 10)] == "exact"    # inclusive at equal ts
    assert got[(1, 30)] is None       # nothing after 10:30
    assert got[(2, 5)] is None        # right row is before, not after


def test_ewma_last_matches_recursive_definition(spark):
    from sentiment_analysis_data_engineering_spark.operators.temporal import ewma_last

    rows = [
        (1, 1, "2024-01-01 10:00:00", 10.0),
        (2, 1, "2024-01-01 11:00:00", 20.0),
        (3, 1, "2024-01-01 12:00:00", 30.0),
        (4, 2, "2024-01-01 10:00:00", 5.0),
    ]
    df = spark.createDataFrame(rows, "id long, user long, ts string, v double")
    df = df.select("id", "user", F.col("ts").cast("timestamp").alias("ts"), "v")
    out = {
        r.user: (r.n_events, r.ewma)
        for r in ewma_last(
            df, key_col="user", ts_col="ts", value_col="v",
            tiebreak_col="id",
        ).collect()
    }
    # recursive: s1=10, s2=.3*20+.7*10=13, s3=.3*30+.7*13=18.1
    assert out[1][0] == 3 and abs(out[1][1] - 18.1) < 1e-9
    assert out[2] == (1, 5.0)  # single row: s1 = x1


def test_ewma_last_tiebreak_deterministic(spark):
    from sentiment_analysis_data_engineering_spark.operators.temporal import ewma_last

    rows = [  # equal ts — order must come from the tiebreak column
        (2, 1, "2024-01-01 10:00:00", 100.0),
        (1, 1, "2024-01-01 10:00:00", 0.0),
    ]
    df = spark.createDataFrame(rows, "id long, user long, ts string, v double")
    df = df.select("id", "user", F.col("ts").cast("timestamp").alias("ts"), "v")
    got = ewma_last(
        df, key_col="user", ts_col="ts", value_col="v",
        tiebreak_col="id",
    ).first()
    # order by (ts, id): x=[0, 100] -> s = .3*100 + .7*0 = 30
    assert abs(got.ewma - 30.0) < 1e-12


def test_forward_fill_carries_last_and_respects_leading_nulls(spark):
    from pyspark.sql import functions as F

    from sentiment_analysis_data_engineering_spark.operators.temporal import forward_fill

    df = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, None), (1, 3, None), (1, 4, 7.0),
         (2, 1, None), (2, 2, 3.0), (2, 3, None)],
        "k long, d long, v double",
    )
    out = df.select(
        "k", "d", forward_fill(df, "v", key_cols=["k"], order_col="d").alias("f")
    )
    got = {(r.k, r.d): r.f for r in out.collect()}
    assert got == {
        (1, 1): 10.0, (1, 2): 10.0, (1, 3): 10.0, (1, 4): 7.0,
        (2, 1): None, (2, 2): 3.0, (2, 3): 3.0,  # leading null stays null
    }


def test_linear_interpolate_numeric_order(spark):
    from sentiment_analysis_data_engineering_spark.operators.temporal import (
        linear_interpolate,
    )

    df = spark.createDataFrame(
        [(1, 0, 10.0), (1, 1, None), (1, 2, None), (1, 3, 40.0),
         (1, 4, None),                       # trailing gap -> null
         (2, 0, None), (2, 1, 6.0)],         # leading gap -> null
        "k long, d long, v double",
    )
    out = df.select(
        "k", "d",
        linear_interpolate(df, "v", key_cols=["k"], order_col="d").alias("f"),
    )
    got = {(r.k, r.d): r.f for r in out.collect()}
    assert got == {
        (1, 0): 10.0, (1, 1): 20.0, (1, 2): 30.0, (1, 3): 40.0,
        (1, 4): None,
        (2, 0): None, (2, 1): 6.0,
    }


def test_linear_interpolate_date_order_uses_day_distance(spark):
    import datetime as dt

    from sentiment_analysis_data_engineering_spark.operators.temporal import (
        linear_interpolate,
    )

    d = dt.date
    df = spark.createDataFrame(
        [(1, d(2024, 1, 1), 0.0),
         (1, d(2024, 1, 3), None),   # 2 of 4 days -> 5.0
         (1, d(2024, 1, 5), 10.0)],
        "k long, day date, v double",
    )
    out = df.select(
        "k", "day",
        linear_interpolate(df, "v", key_cols=["k"], order_col="day").alias("f"),
    )
    got = {r.day.isoformat(): r.f for r in out.collect()}
    assert got == {"2024-01-01": 0.0, "2024-01-03": 5.0, "2024-01-05": 10.0}


def test_linear_interpolate_missing_column_raises(spark):
    import pytest

    from sentiment_analysis_data_engineering_spark.operators.temporal import (
        linear_interpolate,
    )

    df = spark.createDataFrame([(1, 1, 1.0)], "k long, d long, v double")
    with pytest.raises(ValueError, match="nope"):
        linear_interpolate(df, "nope", key_cols=["k"], order_col="d")


def test_as_of_join_tiebreak_picks_smallest_both_directions(spark):
    import datetime as dt

    from sentiment_analysis_data_engineering_spark.operators.temporal import as_of_join

    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    left = spark.createDataFrame([(1, t)], "k long, ts timestamp")
    # two right rows at the SAME nearest timestamp
    right = spark.createDataFrame(
        [(1, t, 88), (1, t, 11)], "k long, ts timestamp, rid long"
    )
    for direction in ("backward", "forward"):
        out = as_of_join(
            left, right, ts="ts", by=["k"], right_value_cols=["rid"],
            direction=direction, tiebreak="rid",
        ).collect()
        assert out[0]["matched"]["rid"] == 11, direction


def test_max_drawdown_hand_computed(spark, tmp_path):
    # closes 10 -> 8 -> 12 -> 6: worst peak-to-trough is 6/12 - 1 = -0.5
    # on the last day; the 8 after the 10-peak is only -0.2
    from sentiment_analysis_data_engineering_spark.plans.behavior_queries import (
        max_drawdown_per_user,
    )
    import datetime as dt
    import os

    rows = [
        (i, dt.datetime(2024, 1, d, 12, 0, 0), 1, "view", float(c), "{}")
        for i, (d, c) in enumerate([(1, 10), (2, 8), (3, 12), (4, 6)], 1)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    root = str(tmp_path)
    df.write.mode("overwrite").parquet(os.path.join(root, "events.parquet"))
    got = max_drawdown_per_user(spark, root).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.user_id, r.max_drawdown, r.trough_day) == (1, -0.5, "2024-01-04")


def test_brown_double_smoothing_matches_hand_recursion(spark):
    from sentiment_analysis_data_engineering_spark.operators.temporal import (
        brown_double_smoothing,
    )

    rows = [
        (1, "2024-01-0%d 00:00:00" % (i + 1), i + 1, float(v))
        for i, v in enumerate([10.0, 12.0, 11.0, 15.0, 18.0])
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        r.user_id: r
        for r in brown_double_smoothing(
            df, key_col="user_id", ts_col="ts", value_col="value",
            tiebreak_col="event_id",
        ).collect()
    }
    a, q = 0.3, 1.0 - 0.3
    s1 = s2 = 10.0
    for x in [12.0, 11.0, 15.0, 18.0]:
        s1 = a * x + q * s1
        s2 = a * s1 + q * s2
    factor = a * 7 / q
    fc = (2.0 + factor) * s1 - (1.0 + factor) * s2
    r = out[1]
    assert r.n_fit == 5
    assert abs(r.s1 - s1) < 1e-6 and abs(r.s2 - s2) < 1e-6
    assert abs(r.forecast - fc) < 1e-6
    # rising series: trend-aware forecast must sit ABOVE the level
    assert r.forecast > r.s1


def test_brown_trailing_window_bounds_fit(spark, monkeypatch):
    from sentiment_analysis_data_engineering_spark.operators import temporal
    from sentiment_analysis_data_engineering_spark.operators.temporal import (
        brown_double_smoothing,
    )

    monkeypatch.setattr(temporal, "BROWN_LOOKBACK", 8)

    rows = [
        (1, "2024-01-01 00:00:%02d" % i, i, float(i)) for i in range(50)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = brown_double_smoothing(
        df, key_col="user_id", ts_col="ts", value_col="value",
        tiebreak_col="event_id",
    ).collect()
    assert out[0].n_fit == 8  # only the trailing window is fitted
