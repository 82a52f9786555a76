"""Incremental rollup maintenance == full recompute, at batch cost."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sentiment_analysis_data_engineering_spark.operators.incremental import merge_rollup
from sentiment_analysis_data_engineering_spark.plans.registry import load_tables

MEASURES = {
    "n_events": ("count", "*"),
    "total_value": ("sum", "value"),
    "max_value": ("max", "value"),
}


def daily(events):
    return events.select(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "event_type",
        "value",
    )


def test_two_batches_equal_full_recompute(spark, sf_dir, tmp_path):
    (events,) = load_tables(spark, sf_dir, "events")
    rows = daily(events)
    target = str(tmp_path / "rollup")

    # split by event id parity → two incremental loads
    (e,) = load_tables(spark, sf_dir, "events")
    b1 = daily(e.filter(F.col("event_id") % 2 == 0))
    b2 = daily(e.filter(F.col("event_id") % 2 == 1))
    merge_rollup(spark, b1, target, keys=["day", "event_type"],
                 partition_col="day", measures=MEASURES)
    merge_rollup(spark, b2, target, keys=["day", "event_type"],
                 partition_col="day", measures=MEASURES)

    got = {
        (r.day, r.event_type): (r.n_events, round(r.total_value, 2), r.max_value)
        for r in spark.read.parquet(target)
        .withColumn("day", F.col("day").cast("string")).collect()
    }
    full = rows.groupBy("day", "event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("v"),
        F.max("value").alias("m"),
    )
    want = {(r.day, r.event_type): (r.n, r.v, r.m) for r in full.collect()}
    assert {k: (a, round(b, 2), c) for k, (a, b, c) in got.items()} == want


def test_untouched_partitions_survive(spark, sf_dir, tmp_path):
    (events,) = load_tables(spark, sf_dir, "events")
    target = str(tmp_path / "rollup2")
    merge_rollup(spark, daily(events), target, keys=["day", "event_type"],
                 partition_col="day", measures=MEASURES)
    before = spark.read.parquet(target).count()

    # a batch touching ONE day must leave all other partitions intact
    one_day = daily(events).filter(F.col("day") == "2024-01-05")
    merge_rollup(spark, one_day, target, keys=["day", "event_type"],
                 partition_col="day", measures=MEASURES)
    after = spark.read.parquet(target).withColumn(
        "day", F.col("day").cast("string")
    )
    assert after.count() == before
    # and the touched day doubled its counts (same rows merged again)
    n = after.filter(F.col("day") == "2024-01-05").agg(
        F.sum("n_events")
    ).collect()[0][0]
    n0 = daily(events).filter(F.col("day") == "2024-01-05").count()
    assert n == 2 * n0


def test_unreadable_target_raises_not_overwrites(spark, sf_dir, tmp_path):
    """A target that EXISTS but fails to read must raise — silently
    treating it as 'no rollup yet' would overwrite touched partitions
    with batch-only aggregates and drop history."""
    import pytest

    (events,) = load_tables(spark, sf_dir, "events")
    target = tmp_path / "corrupt_rollup"
    target.mkdir()
    (target / "part-00000.parquet").write_bytes(b"this is not parquet")

    with pytest.raises(Exception) as exc_info:
        merge_rollup(spark, daily(events), str(target),
                     keys=["day", "event_type"], partition_col="day",
                     measures=MEASURES)
    # and the garbage file was not clobbered by a fresh write
    assert (target / "part-00000.parquet").read_bytes() == b"this is not parquet"


# ---- snapshot_diff ---------------------------------------------------------


def test_snapshot_diff_classes_and_null_safety(spark):
    from sentiment_analysis_data_engineering_spark.operators.incremental import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, None, 40.0)],
        "k int, v string, x double",
    )
    new = spark.createDataFrame(
        [(2, "b", None), (3, "C", 30.0), (4, None, 40.0), (5, "e", 50.0)],
        "k int, v string, x double",
    )
    got = {r.k: r.change_type for r in snapshot_diff(old, new, ["k"]).collect()}
    # 1 only in old; 2 identical incl. null x (null-safe → unchanged,
    # dropped); 3 value-changed; 4 identical incl. null v; 5 only in new
    assert got == {1: "deleted", 3: "changed", 5: "inserted"}


# ---- scd2_apply ------------------------------------------------------------


def _hist(spark, rows):
    return spark.createDataFrame(
        rows, "k int, seg string, bal long, valid_from string, valid_to string, is_current boolean"
    )


def test_scd2_change_noop_and_new_key(spark):
    from sentiment_analysis_data_engineering_spark.operators.incremental import scd2_apply

    hist = _hist(spark, [
        (1, "A", 100, "2000-01-01", None, True),
        (2, "B", 200, "2000-01-01", None, True),
        # key 3 already has history: one closed + one open version
        (3, "C", 300, "1999-01-01", "2000-01-01", False),
        (3, "C2", 310, "2000-01-01", None, True),
    ])
    batch = spark.createDataFrame(
        [(1, "A", 150), (2, "B", 200), (4, "D", 400)], "k int, seg string, bal long"
    )
    out = scd2_apply(hist, batch, ["k"], ["seg", "bal"], batch_ts="2001-06-01")
    rows = {(r.k, r.valid_from): r for r in out.collect()}
    assert len(rows) == 6
    # key 1 changed: old version closed at batch_ts, new open version
    assert rows[(1, "2000-01-01")].valid_to == "2001-06-01"
    assert rows[(1, "2000-01-01")].is_current is False
    assert rows[(1, "2001-06-01")].bal == 150
    assert rows[(1, "2001-06-01")].is_current is True
    assert rows[(1, "2001-06-01")].valid_to is None
    # key 2 identical: untouched no-op
    assert rows[(2, "2000-01-01")].is_current is True
    assert rows[(2, "2000-01-01")].valid_to is None
    # key 3 absent from batch: both versions pass through
    assert rows[(3, "1999-01-01")].is_current is False
    assert rows[(3, "2000-01-01")].is_current is True
    # key 4 brand new
    assert rows[(4, "2001-06-01")].bal == 400
    assert rows[(4, "2001-06-01")].is_current is True


def test_scd2_idempotent_redelivery(spark):
    from sentiment_analysis_data_engineering_spark.operators.incremental import scd2_apply

    hist = _hist(spark, [(1, "A", 100, "2000-01-01", None, True)])
    batch = spark.createDataFrame([(1, "A", 150)], "k int, seg string, bal long")
    once = scd2_apply(hist, batch, ["k"], ["seg", "bal"], batch_ts="2001-01-01")
    twice = scd2_apply(once, batch, ["k"], ["seg", "bal"], batch_ts="2002-01-01")
    # re-delivering the same batch later must not create a third version
    assert sorted(r.valid_from for r in twice.collect()) == ["2000-01-01", "2001-01-01"]


def test_scd2_null_is_current_passes_through_as_closed(spark):
    from sentiment_analysis_data_engineering_spark.operators.incremental import scd2_apply

    hist = _hist(spark, [
        (1, "A", 100, "2000-01-01", None, True),
        # NULL is_current: must pass through as a closed row, not vanish
        (1, "A0", 90, "1999-01-01", "2000-01-01", None),
    ])
    batch = spark.createDataFrame([(1, "A", 150)], "k int, seg string, bal long")
    out = scd2_apply(hist, batch, ["k"], ["seg", "bal"], batch_ts="2001-01-01")
    rows = sorted(out.collect(), key=lambda r: r.valid_from)
    assert len(rows) == 3  # null-current row kept + closed seed + new open
    assert rows[0].seg == "A0"  # the NULL-is_current row survived


def test_merge_join_view_equals_one_shot_join(spark, tmp_path):
    from sentiment_analysis_data_engineering_spark.operators.incremental import merge_join_view

    # duplicate keys on BOTH sides — multiplicity must be preserved
    left = spark.createDataFrame(
        [(1, "a1"), (1, "a2"), (2, "b"), (3, "c"), (4, "d")],
        "k long, lv string",
    )
    right = spark.createDataFrame(
        [(1, "x"), (2, "y1"), (2, "y2"), (5, "z")], "k long, rv string"
    )
    root = str(tmp_path / "ivm")
    for parity in (0, 1):
        merge_join_view(
            spark, root,
            left.filter(F.col("k") % 2 == parity),
            right.filter(F.col("k") % 2 == parity),
            on=["k"],
        )
    got = sorted(
        map(tuple, spark.read.parquet(root + "/view").select("k", "lv", "rv").collect())
    )
    want = sorted(map(tuple, left.join(right, "k").collect()))
    assert got == want and want


def test_merge_join_view_left_only_delta(spark, tmp_path):
    from sentiment_analysis_data_engineering_spark.operators.incremental import merge_join_view

    left1 = spark.createDataFrame([(1, "a")], "k long, lv string")
    right1 = spark.createDataFrame([(1, "x"), (2, "y")], "k long, rv string")
    root = str(tmp_path / "ivm2")
    merge_join_view(spark, root, left1, right1, on=["k"])
    # second refresh: only new left rows
    left2 = spark.createDataFrame([(2, "b"), (9, "q")], "k long, lv string")
    merge_join_view(spark, root, left2, None, on=["k"])
    got = sorted(
        map(tuple, spark.read.parquet(root + "/view").select("k", "lv", "rv").collect())
    )
    assert got == [(1, "a", "x"), (2, "b", "y")]


def test_merge_join_view_batch_id_retry_idempotent(spark, tmp_path):
    from sentiment_analysis_data_engineering_spark.operators.incremental import merge_join_view

    left = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, lv string"
    )
    right = spark.createDataFrame([(1, "x"), (2, "y")], "k long, rv string")
    root = str(tmp_path / "ivm3")
    for parity in (0, 1):
        merge_join_view(
            spark, root,
            left.filter(F.col("k") % 2 == parity),
            right.filter(F.col("k") % 2 == parity),
            on=["k"], batch_id=parity,
        )
    want = sorted(
        map(tuple, spark.read.parquet(root + "/view")
            .select("k", "lv", "rv").collect())
    )
    # replay batch 1 wholesale (crash-after-partial-commit recovery):
    # partition replacement + in-flight-batch exclusion must converge
    merge_join_view(
        spark, root,
        left.filter(F.col("k") % 2 == 1),
        right.filter(F.col("k") % 2 == 1),
        on=["k"], batch_id=1,
    )
    got = sorted(
        map(tuple, spark.read.parquet(root + "/view")
            .select("k", "lv", "rv").collect())
    )
    assert got == want
    plain = sorted(map(tuple, left.join(right, "k").collect()))
    assert got == plain


@pytest.mark.parametrize(
    "name, prefix",
    [("incremental_rollup_merge", "rollup_merge_"),
     ("join_view_maintenance", "join_view_")],
)
def test_maintenance_queries_leave_no_temp_dir(spark, sf_dir, name, prefix):
    """Both maintenance queries build their stored tables in a temp dir
    and pin the result before removing it: a call leaves no new entry
    in the temp dir, and the returned rows stay readable."""
    import os
    import tempfile

    import __spark_entry__ as entrymod
    from sentiment_analysis_data_engineering_spark.operators.dedup import pinned_scope

    def scratch():
        return {e for e in os.listdir(tempfile.gettempdir()) if e.startswith(prefix)}

    before = scratch()
    with pinned_scope():
        rows = entrymod.queries()[name](spark, sf_dir).collect()
    assert rows
    assert scratch() <= before
