"""Contract laws for operators/observe.py — the Observation-based
job folding the r15 optimization round leans on. These pin the THREE
assumptions the folds rely on (if a Spark upgrade breaks any of them,
the verbs would hang in Observation.get or silently lose metrics —
this file makes that a loud test failure instead):

1. localCheckpoint(eager=True) delivers observed metrics;
2. DataFrame writes deliver observed metrics (staged-write counts);
3. collect_set is accepted as an observed metric (cell/width sets).

It also pins the codegen compile counter the bench reports.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from sentiment_analysis_data_engineering_spark.operators.observe import (
    checkpoint_with_metrics,
    codegen_compile_count,
    spark_job_count,
    write_with_metrics,
)


def _frame(spark):
    return spark.range(100).select(
        F.col("id"),
        (F.col("id") % 5).alias("cell"),
        (F.col("id") % 3 == 0).alias("flag"),
    )


def test_checkpoint_delivers_metrics_in_one_action(spark):
    df = _frame(spark)
    before = spark_job_count(spark)
    ck, m = checkpoint_with_metrics(
        df,
        n=F.count(F.lit(1)),
        n_flagged=F.sum(F.col("flag").cast("long")),
        cells=F.collect_set("cell"),
    )
    jobs = spark_job_count(spark) - before
    assert m["n"] == 100
    assert m["n_flagged"] == 34  # ids 0,3,...,99
    assert sorted(m["cells"]) == [0, 1, 2, 3, 4]
    # the metrics rode the checkpoint job — no separate count/collect
    # actions ran (localCheckpoint itself may schedule 1-2 jobs; the
    # law is that folding 3 metrics costs ZERO extra)
    assert jobs <= 2
    # the checkpointed rows are unchanged by the observe pass-through
    assert ck.count() == 100
    assert ck.columns == ["id", "cell", "flag"]


def test_write_delivers_metrics(spark, tmp_path):
    df = _frame(spark)
    out = f"{tmp_path}/codes"
    m = write_with_metrics(
        df,
        lambda d: d.repartition(F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(out),
        n=F.count(F.lit(1)),
        cells=F.collect_set("cell"),
    )
    assert m["n"] == 100
    assert sorted(m["cells"]) == [0, 1, 2, 3, 4]
    assert spark.read.parquet(out).count() == 100


def test_write_metrics_on_empty_frame(spark, tmp_path):
    # the all-duplicate merge / all-deleted survivor case: the staged
    # write runs over 0 rows and the observed count must say so
    df = _frame(spark).filter(F.col("id") < 0)
    out = f"{tmp_path}/empty"
    m = write_with_metrics(
        df,
        lambda d: d.repartition(F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(out),
        # AQE proves the subtree empty behind the shuffle and drops the
        # metrics node — the zero-row defaults ARE the exact values
        defaults={"n": 0, "cells": []},
        n=F.count(F.lit(1)),
        cells=F.collect_set("cell"),
    )
    assert m["n"] == 0
    assert list(m["cells"]) == []


def test_first_action_wins_and_reuse_does_not_block(spark):
    ck, m = checkpoint_with_metrics(_frame(spark), n=F.count(F.lit(1)))
    assert m["n"] == 100
    # a later action over the checkpointed frame neither hangs nor
    # changes the delivered metrics
    assert ck.filter(F.col("flag")).count() == 34


def test_codegen_compile_count_counts_new_classes_only(spark):
    # an int literal is inlined into the generated source, so a fresh
    # one makes a class no earlier test compiled
    fresh = time.time_ns() % 1_000_000_007
    df = spark.range(10).select((F.col("id") * 7919 + F.lit(fresh)).alias("x"))
    before = codegen_compile_count(spark)
    first = df.collect()
    assert codegen_compile_count(spark) - before >= 1
    before = codegen_compile_count(spark)
    assert df.collect() == first
    assert codegen_compile_count(spark) - before == 0
