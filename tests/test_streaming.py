"""Structured Streaming sinks driven to completion with
Trigger.AvailableNow: exactly-once restarts of the idempotent-append
sink and the persisted IVF-PQ index maintainer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sentiment_analysis_data_engineering_spark.streaming import events as st


def test_checkpointed_restart_exactly_once_across_crash(spark, tmp_path):
    """Simulated crash BETWEEN micro-batches: run 1 commits one batch
    then dies; run 2 resumes from the SAME checkpoint. The combination
    of checkpoint offsets + anti-join sink must deliver exactly-once:
    every source row lands in the target exactly one time."""
    import pytest
    from pyspark.sql import functions as F
    from sentiment_analysis_data_engineering_spark.sources.io import idempotent_append

    # 4 source files → 4 micro-batches at maxFilesPerTrigger=1
    src = str(tmp_path / "src")
    rows = spark.range(40).select(
        F.col("id").alias("event_id"), (F.col("id") % 7).alias("user_id"),
        F.lit(2023).alias("year"), (F.col("id") % 3 + 1).alias("month"),
    )
    rows.repartition(4).write.parquet(src)

    target = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    seen_batches: list[int] = []

    def crashing_batch(batch_df, batch_id):
        if len(seen_batches) == 1:
            raise RuntimeError("injected crash between micro-batches")
        seen_batches.append(batch_id)
        idempotent_append(batch_df.sparkSession, batch_df, target, ["event_id"])

    def start(batch_fn):
        stream = (
            spark.readStream.schema("event_id long, user_id long, year int, month long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(batch_fn)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    with pytest.raises(Exception, match="injected crash"):
        start(crashing_batch)
    committed = spark.read.parquet(target).count()
    assert 0 < committed < 40  # partial progress really happened

    def clean_batch(batch_df, batch_id):
        idempotent_append(batch_df.sparkSession, batch_df, target, ["event_id"])

    start(clean_batch)  # resume from the same checkpoint
    got = spark.read.parquet(target)
    assert got.count() == 40
    assert got.select("event_id").distinct().count() == 40


def test_streaming_ivfpq_merge_matches_batch_and_replays(spark, sf_dir, tmp_path):
    from sentiment_analysis_data_engineering_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(base, path)

    # land the delta as two files -> two micro-batches under
    # maxFilesPerTrigger=1, so the merge crosses a batch boundary
    stream_dir = str(tmp_path / "landing")
    delta.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(
        stream_dir, mode="append"
    )
    delta.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.parquet(
        stream_dir, mode="append"
    )
    schema = emb.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    stats = st.run_ivfpq_merge_stream(
        stream, path, checkpoint=str(tmp_path / "ckpt1")
    )
    assert len(stats) == 2
    assert sum(s["n_added"] for s in stats) == delta.count()
    assert all(s["n_already"] == 0 for s in stats)

    # streamed merges == the batch merge: index complete, ids unique
    codes = sim.ivfpq_codes(spark, path)
    agg = codes.agg(
        F.count("*").alias("n"), F.countDistinct("neighbor_id").alias("nd")
    ).first()
    assert agg.n == agg.nd == emb.count()

    # replay from a fresh checkpoint: every batch re-delivered, the
    # insert-idempotent merge adds nothing
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    stats2 = st.run_ivfpq_merge_stream(
        stream2, path, checkpoint=str(tmp_path / "ckpt2")
    )
    assert sum(s["n_added"] for s in stats2) == 0
    assert sum(s["n_already"] for s in stats2) == delta.count()

    # and the maintained index still answers exactly when both
    # approximations are removed (merged vectors fully reachable)
    queries = emb.filter(F.col("vec_id") < 3)
    n = emb.count()
    exact = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.cosine_topk(queries, emb, k=sim.TOP_K).collect()
    )
    probe = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.ivfpq_probe_index(
            spark, path, queries, emb, n_probe=16, n_rerank=n
        ).collect()
    )
    assert probe == exact


def test_streaming_ivfpq_merge_auto_compacts(spark, sf_dir, tmp_path):
    """With auto_compact_max_files armed, the streaming maintainer
    bounds per-cell file count forever: four single-file micro-batches
    would fragment every touched cell to ~5 files, but the trigger
    compacts whenever the metadata listing sees a cell at the
    threshold — and the compacted index stays complete and exact."""
    from sentiment_analysis_data_engineering_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 5 == 1)
    delta = emb.filter(F.col("vec_id") % 5 != 1)
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(base, path)

    stream_dir = str(tmp_path / "landing")
    for k in (0, 2, 3, 4):
        delta.filter(F.col("vec_id") % 5 == k).coalesce(1).write.parquet(
            stream_dir, mode="append"
        )
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    stats = st.run_ivfpq_merge_stream(
        stream, path, checkpoint=str(tmp_path / "ckpt"),
        auto_compact_max_files=3,
    )
    assert len(stats) == 4
    assert sum(s["n_added"] for s in stats) == delta.count()
    # the trigger actually fired at least once...
    assert sum(s["n_cells_compacted"] for s in stats) > 0
    # ...and every batch observed bounded fragmentation
    assert all(s["max_files_per_cell"] <= 3 for s in stats)
    # post-stream: no cell above the threshold, listing agrees
    frag = sim.ivfpq_cell_file_counts(spark, path)
    assert max(frag.values()) <= 3
    # completeness + exactness survive compaction
    codes = sim.ivfpq_codes(spark, path)
    agg = codes.agg(
        F.count("*").alias("n"), F.countDistinct("neighbor_id").alias("nd")
    ).first()
    assert agg.n == agg.nd == emb.count()
    queries = emb.filter(F.col("vec_id") < 3)
    n = emb.count()
    exact = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.cosine_topk(queries, emb, k=sim.TOP_K).collect()
    )
    probe = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.ivfpq_probe_index(
            spark, path, queries, emb, n_probe=16, n_rerank=n
        ).collect()
    )
    assert probe == exact


def test_autoretrain_arm_fails_loudly_on_zero_baseline(
    spark, sf_dir, tmp_path
):
    """A baseline audit that matches ZERO index vectors would make the
    cross-multiplied drift trigger 0 > 0 forever — silently-dead drift
    detection (r10 advice item 2). Arming must raise instead when the
    corpus of record explains no index row."""
    from sentiment_analysis_data_engineering_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(emb, path)
    landing = str(tmp_path / "landing")
    emb.limit(1).coalesce(1).write.parquet(landing, mode="append")

    def stream():
        return (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )

    # corpus of record explains no index row (disjoint ids)
    wrong_corpus = emb.select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    with pytest.raises(ValueError, match="ZERO index vectors"):
        st.run_ivfpq_merge_stream(
            stream(), path, checkpoint=str(tmp_path / "c1"),
            auto_retrain_drift_ratio=2.0, retrain_corpus=wrong_corpus,
        )
