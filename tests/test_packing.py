"""Sequence packing: per-partition greedy next-fit under a token budget."""

from __future__ import annotations

from pyspark.sql import functions as F

from sentiment_analysis_data_engineering_spark.operators import packing
from sentiment_analysis_data_engineering_spark.operators.packing import pack_sequences
from sentiment_analysis_data_engineering_spark.plans.registry import load_tables


def test_every_doc_packed_exactly_once(spark, sf_dir):
    (documents,) = load_tables(spark, sf_dir, "documents")
    docs = documents.select(
        "doc_id", F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens")
    )
    packed = pack_sequences(docs, "doc_id", "n_tokens")
    assert packed.count() == docs.count()
    assert packed.select("doc_id").distinct().count() == docs.count()


def test_packs_respect_budget(spark, sf_dir):
    (documents,) = load_tables(spark, sf_dir, "documents")
    docs = documents.select(
        "doc_id", F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens")
    )
    packed = pack_sequences(docs, "doc_id", "n_tokens")
    sizes = packed.groupBy("pack_id").agg(
        F.sum("n_tokens").alias("total"), F.count("*").alias("n_docs")
    )
    over = sizes.filter(
        (F.col("total") > packing.PACK_BUDGET) & (F.col("n_docs") > 1)
    ).count()
    assert over == 0      # only single oversized docs may exceed the budget


def test_packing_deterministic(spark):
    rows = [(i, 10 + (i * 37) % 90) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    a = pack_sequences(df, "doc_id", "n_tokens")
    b = pack_sequences(df, "doc_id", "n_tokens")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_pack_seq_orders_within_pack(spark, monkeypatch):
    monkeypatch.setattr(packing, "PACK_BUDGET", 250)
    df = spark.createDataFrame(
        [(i, 100) for i in range(10)], "doc_id long, n_tokens long"
    )
    out = pack_sequences(df, "doc_id", "n_tokens")
    rows = sorted(out.collect(), key=lambda r: (r.pack_id, r.pack_seq))
    # 2 docs per pack (100+100 <= 250, third overflows)
    by_pack = {}
    for r in rows:
        by_pack.setdefault(r.pack_id, []).append(r)
    for members in by_pack.values():
        assert [m.pack_seq for m in members] == list(range(len(members)))
        assert len(members) <= 2
