"""Blocked fuzzy string matching — the entity-resolution primitive
(near-duplicate names, addresses, product titles) done the way it
scales: a BLOCKING key turns the quadratic all-pairs comparison into a
per-block equi-join, and the edit-distance refine runs only on
in-block candidates.

The reference's warehouse keys entities by exact ticker strings
(``daily_dag.py:31``); real dimension feeds arrive with typos and
variant spellings, which is exactly what this family resolves before
an exact-key join can work.

Blocking is the standard record-linkage trade (Fellegi-Sunter lineage):
recall is bounded by the blocking function — a pair whose block keys
differ is never compared — so callers pick blocks that survive their
expected error model (phonetic keys, sorted-neighborhood windows, or a
stable token as used by the registered query). Within-block cost is
Σ|block|², the same guarded shape as ``dedup.py``'s shingle buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["fuzzy_match_pairs"]


def fuzzy_match_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    block_col: Column,
    max_distance: int,
    max_block_size: int = 1000,
) -> DataFrame:
    """All (id_a < id_b) pairs whose ``text_col`` values sit in the
    same block and within ``max_distance`` Levenshtein edits.

    Plan: project (id, text, block) once; self-equi-join on the block
    key (one keyed shuffle — never a cross join); refine with
    ``F.levenshtein`` inside codegen. ``max_block_size`` mirrors
    ``dedup.py``'s stop-shingle guard: a degenerate block (every row
    keyed the same) would quadratically explode, so oversized blocks
    are dropped BEFORE the pair join — the documented recall trade for
    bounded cost, enforced with a window count rather than a collect.

    Returns ``id_a, id_b, text_a, text_b, distance``.
    """
    keyed = df.select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_text"),
        block_col.alias("_block"),
    )
    guarded = (
        keyed.withColumn("_bn", F.count("*").over(Window.partitionBy("_block")))
        .filter(F.col("_bn") <= max_block_size)
        .drop("_bn")
    )
    a = guarded.select(
        F.col("_id").alias("id_a"),
        F.col("_text").alias("text_a"),
        F.col("_block").alias("_block"),
    )
    b = guarded.select(
        F.col("_id").alias("id_b"),
        F.col("_text").alias("text_b"),
        F.col("_block").alias("_block_b"),
    )
    return (
        a.join(b, (F.col("_block") == F.col("_block_b"))
               & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b", "text_a", "text_b")
        .withColumn("distance", F.levenshtein("text_a", "text_b"))
        .filter(F.col("distance") <= max_distance)
    )
