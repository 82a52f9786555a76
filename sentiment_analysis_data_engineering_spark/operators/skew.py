"""Skew-mitigation operators: salted join and two-stage (salted)
aggregation.

Extension layer (no reference counterpart — the reference's joins are
9-row dimension folds, ``weekly_dag.py:393-394``). These exist for the
100 TB path, where a handful of hot keys (one ticker, one language,
one empty-document fingerprint) can pull an entire join or aggregate
into a single straggler task.

When to reach for these vs. letting AQE handle it:

- ``spark.sql.adaptive.skewJoin`` splits oversized *sort-merge* join
  partitions at runtime and is the right default — it needs no code.
- Salting is the explicit fallback when AQE can't help: broadcast-able
  skew on the build side, aggregations whose single hot group lands in
  one reducer, or deterministic plans where runtime re-splitting is
  unavailable (e.g. streaming micro-batches).

Both operators preserve exact semantics — salt only changes the
partitioning key space, never the result.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["salted_join", "salted_sum_count"]


def _salt_col(df: DataFrame, buckets: int) -> Column:
    """Per-row salt in [0, buckets), RNG-free.

    A pure content hash fails the archetypal hot-key case — many fully
    IDENTICAL rows all hash to ONE salt and nothing spreads — and
    xxhash64 rejects map-typed columns at analysis. So the salt mixes
    (a) xxhash64 over the hashable columns (spreads distinct rows of a
    hot key deterministically) with (b) a per-row ordinal from
    ``monotonically_increasing_id`` (spreads identical duplicates).
    The ordinal depends on the input's partition layout, so salt
    VALUES are only reproducible across runs when upstream
    partitioning is stable — join/aggregate RESULTS are partitioning-
    independent either way (salt never changes semantics).
    """
    hashable = [c for c, t in df.dtypes if not t.startswith("map<")]
    parts: list[Column] = [F.col(c) for c in hashable]
    parts.append(F.monotonically_increasing_id())
    return F.pmod(F.xxhash64(*parts), F.lit(buckets))


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: Sequence[str],
) -> DataFrame:
    """Inner equi-join where ``skewed``'s hot keys would overload single
    tasks: the skewed side gets a per-row salt in [0, 8) appended to the
    join key; ``other`` is replicated once per salt value (explode over
    ``sequence(0, 7)``), so each (key, salt) pair is its own shuffle
    partition and a hot key fans out over 8 tasks.

    Cost model: ``other`` is scanned once but shuffles 8×
    its size — use when ``other`` is the small-but-not-broadcastable
    side. For broadcast-sized ``other``, a plain broadcast join already
    has no skew problem; for two huge sides, prefer AQE skew-join.

    Inner only: under an outer join, an unmatched row of ``other``
    would surface once per salt value (8 duplicates).
    """
    on, buckets = list(on), 8
    left = skewed.withColumn("_salt", _salt_col(skewed, buckets))
    right = other.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))
    )
    out = left.join(right, on=on + ["_salt"])
    return out.drop("_salt")


def salted_sum_count(
    df: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str],
) -> DataFrame:
    """Two-stage aggregation for skewed group keys: stage 1 aggregates
    per (keys, salt in [0, 16)) — spreading a hot group over 16
    reducers —
    stage 2 merges the partials per key. Emits ``n`` (count) plus
    ``sum_<col>`` for each requested column.

    Spark's hash aggregate already does map-side partial combine; the
    explicit salt matters when upstream partitioning pins a hot key to
    few map tasks (e.g. right after a key-partitioned shuffle, or a
    pre-bucketed scan), making the builtin partials lopsided.
    Only re-aggregatable measures (sum/count/min/max) survive two-stage
    splitting; avg must be derived as sum/count at the end.
    """
    keys = list(keys)
    stage1 = (
        df.withColumn("_salt", _salt_col(df, 16))
        .groupBy(*keys, "_salt")
        .agg(
            F.count("*").alias("_n"),
            *[F.sum(c).alias(f"_s_{c}") for c in sum_cols],
        )
    )
    return stage1.groupBy(*keys).agg(
        F.sum("_n").alias("n"),
        *[F.sum(f"_s_{c}").alias(f"sum_{c}") for c in sum_cols],
    )
