"""Data-quality validation gates: the pre-flight checks a pipeline
runs before trusting a batch (null keys, duplicate keys, orphaned
foreign keys, out-of-range values).

Extension layer — the reference trusts BigQuery load success as its
only quality signal (no row-level validation anywhere in
``daily_dag.py`` / ``weekly_dag.py``); a 100 TB training pipeline
cannot, because one malformed upstream delivery silently poisons every
downstream join and sample.

Scale stances:
- every check is an AGGREGATE, not a row filter the driver collects —
  violation COUNTS come back, violating rows stay distributed (a
  caller that wants examples applies the same predicate + ``limit``);
- null/range checks are zero-shuffle single-pass ``count_if`` over one
  scan — N checks on one table still cost one scan (they fuse into a
  single Aggregate);
- uniqueness is one map-side-combining hash agg on the key;
- referential integrity is a LEFT ANTI join probing the parent's key
  column only (column-pruned; broadcasts when the parent is a dim).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "null_violations",
    "duplicate_key_count",
    "orphan_count",
    "range_violations",
    "quality_summary",
]


def null_violations(df: DataFrame, cols: list[str]) -> DataFrame:
    """Rows with a NULL in each named column — one row per check:
    (column, n_null). Single scan, zero shuffle (global aggregate)."""
    aggs = [
        F.count_if(F.col(c).isNull()).alias(c) for c in cols
    ]
    wide = df.agg(*aggs)
    pairs = F.explode(
        F.array(*[
            # backtick-quote: column names may contain dots
            F.struct(F.lit(c).alias("column"), F.col(f"`{c}`").alias("n_null"))
            for c in cols
        ])
    )
    return wide.select(pairs.alias("p")).select("p.column", "p.n_null")


def duplicate_key_count(df: DataFrame, keys: list[str]) -> DataFrame:
    """(n_duplicate_keys, n_surplus_rows): key tuples appearing more
    than once, and how many extra rows they contribute. One hash agg on
    the key (map-side combine), then a tiny re-aggregate."""
    per_key = df.groupBy(*keys).agg(F.count("*").alias("_n"))
    return per_key.agg(
        F.count_if(F.col("_n") > 1).alias("n_duplicate_keys"),
        F.coalesce(
            F.sum(F.when(F.col("_n") > 1, F.col("_n") - 1)), F.lit(0)
        ).alias("n_surplus_rows"),
    )


def orphan_count(
    child: DataFrame,
    parent: DataFrame,
    *,
    child_key: str,
    parent_key: str,
) -> DataFrame:
    """Child rows whose key has no parent (broken referential
    integrity) — LEFT ANTI join against the parent's key column only,
    then a count. Null child keys are orphans by definition here: a
    fact row that can't join its dimension is lost either way."""
    parents = parent.select(F.col(parent_key).alias(child_key)).distinct()
    return (
        child.select(child_key)
        .join(parents, child_key, "left_anti")
        .agg(F.count("*").alias("n_orphans"))
    )


def range_violations(df: DataFrame, checks: dict[str, Column]) -> DataFrame:
    """Named predicate violations — ``checks`` maps check name → the
    predicate that must HOLD; output is (check, n_violations) counting
    rows where it does not (nulls count as violations: an unknown
    value cannot pass a gate). All checks fuse into one scan."""
    aggs = [
        F.count_if(~F.coalesce(pred, F.lit(False))).alias(name)
        for name, pred in checks.items()
    ]
    wide = df.agg(*aggs)
    pairs = F.explode(
        F.array(*[
            # backtick-quote: check names may contain dots
            F.struct(
                F.lit(name).alias("check"),
                F.col(f"`{name}`").alias("n_violations"),
            )
            for name in checks
        ])
    )
    return wide.select(pairs.alias("p")).select("p.check", "p.n_violations")


def quality_summary(parts: dict[str, DataFrame]) -> DataFrame:
    """Union named single-row/one-col-per-metric check frames into one
    (check, value) report — each input must be a 1-row frame; columns
    become rows. Keeps the whole gate ONE job with a deterministic
    schema."""
    if not parts:
        raise ValueError(
            "quality_summary needs at least one named check frame"
        )
    outs = []
    for prefix, df in parts.items():
        cols = df.columns
        pairs = F.explode(
            F.array(*[
                F.struct(
                    F.concat_ws(".", F.lit(prefix), F.lit(c)).alias("check"),
                    # backtick-quote: metric columns may contain dots
                    F.col(f"`{c}`").cast("long").alias("value"),
                )
                for c in cols
            ])
        )
        outs.append(df.select(pairs.alias("p")).select("p.check", "p.value"))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
