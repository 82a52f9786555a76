"""Relational operator composables (SURVEY.md §2.2-2.6).

Each function is a thin, lazy DataFrame→DataFrame combinator: nothing
here triggers a job, so Catalyst sees the whole pipeline as one logical
plan and gets to push filters, prune columns, and pick join strategies
across operator boundaries.

Scale stance (100 TB):
- ``n_way_inner_join`` broadcasts sides below a caller-set threshold —
  the reference's 9-way macro join (``weekly_dag.py:393-394``) folds
  tiny frames, which must never become sort-merge shuffles.
- ``anti_join_new_rows`` replaces the reference's per-row existence
  probe loop (``weekly_dag.py:420-427``, self-flagged ``#This is super
  slow``) with ONE left_anti join on key columns only — the probe side
  is pruned to its keys so the shuffle carries no payload. The key is
  ONE struct-valued column, not N column equalities: Catalyst pushes an
  anti join below a union of per-ticker frames and infers each branch's
  literal ``ticker`` into that branch's probe, which turns one probe
  into N different ones (N scans, N broadcasts). A struct equality
  yields no per-field literal to infer, so the N probes stay identical
  and share one reused broadcast.
- ``multiset_equal`` is two ``exceptAll`` emptiness checks — shuffle on
  all columns, but short-circuits via ``isEmpty`` (first non-empty
  partition wins under AQE).
"""

from __future__ import annotations

from functools import reduce
from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "rename_columns",
    "add_literal",
    "conjunctive_filter",
    "union_all",
    "n_way_inner_join",
    "anti_join_new_rows",
    "multiset_equal",
]


def rename_columns(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """P2 — bulk rename (``daily_dag.py:104-105`` renames 11 yfinance
    columns to snake_case). ``withColumnsRenamed`` is a single
    projection node."""
    return df.withColumnsRenamed(mapping)


def add_literal(df: DataFrame, name: str, value) -> DataFrame:
    """P3 — constant column, e.g. the per-frame ``ticker`` tag
    (``daily_dag.py:93``)."""
    return df.withColumn(name, F.lit(value))


def conjunctive_filter(df: DataFrame, **equals) -> DataFrame:
    """P4/P6 — ANDed equality predicates, e.g.
    ``year=2023, month=5, day=12`` (``daily_dag.py:80-82``).

    Expressed as Column conjunctions so Catalyst pushes them into the
    parquet scan (and prunes partitions when the table is partitioned
    on a predicate column).
    """
    pred = reduce(
        lambda acc, kv: acc & (F.col(kv[0]) == F.lit(kv[1])),
        equals.items(),
        F.lit(True),
    )
    return df.filter(pred)


def union_all(dfs: Sequence[DataFrame]) -> DataFrame:
    """U1 — ``pd.concat`` over per-ticker frames (``daily_dag.py:90-96``)
    → ``unionByName`` fold. Name-based, so column order differences
    between sources can't silently mis-align."""
    if not dfs:
        raise ValueError("union_all needs at least one DataFrame")
    return reduce(lambda left, right: left.unionByName(right), dfs)


def n_way_inner_join(dfs: Sequence[DataFrame], on: str | list[str]) -> DataFrame:
    """J1 — fold N frames into one wide frame on a shared key
    (``reduce(pd.merge...)`` at ``weekly_dag.py:393-394``).

    Every right side gets a broadcast hint: the joined frames are small
    dimension tables (the reference's are a few hundred rows each).
    """
    if not dfs:
        raise ValueError("n_way_inner_join needs at least one DataFrame")

    def _join(left: DataFrame, right: DataFrame) -> DataFrame:
        return left.join(F.broadcast(right), on=on, how="inner")

    return reduce(_join, dfs)


def anti_join_new_rows(
    incoming: DataFrame,
    existing: DataFrame,
    keys: Iterable[str],
) -> DataFrame:
    """J2 — rows of ``incoming`` whose key is absent from ``existing``.

    Replaces the reference's O(rows) per-row SELECT probe loop
    (``weekly_dag.py:420-427,479-486``) with one left_anti join. The
    existing side is pruned to its key columns, so at scale the shuffle
    moves keys only; when the key set is small AQE upgrades it to a
    broadcast anti join.

    - The keys are compared as one ``struct`` so that an anti join
      pushed below a union keeps ONE probe for every branch (see the
      module docstring). Probe rows with a null key column are dropped:
      struct equality would match null fields, while a per-column
      equi-join never matches a null key — so an incoming row with a
      null key column is always new, as before.
    - The probe is not de-duplicated: an anti join only asks whether a
      match exists, so duplicate probe keys cannot change its result,
      and a ``distinct`` would add a shuffle stage to every probe.
    """
    keys = list(keys)
    probe = existing.where(
        reduce(lambda acc, k: acc & F.col(k).isNotNull(), keys, F.lit(True))
    ).select(F.struct(*keys).alias("_key"))
    key = F.struct(*[incoming[k] for k in keys])
    return incoming.join(probe, key == probe["_key"], how="left_anti")


def multiset_equal(a: DataFrame, b: DataFrame) -> bool:
    """A2 — order-insensitive multiset equality of two frames
    (the reference's ``pulled_df.equals(new)`` gate,
    ``weekly_dag.py:131,213,276,349`` — which IS order-sensitive; the
    warehouse has no order guarantee, so multiset semantics are the
    evident intent).

    ACTION: triggers two jobs. Use only in write-path gates.
    """
    cols = sorted(a.columns)
    if sorted(b.columns) != cols:
        return False
    a_s, b_s = a.select(*cols), b.select(*cols)
    return a_s.exceptAll(b_s).isEmpty() and b_s.exceptAll(a_s).isEmpty()
