"""Incremental aggregate maintenance: keep a stored rollup current by
merging only the new data's partial aggregates — never recomputing
history.

Extension of the reference's incremental-warehouse pattern (SURVEY.md
§2.9): its pipelines append new FACT rows idempotently; a warehouse
also wants derived AGGREGATE tables (daily rollups, per-entity
totals) kept in step. The scalable recipe is the classic partial-agg
merge:

1. aggregate ONLY the incoming batch (tiny vs history);
2. restrict the stored rollup to the partitions the batch touches
   (partition pruning — history stays on disk);
3. combine the two with a re-aggregate — every supported measure is
   decomposable (sum/count/min/max merge by sum/sum/min/max; avg is
   carried as sum+count and finalized by the reader);
4. dynamic-partition-overwrite exactly the touched partitions.

Cost scales with |batch| + |touched partitions|, not |history| — the
same reason the reference's probe-then-append beats full reload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.io import replace_partition, scan_or_none

__all__ = [
    "merge_rollup",
    "snapshot_diff",
    "scd2_apply",
    "merge_join_view",
]

#: measure name → (partial expr builder, merge expr builder)
_MERGES = {
    "sum": (F.sum, F.sum),
    "count": (F.count, F.sum),  # counts combine by summing
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def merge_rollup(
    spark: SparkSession,
    new_rows: DataFrame,
    target: str,
    *,
    keys: list[str],
    partition_col: str,
    measures: dict[str, tuple[str, str]],
) -> None:
    """Merge ``new_rows`` into the stored rollup at ``target``.

    ``measures`` maps output column → (agg, input column), agg in
    {sum,count,min,max}; e.g. ``{"n_events": ("count", "*"),
    "total_value": ("sum", "value")}``. ``partition_col`` must be one
    of ``keys`` — it is the pruning and overwrite unit.
    """
    if partition_col not in keys:
        raise ValueError("partition_col must be one of keys")
    for name, (agg, _col) in measures.items():
        if agg not in _MERGES:
            raise ValueError(f"unsupported agg {agg!r} for {name!r}")

    def aggregate(df: DataFrame, merge: bool) -> DataFrame:
        exprs = []
        for name, (agg, col) in measures.items():
            partial, combine = _MERGES[agg]
            fn = combine if merge else partial
            exprs.append(fn(name if merge else col).alias(name))
        return df.groupBy(*keys).agg(*exprs)

    batch = aggregate(new_rows, merge=False)

    # First-run detection must be precise: ONLY "the rollup does not
    # exist yet" may fall through to merged=batch (scan_or_none
    # re-raises anything else — a swallowed transient read failure
    # would overwrite touched partitions with batch-only aggregates).
    existing = scan_or_none(spark, target)

    if existing is None:
        merged = batch
    else:
        # partition columns round-trip through directory names and come
        # back type-inferred (e.g. '2024-01-05' → DATE); align to the
        # incoming schema before the merge union
        batch_types = dict(batch.dtypes)
        existing = existing.select(
            *[F.col(c).cast(batch_types[c]) for c in batch.columns]
        )
        touched = batch.select(partition_col).distinct()
        # partition-pruned read of the stored rollup: only partitions
        # the batch touches participate in the merge
        current = existing.join(F.broadcast(touched), partition_col, "left_semi")
        merged = aggregate(
            current.select(*keys, *measures.keys()).unionByName(
                batch.select(*keys, *measures.keys())
            ),
            merge=True,
        )

    replace_partition(spark, merged, target, [partition_col])


# --------------------------------------------------------------------------
# Snapshot diff (CDC-style version compare)
# --------------------------------------------------------------------------


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Row-level diff between two versions of a keyed table: one output
    row per key present in either version, tagged ``change_type`` ∈
    {'inserted', 'deleted', 'changed'} (unchanged keys are dropped).

    The change-data-feed primitive table formats expose natively,
    computed engine-side for plain parquet tables: ONE full-outer
    sort-merge join on the key — both sides shuffle once on the same
    key, compares are null-safe (``<=>``) Column expressions inside
    codegen, and only key columns + compared columns are read (column
    pruning reaches both scans). No windows, no collect; at 100 TB
    cost is the two keyed shuffles a CDC diff fundamentally needs.

    The compared columns are the non-key columns common to both
    frames. Key columns must be non-null and unique per side (the
    standard CDC contract; duplicate keys raise downstream in
    ``scd2_apply``'s validator, and here would fan out the join).
    """
    compare_cols = [c for c in old.columns if c in set(new.columns) and c not in keys]
    o = old.select(*keys, *compare_cols)
    n = new.select(*keys, *compare_cols)
    # disambiguate by renaming BEFORE the join — self-join-safe
    o = o.select(
        *[F.col(k).alias(f"_ok_{k}") for k in keys],
        *[F.col(c).alias(f"_o_{c}") for c in compare_cols],
    )
    n = n.select(
        *[F.col(k).alias(f"_nk_{k}") for k in keys],
        *[F.col(c).alias(f"_n_{c}") for c in compare_cols],
    )
    cond = None
    for k in keys:
        eq = F.col(f"_ok_{k}") == F.col(f"_nk_{k}")
        cond = eq if cond is None else (cond & eq)
    j = o.join(n, cond, "full_outer")
    in_old = F.col(f"_ok_{keys[0]}").isNotNull()
    in_new = F.col(f"_nk_{keys[0]}").isNotNull()
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
    tagged = j.select(
        *[
            F.coalesce(F.col(f"_nk_{k}"), F.col(f"_ok_{k}")).alias(k)
            for k in keys
        ],
        F.when(~in_old, F.lit("inserted"))
        .when(~in_new, F.lit("deleted"))
        .when(~same, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("change_type"),
    )
    return tagged.filter(F.col("change_type") != "unchanged")


# --------------------------------------------------------------------------
# SCD Type-2 history maintenance
# --------------------------------------------------------------------------


def scd2_apply(
    history: DataFrame,
    changes: DataFrame,
    keys: list[str],
    tracked: list[str],
    *,
    batch_ts: str,
) -> DataFrame:
    """Apply one change batch to a Slowly-Changing-Dimension type-2
    history table and return the new history frame.

    Contract (the standard dimension-history semantics):
    - ``history`` holds one row per (key, version): ``tracked`` value
      columns plus ``valid_from``/``valid_to`` (string timestamps,
      ``valid_to`` NULL = open version) and ``is_current``;
    - ``changes`` holds AT MOST one row per key with the new tracked
      values — a precondition the caller guarantees by construction
      (e.g. the output of a ``groupBy(keys)``, or disjoint branches);
      it is not checked, since a check would recompute the batch in
      an extra eager job;
    - a NULL ``is_current`` is treated as False (a closed historical
      row passes through untouched) — never silently dropped;
    - a change row whose tracked values differ (null-safely) from the
      key's open version CLOSES that version at ``batch_ts`` and opens
      a new one; an identical row is a no-op (idempotent re-delivery);
      a new key opens its first version. Keys absent from the batch
      pass through untouched.

    Plan shape: closed history passes through without touching the
    join; the open slice left-joins the batch once on the key (batch
    side broadcastable when small — the nightly-dimension-feed case),
    and the three outcomes (untouched / closed-out / fresh-open) are
    narrow projections of that single join, unioned. Cost ∝ |open
    history| + |batch|, never |closed history|; at 100 TB pair with
    ``sources/io.py::upsert_partitions`` so only touched partitions
    rewrite.
    """
    passthrough_cols = [*keys, *tracked, "valid_from", "valid_to", "is_current"]
    # NULL is_current → closed passthrough (never dropped between the
    # two complementary filters)
    is_open = F.coalesce(F.col("is_current"), F.lit(False))
    closed = history.filter(~is_open).select(*passthrough_cols)
    open_ = history.filter(is_open).select(*passthrough_cols)

    ch = changes.select(
        *[F.col(k).alias(f"_ck_{k}") for k in keys],
        *[F.col(c).alias(f"_c_{c}") for c in tracked],
    )
    cond = None
    for k in keys:
        eq = F.col(k) == F.col(f"_ck_{k}")
        cond = eq if cond is None else (cond & eq)
    j = open_.join(ch, cond, "full_outer")

    in_open = F.col(keys[0]).isNotNull()
    in_batch = F.col(f"_ck_{keys[0]}").isNotNull()
    same = F.lit(True)
    for c in tracked:
        same = same & F.col(c).eqNullSafe(F.col(f"_c_{c}"))

    # open rows not superseded by the batch (absent or identical)
    kept_open = j.filter(in_open & (~in_batch | same)).select(*passthrough_cols)
    # open rows whose values changed: close them at batch_ts
    closed_out = j.filter(in_open & in_batch & ~same).select(
        *keys,
        *tracked,
        F.col("valid_from"),
        F.lit(batch_ts).alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    # fresh versions: changed keys + brand-new keys
    fresh = j.filter(in_batch & (~in_open | ~same)).select(
        *[F.coalesce(F.col(f"_ck_{k}"), F.col(k)).alias(k) for k in keys],
        *[F.col(f"_c_{c}").alias(c) for c in tracked],
        F.lit(batch_ts).alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return closed.unionByName(kept_open).unionByName(closed_out).unionByName(fresh)


def merge_join_view(
    spark: SparkSession,
    root: str,
    left_delta: DataFrame,
    right_delta: DataFrame | None,
    *,
    on: list[str],
    batch_id: int | None = None,
) -> None:
    """Incremental maintenance of a materialized INNER-join view — the
    join twin of :func:`merge_rollup`'s algebraic aggregate merge.

    Delta propagation (the classic IVM identity for append-only
    inserts):  Δ(A ⋈ B) = ΔA ⋈ B  ∪  A ⋈ ΔB  ∪  ΔA ⋈ ΔB
    where A/B are the PRE-batch stored sides. The view delta is
    appended to ``root/view``, then the side deltas land in
    ``root/left`` / ``root/right`` — so each refresh costs
    O(Δ ⋈ stored), never a full A ⋈ B recompute.

    Scale shape: the stored side of each cross term is pruned with a
    broadcast semi-join on the delta's join keys BEFORE the join — a
    day's delta touches a key-bounded slice of history, so refresh
    reads ∝ (delta + matching history), not ∝ history. Insert-only
    contract (deletes/updates need counting IVM — use
    :func:`snapshot_diff` + rebuild for low-churn dimensions);
    duplicate join keys are fine on either side, multiplicity is
    preserved exactly like the one-shot join.

    Retry safety: the three writes cannot be atomic on plain parquet,
    so pass ``batch_id`` — every write then lands as that batch's OWN
    ``_batch_id`` partition via partition replacement, and stored-side
    reads EXCLUDE the in-flight batch. A crash anywhere mid-refresh
    converges on retry: re-derived deltas overwrite their own
    partitions instead of appending twice, and the view delta is
    recomputed against exactly the pre-batch history even if a side
    delta already landed. Without ``batch_id`` writes are plain
    appends (single-writer, no-retry callers only).
    """
    from ..sources.io import append, replace_partition, scan_or_none

    root = root.rstrip("/")
    left_path, right_path = f"{root}/left", f"{root}/right"
    view_path = f"{root}/view"

    def load_stored(path: str) -> DataFrame | None:
        stored = scan_or_none(spark, path)
        if stored is None:
            return None
        has_bid = "_batch_id" in stored.columns
        # a root must be written in ONE mode for its lifetime: mixing
        # partitioned (_batch_id) and plain layouts corrupts partition
        # discovery on the next read — fail loudly instead
        if batch_id is not None and not has_bid:
            raise ValueError(
                f"{path} was written without batch_id mode; "
                "a root cannot mix plain and batch-keyed writes"
            )
        if batch_id is None and has_bid:
            raise ValueError(
                f"{path} was written WITH batch_id mode; "
                "pass batch_id to keep the layout consistent"
            )
        if has_bid:
            # exclude the in-flight batch: a crashed earlier attempt
            # may already have landed this batch's side delta
            stored = stored.filter(F.col("_batch_id") != batch_id)
            stored = stored.drop("_batch_id")
        return stored

    def install(df: DataFrame, path: str) -> None:
        if batch_id is None:
            append(df, path)
        else:
            replace_partition(
                spark,
                df.withColumn("_batch_id", F.lit(batch_id)),
                path,
                ["_batch_id"],
            )

    stored_l = load_stored(left_path)
    stored_r = load_stored(right_path)
    rd = right_delta

    def pruned(stored: DataFrame, delta: DataFrame) -> DataFrame:
        # no forced broadcast: a typical delta's key set is broadcast-
        # sized and AQE will pick that plan itself, but a backfill-scale
        # delta must be allowed to shuffle instead of OOMing a hint
        keys = delta.select(*on).distinct()
        return stored.join(keys, on, "left_semi")

    terms = []
    if stored_r is not None:
        terms.append(left_delta.join(pruned(stored_r, left_delta), on))
    if rd is not None:
        if stored_l is not None:
            terms.append(pruned(stored_l, rd).join(rd, on))
        terms.append(left_delta.join(rd, on))

    if terms:
        view_delta = terms[0]
        for t in terms[1:]:
            view_delta = view_delta.unionByName(t)
        install(view_delta, view_path)

    install(left_delta, left_path)
    if rd is not None:
        install(rd, right_path)
