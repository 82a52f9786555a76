"""Temporal join operators Spark lacks natively: as-of join and
interval (range) join.

Extension layer. Both are implemented as compositions of existing
DataFrame ops (the preferred order for custom operators — pyspark
guide: compose builtins > applyInPandas > custom strategy):

- ``as_of_join``  union-then-window: tag sides, sort within the by-key
  by (ts, side), carry the last right-side payload forward with
  ``last(ignorenulls)``. ONE shuffle on the by-key — same cost as a
  sort-merge join — versus ``pd.merge_asof``'s single-machine limit.
- ``range_join_buckets``  equi-join on coarse time buckets + exact
  range refine. Turns an inequality join (which Spark would plan as a
  broadcast nested loop) into a hash join whose key space is
  (by_key, bucket); each window spans ≤ ceil(len/bucket)+1 buckets, so
  the fan-out is bounded and known.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

__all__ = [
    "as_of_join",
    "brown_double_smoothing",
    "range_join_buckets",
    "ewma_last",
    "forward_fill",
    "linear_interpolate",
]

#: the smoothing factor of ewma_last and brown_double_smoothing
ALPHA = 0.3

#: brown_double_smoothing fits each key's trailing this many rows
BROWN_LOOKBACK = 64

#: range_join_buckets' equi-join bucket width
RANGE_BUCKET_SECONDS = 1800


def brown_double_smoothing(
    df: DataFrame,
    *,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Brown's double exponential smoothing + 7-step linear forecast
    per key — the trend-aware upgrade of ``ewma_last``: two chained
    smoothings (s1 over the values, s2 over s1) estimate level AND
    trend, and the forecast extrapolates
    ŷ_{+h} = (2 + αh/(1-α))·s1 − (1 + αh/(1-α))·s2.

    Exactness contract: the recursion
    ``s1 ← α·x + (1-α)·s1; s2 ← α·s1 + (1-α)·s2`` is evaluated in the
    SAME IEEE operation order on both engines — a numpy fold here, a
    recursive CTE in the DuckDB oracle — so results are bit-identical
    before the output rounding. (The closed-form trick ewma_last uses
    does not extend: a closed form for s2 reorders the floating-point
    additions and drifts from any recursive replica.)

    Scale shape: fits run on each key's TRAILING ``BROWN_LOOKBACK``
    observations — per-key work and state are constant, the
    rolling-z-score bounded-window stance, which is also what a
    forecaster wants (stale history should age out of the level
    estimate). One keyed window ranks rows, then keys co-locate with a
    hash repartition and ONE ``mapInPandas`` pass folds EVERY key in
    the partition simultaneously: the recursion runs ``BROWN_LOOKBACK``
    vectorized steps over a (keys × BROWN_LOOKBACK) matrix with a
    valid-length mask, so Python-side cost is per-STEP, not per-key —
    the per-group ``applyInPandas`` form measured 6.5 s at sf0.1
    (1 500 groups of Arrow overhead), this form runs the same
    per-element IEEE ops (masked elements never update, so results
    are bit-identical to the scalar fold) at a fraction of it.

    Returns (key, n_fit, s1, s2, forecast) with s1/s2/forecast rounded
    to 6 dp."""
    import numpy as np
    import pandas as pd

    alpha, horizon, lookback = ALPHA, 7, BROWN_LOOKBACK
    q = 1.0 - alpha
    factor = alpha * horizon / q

    w = W.partitionBy(key_col).orderBy(
        F.col(ts_col).desc(), F.col(tiebreak_col).desc()
    )
    recent = (
        df.select(key_col, ts_col, tiebreak_col, value_col)
        .withColumn("_rev", F.row_number().over(w))
        .filter(F.col("_rev") <= lookback)
        .select(key_col, value_col, "_rev")
    )
    n_part = df.sparkSession.sparkContext.defaultParallelism
    co = recent.repartition(n_part, F.col(key_col))

    key_t = df.schema[key_col].dataType.simpleString()
    out_schema = (
        f"{key_col} {key_t}, n_fit long, s1 double, s2 double, "
        "forecast double"
    )

    def fold_partition(batches):
        # one partition may arrive as several Arrow batches and a key's
        # rows must fold together — concat first (bounded: ≤ lookback
        # rows per key after the trailing-window filter)
        pdfs = [p for p in batches if not p.empty]
        if not pdfs:
            return
        pdf = pd.concat(pdfs).sort_values(
            [key_col, "_rev"], ascending=[True, False]
        )  # per key: oldest first
        keys = pdf[key_col].to_numpy()
        vals = pdf[value_col].to_numpy(dtype=np.float64)
        uniq, starts, lens = np.unique(
            keys, return_index=True, return_counts=True
        )
        n_keys, maxlen = len(uniq), int(lens.max())
        X = np.zeros((n_keys, maxlen), dtype=np.float64)
        for j, (s, ln) in enumerate(zip(starts, lens)):
            X[j, :ln] = vals[s : s + ln]
        s1 = X[:, 0].copy()
        s2 = s1.copy()
        for i in range(1, maxlen):
            upd = i < lens
            ns1 = alpha * X[:, i] + q * s1
            ns2 = alpha * ns1 + q * s2
            s1 = np.where(upd, ns1, s1)
            s2 = np.where(upd, ns2, s2)
        fc = (2.0 + factor) * s1 - (1.0 + factor) * s2
        # no rounding HERE: numpy/Python round is half-to-even while
        # both engines' SQL round() is half-away — the 6dp rounding
        # happens in F.round below to match the oracle's rounding mode
        yield pd.DataFrame(
            {
                key_col: uniq,
                "n_fit": lens.astype(np.int64),
                "s1": s1,
                "s2": s2,
                "forecast": fc,
            }
        )

    out = co.mapInPandas(fold_partition, out_schema)
    return out.select(
        key_col,
        "n_fit",
        F.round("s1", 6).alias("s1"),
        F.round("s2", 6).alias("s2"),
        F.round("forecast", 6).alias("forecast"),
    )


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    *,
    ts: str,
    by: list[str],
    right_value_cols: list[str],
    tolerance_seconds: int | None = None,
    direction: str = "backward",
    tiebreak: str | None = None,
) -> DataFrame:
    """As-of join: each left row gets the nearest right row with the
    same by-key — ``direction='backward'`` (default) the most recent
    with ``right.ts <= left.ts``; ``'forward'`` the next with
    ``right.ts >= left.ts``. Both are ONE shuffle on the by-key.

    Right-side payload travels as one struct column; at equal
    timestamps the right row matches (inclusive, DuckDB ASOF
    semantics) in either direction. The forward variant is the same
    union-then-window plan with the frame reversed (following instead
    of preceding) and the sort tie flipped.

    ``tiebreak`` names a right-side column deciding between MULTIPLE
    right rows sharing the nearest timestamp: the row with the
    SMALLEST non-null tiebreak value wins, under any partition layout
    (NULL tiebreaks lose to any non-null; ties among multiple NULLs
    remain layout-dependent, so pass a non-null column). Without it,
    equal-(by, ts) right rows leave the pick to partition order —
    fine for unique timestamps, nondeterministic otherwise.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    rv = F.struct(
        F.col(ts).alias("_rts"), *[F.col(c) for c in right_value_cols]
    )
    r = right.select(
        *by, F.col(ts).alias(ts), rv.alias("_rv"),
        *( [F.col(tiebreak).alias("_tb")] if tiebreak else [] ),
    ).withColumn("_side", F.lit(0))
    l = left.withColumn("_rv", F.lit(None).cast(r.schema["_rv"].dataType)).withColumn(
        "_side", F.lit(1)
    )
    combined = l.unionByName(r, allowMissingColumns=True)

    if direction == "backward":
        # last() at the left row scans backward: among equal-ts right
        # rows the LATEST in sort order wins, so tiebreak sorts DESC
        # to make that the smallest value
        order = [F.col(ts).asc(), F.col("_side").asc()]
        if tiebreak:
            # last-wins scan: smallest real tiebreak must sort LAST and
            # NULL tiebreaks FIRST (they lose to any non-null)
            order.append(F.col("_tb").desc_nulls_first())
        w = (
            W.partitionBy(*by)
            .orderBy(*order)
            .rowsBetween(W.unboundedPreceding, 0)
        )
        carried = combined.withColumn(
            "_m", F.last("_rv", ignorenulls=True).over(w)
        )
        gap = F.unix_micros(F.col(ts)) - F.unix_micros(F.col("_m._rts"))
    else:
        order = [F.col(ts).asc(), F.col("_side").desc()]
        if tiebreak:
            # first-wins scan: smallest real tiebreak first, NULLs last
            order.append(F.col("_tb").asc_nulls_last())
        w = (
            W.partitionBy(*by)
            .orderBy(*order)
            .rowsBetween(0, W.unboundedFollowing)
        )
        carried = combined.withColumn(
            "_m", F.first("_rv", ignorenulls=True).over(w)
        )
        gap = F.unix_micros(F.col("_m._rts")) - F.unix_micros(F.col(ts))
    out = carried.filter(F.col("_side") == 1).drop("_rv", "_side")
    if tiebreak:
        out = out.drop("_tb")
    if tolerance_seconds is not None:
        out = out.withColumn(
            "_m",
            F.when(gap <= tolerance_seconds * 1_000_000, F.col("_m")),
        )
    return out.withColumnRenamed("_m", "matched")


def range_join_buckets(
    events: DataFrame,
    windows: DataFrame,
    *,
    by: list[str],
    event_ts: str,
    win_start: str,
    win_end: str,
) -> DataFrame:
    """Interval join: event rows matched to every window row of the same
    by-key with ``win_start <= event_ts <= win_end``.

    Equi-join on (by, ``RANGE_BUCKET_SECONDS`` bucket) with windows
    exploded over the buckets they span, then an exact range filter.
    Each event occupies exactly one bucket, so no post-join dedup is
    needed.
    """
    bucket_seconds = RANGE_BUCKET_SECONDS
    ev = events.withColumn(
        "_bkt", F.floor(F.unix_micros(F.col(event_ts)) / (bucket_seconds * 1_000_000))
    )
    win = windows.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.floor(
                    F.unix_micros(F.col(win_start)) / (bucket_seconds * 1_000_000)
                ),
                F.floor(
                    F.unix_micros(F.col(win_end)) / (bucket_seconds * 1_000_000)
                ),
            )
        ),
    )
    joined = ev.join(win, on=by + ["_bkt"])
    return joined.filter(
        (F.col(event_ts) >= F.col(win_start)) & (F.col(event_ts) <= F.col(win_end))
    ).drop("_bkt")


def ewma_last(
    df: DataFrame,
    *,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Exponentially-weighted moving average per key (α = ``ALPHA``), reporting the
    final (most-recent) smoothed value — the standard time-series
    smoother (s_1 = x_1; s_i = α·x_i + (1-α)·s_{i-1}).

    Implemented via the closed form
    ``s_n = (1-α)^(n-1)·x_1 + Σ_{i=2..n} α·(1-α)^(n-i)·x_i``:
    one window over the key assigns each row its order index, the
    per-row weight is a scalar expression, and a hash aggregate on the
    same key sums the weighted values — no recursion, no Python.

    Scale shape: ONE shuffle on the key (the window); the following
    group-by reuses the same hash partitioning so no second exchange.
    Weights decay geometrically, so long histories underflow to exact
    0.0 contributions rather than accumulating error. Ordering ties on
    ``ts_col`` are broken by ``tiebreak_col`` so the result is
    deterministic under any partition layout.

    Returns (key, n_events, ewma) with ``ewma`` unrounded — callers
    that hash-compare across engines should round.
    """
    alpha = ALPHA
    w = W.partitionBy(key_col).orderBy(F.col(ts_col), F.col(tiebreak_col))
    rn = F.row_number().over(w)
    n = F.count("*").over(W.partitionBy(key_col))
    x = F.col(value_col).cast("double")
    weight = F.when(
        F.col("_rn") == 1, F.pow(F.lit(1.0 - alpha), F.col("_n") - 1)
    ).otherwise(F.lit(alpha) * F.pow(F.lit(1.0 - alpha), F.col("_n") - F.col("_rn")))
    return (
        df.select(F.col(key_col), x.alias("_x"), rn.alias("_rn"), n.alias("_n"))
        .withColumn("_w", weight)
        .groupBy(key_col)
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("_x") * F.col("_w")).alias("ewma"),
        )
    )


def forward_fill(
    df: DataFrame,
    value_col: str,
    *,
    key_cols: list[str],
    order_col: str,
) -> Column:
    """Last-observation-carried-forward as a Column: the latest
    non-null ``value_col`` at or before each row within the key's
    ordered series (null until the first observation — no invention of
    data before it exists).

    One window shuffle on the key; ``last(..., ignorenulls=True)`` over
    an UNBOUNDED PRECEDING frame evaluates streaming within each
    partition (running state is a single scalar), so the fill costs the
    same as any keyed cumulative — no self-join, no per-gap backtrack.
    The gap-fill twin of ``ewma_last``: LOCF for staircase series
    (balances, settings, latest-known readings), EWMA for smoothing.

    ``df`` is the frame the Column will be selected from — validated
    here so a wrong-frame/missing-column mistake fails at the call
    site, not at a distant resolution point.
    """
    missing = [c for c in (value_col, order_col, *key_cols)
               if c not in df.columns]
    if missing:
        raise ValueError(
            f"forward_fill: column(s) {missing} not in frame "
            f"({df.columns})"
        )
    w = (
        W.partitionBy(*key_cols)
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return F.last(F.col(value_col), ignorenulls=True).over(w)


def linear_interpolate(
    df: DataFrame,
    value_col: str,
    *,
    key_cols: list[str],
    order_col: str,
) -> Column:
    """Straight-line gap fill as a Column: null ``value_col`` rows take
    the linear interpolation between the nearest non-null observation
    at-or-before and at-or-after them in the key's ordered series.
    Rows outside the observed range (before the first or after the
    last observation) stay NULL — like :func:`forward_fill`, the fill
    never invents data beyond what brackets it.

    The interpolation weight is the ratio of order-axis distances:
    exact integer day-diffs for DATE order columns, double subtraction
    for numeric/timestamp ones.

    One window shuffle on the key evaluates BOTH directional scans
    (the backward ``last(ignorenulls)`` and the forward
    ``first(ignorenulls)`` share one sort), each with scalar running
    state — no self-join, no per-gap backtracking, so the cost class
    is identical to a keyed cumulative at any scale.
    """
    missing = [c for c in (value_col, order_col, *key_cols)
               if c not in df.columns]
    if missing:
        raise ValueError(
            f"linear_interpolate: column(s) {missing} not in frame "
            f"({df.columns})"
        )
    dtype = dict(df.dtypes)[order_col]
    if dtype == "date":
        def dist(a: Column, b: Column) -> Column:
            return F.datediff(a, b).cast("double")
    else:
        def dist(a: Column, b: Column) -> Column:
            return a.cast("double") - b.cast("double")

    v = F.col(value_col)
    wb = (
        W.partitionBy(*key_cols)
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wf = (
        W.partitionBy(*key_cols)
        .orderBy(order_col)
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    obs_order = F.when(v.isNotNull(), F.col(order_col))
    pv = F.last(v, ignorenulls=True).over(wb)
    pd_ = F.last(obs_order, ignorenulls=True).over(wb)
    nv = F.first(v, ignorenulls=True).over(wf)
    nd = F.first(obs_order, ignorenulls=True).over(wf)
    return (
        F.when(v.isNotNull(), v)
        .when(
            pv.isNotNull() & nv.isNotNull(),
            pv
            + (nv - pv)
            * dist(F.col(order_col), pd_)
            / dist(nd, pd_),
        )
    )
