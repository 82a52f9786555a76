"""Behavioral / product-analytics round-out over the ``events`` fixture:
ordered funnel conversion, weekly retention cohorts, rolling z-score
anomaly detection, and linear time-series interpolation (the midpoint
complement of warehouse_queries' LOCF fill).

These are the event-log query shapes the reference's task layer feeds
into BI (daily_dag.py:117-176 loads scored event frames for exactly
this kind of downstream slicing); here they are first-class engine
queries with DuckDB oracles.

Scale stances (SCALE.md "events family"):
- funnel: three hash aggregations and two joins ALL keyed on user_id —
  one logical shuffle key reused end-to-end, then three 1-row scalar
  frames broadcast into the final report row;
- retention: two user-keyed aggs + one (cohort, offset)-keyed agg whose
  output is calendar-bounded (weeks × weeks), never data-bounded;
- z-score: a single user-keyed window shuffle; the 20-row frame is
  running state, not a self-join;
- interpolation: same calendar-grid shape as LOCF — the grid is
  (users × days), the two fill windows are one user-keyed shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import load_tables, query

# --------------------------------------------------------------------------
# Ordered funnel: view -> click -> purchase
# --------------------------------------------------------------------------


@query(
    "funnel_view_click_purchase",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      GROUP BY e.user_id
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_view,
           (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_click,
           (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchase,
           round((SELECT count(*) FROM c) * 1.0
                 / (SELECT count(*) FROM v), 4) AS click_rate,
           round((SELECT count(*) FROM p) * 1.0
                 / (SELECT count(*) FROM v), 4) AS purchase_rate
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered three-stage funnel: a user converts a stage only
    with an event strictly AFTER their entry into the previous stage
    (min-timestamp chaining — the standard "ordered funnel" semantics,
    not mere per-type existence). Output is one report row with stage
    populations and conversion rates.

    Plan: stage N is a filtered scan joined to stage N-1's (user, ts)
    frame and re-aggregated — every shuffle in the chain is keyed on
    user_id, so a 100 TB event log moves through ONE partitioning
    scheme; the three stage populations are 1-row aggregates combined
    by broadcast cross-join (the registry's accepted scalar pattern)."""
    (events,) = load_tables(spark, sf_dir, "events")
    ev = events.select("user_id", "event_type", "ts")

    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    nv = v.agg(F.count("*").alias("n_view"))
    nc = c.agg(F.count("*").alias("n_click"))
    np_ = p.agg(F.count("*").alias("n_purchase"))
    return (
        nv.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(np_))
        .select(
            "n_view",
            "n_click",
            "n_purchase",
            F.round(F.col("n_click") / F.col("n_view"), 4).alias("click_rate"),
            F.round(F.col("n_purchase") / F.col("n_view"), 4).alias(
                "purchase_rate"
            ),
        )
    )


# --------------------------------------------------------------------------
# Weekly retention cohorts
# --------------------------------------------------------------------------


@query(
    "weekly_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort
      FROM events GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      FROM events
    )
    SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', f.cohort, a.wk) / 7 AS BIGINT)
             AS week_offset,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM active a JOIN firsts f ON f.user_id = a.user_id
    GROUP BY f.cohort, date_diff('day', f.cohort, a.wk) / 7
    """,
)
def weekly_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention triangle: users are cohorted by the ISO week of
    their first event; each (cohort_week, week_offset) cell counts the
    distinct cohort members active that many weeks later. Both engines
    truncate weeks to Monday, so offsets are exact multiples of 7 days
    and the integer division is exact.

    Plan: first-event agg and distinct-activity agg are both keyed on
    user_id (one reusable shuffle), their join likewise; the final agg
    keys on (cohort, offset) — a calendar-bounded grid (weeks²/2 cells)
    regardless of corpus size, so the output stage is trivially small
    even at 100 TB."""
    (events,) = load_tables(spark, sf_dir, "events")

    firsts = events.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort")
    )
    active = events.select(
        "user_id", F.to_date(F.date_trunc("week", F.col("ts"))).alias("wk")
    ).distinct()
    joined = active.join(firsts, "user_id")
    return (
        joined.groupBy(
            "cohort",
            (F.datediff(F.col("wk"), F.col("cohort")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
        .select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            "n_users",
        )
    )


# --------------------------------------------------------------------------
# Rolling z-score anomaly detection
# --------------------------------------------------------------------------

_Z_LOOKBACK = 20  # preceding-rows frame width
_Z_MIN_OBS = 10  # minimum observations before scoring
_Z_THRESHOLD = 2.5


@query(
    "rolling_zscore_anomalies",
    oracle=f"""
    WITH scored AS (
      SELECT user_id, event_id, value,
             avg(value) OVER w AS mu,
             stddev_samp(value) OVER w AS sigma,
             count(*) OVER w AS n_prev
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN {_Z_LOOKBACK} PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, event_id,
           round(value, 4) AS value,
           round((value - mu) / sigma, 4) AS zscore
    FROM scored
    WHERE n_prev >= {_Z_MIN_OBS} AND sigma > 0
      AND abs(round((value - mu) / sigma, 4)) > {_Z_THRESHOLD}
    """,
)
def rolling_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detector: each event's value is scored
    against the mean/stddev of the user's PRECEDING {_Z_LOOKBACK} events
    (strictly exclusive of the current row — no self-leakage), and rows
    whose |z| exceeds {_Z_THRESHOLD} are flagged. Warm-up rows (fewer
    than {_Z_MIN_OBS} priors) and zero-variance frames are skipped.
    The threshold is applied to the ROUNDED z in both engines so the
    inclusion boundary is identical.

    Plan: one window shuffle keyed on user_id; the bounded rows-frame is
    running state inside each partition (Spark evaluates bounded frames
    with a sliding accumulator, not a self-join), so cost is one shuffle
    + one ordered pass at any scale. Skewed power-users are bounded by
    per-user event counts, the same axis sessionize_events documents."""
    (events,) = load_tables(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-_Z_LOOKBACK, -1)
    )
    scored = events.select(
        "user_id",
        "event_id",
        "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sigma"),
        F.count("*").over(w).alias("n_prev"),
    )
    z = F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 4)
    return (
        scored.filter(
            (F.col("n_prev") >= _Z_MIN_OBS)
            & (F.col("sigma") > 0)
            & (F.abs(z) > _Z_THRESHOLD)
        )
        .select(
            "user_id",
            "event_id",
            F.round("value", 4).alias("value"),
            z.alias("zscore"),
        )
    )


# --------------------------------------------------------------------------
# Linear interpolation over the daily calendar grid
# --------------------------------------------------------------------------


@query(
    "daily_user_value_interp",
    oracle="""
    WITH bounds AS (
      SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi
      FROM events
    ),
    days AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
      FROM bounds
    ),
    users AS (
      SELECT DISTINCT user_id FROM events WHERE user_id % 10 = 1
    ),
    daily AS (
      -- exact integer basis points (value * 1e4): every arithmetic
      -- step below stays exact in both engines, so the one final
      -- rounding sees bit-identical doubles
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(round(avg(value) * 10000) AS BIGINT) AS v4
      FROM events WHERE user_id % 10 = 1
      GROUP BY user_id, CAST(ts AS DATE)
    ),
    grid AS (
      SELECT u.user_id, d.day, dl.v4
      FROM users u CROSS JOIN days d
      LEFT JOIN daily dl ON dl.user_id = u.user_id AND dl.day = d.day
    ),
    filled AS (
      SELECT user_id, day, v4,
             last_value(v4 IGNORE NULLS) OVER wb AS pv,
             last_value(CASE WHEN v4 IS NOT NULL THEN day END IGNORE NULLS)
               OVER wb AS pd,
             first_value(v4 IGNORE NULLS) OVER wf AS nv,
             first_value(CASE WHEN v4 IS NOT NULL THEN day END IGNORE NULLS)
               OVER wf AS nd
      FROM grid
      WINDOW
        wb AS (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wf AS (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
           CAST(round(CASE
             WHEN v4 IS NOT NULL THEN CAST(v4 AS DOUBLE)
             WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
               pv + (nv - pv) * date_diff('day', pd, day)
                    * 1.0 / date_diff('day', pd, nd)
           END) AS BIGINT) / 10000.0 AS value_interp
    FROM filled
    """,
)
def daily_user_value_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense daily per-user series with LINEAR interpolation between
    observations (operators/temporal.py::linear_interpolate): gap days
    take the straight-line value between the bracketing observed days;
    days outside a user's observed range stay NULL (no extrapolation —
    the same "never invent data" contract as LOCF).

    Cross-engine determinism: interpolation midpoints of 4-decimal
    anchors land EXACTLY on .00005 rounding boundaries, where the two
    engines' double→decimal rounding splits (observed: 3/450 rows on
    the naive formulation). So the anchors are exact integer basis
    points (daily mean × 10⁴ as long): every interpolation step is
    then exact integer arithmetic or a single correctly-rounded
    division that both engines perform on identical operands, and the
    final rounding sees bit-identical doubles — boundary-immune by
    construction.

    Plan: identical shape to daily_user_value_locf — calendar grid
    (users × days) left-joined with the sparse daily agg, then ONE
    user-keyed window shuffle evaluating both directional fills
    (backward last_value and forward first_value share the same sort)."""
    from ..operators.temporal import linear_interpolate

    (events,) = load_tables(spark, sf_dir, "events")
    ev = events.filter(F.col("user_id") % 10 == 1)
    bounds = events.select(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    )
    days = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    users = ev.select("user_id").distinct()
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.round(F.avg("value") * 10000).cast("long").alias("v4")
    )
    grid = users.crossJoin(F.broadcast(days))
    joined = grid.join(daily, ["user_id", "day"], "left")
    return joined.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        (
            F.round(
                linear_interpolate(
                    joined, "v4", key_cols=["user_id"], order_col="day"
                )
            ).cast("long")
            / 10000.0
        ).alias("value_interp"),
    )


# --------------------------------------------------------------------------
# Event-sequence pattern detection (CEP via chained forward as-of joins)
# --------------------------------------------------------------------------


@query(
    "event_sequence_patterns",
    oracle="""
    WITH v AS (
      SELECT user_id, ts AS vts, event_id AS view_id
      FROM events WHERE event_type = 'view'
    ),
    c AS (
      SELECT user_id, ts AS cts, event_id AS click_id
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id, ts AS pts, event_id AS purchase_id
      FROM events WHERE event_type = 'purchase'
    ),
    s1 AS (
      SELECT v.user_id, v.view_id, v.vts,
             (SELECT min(c.cts) FROM c
              WHERE c.user_id = v.user_id
                AND c.cts >= v.vts
                AND c.cts <= v.vts + INTERVAL 24 HOUR) AS cts
      FROM v
    ),
    s1m AS (
      SELECT s1.*,
             (SELECT min(c.click_id) FROM c
              WHERE c.user_id = s1.user_id AND c.cts = s1.cts) AS click_id
      FROM s1 WHERE s1.cts IS NOT NULL
    ),
    s2 AS (
      SELECT m.*,
             (SELECT min(p.pts) FROM p
              WHERE p.user_id = m.user_id
                AND p.pts >= m.cts
                AND p.pts <= m.cts + INTERVAL 72 HOUR) AS pts
      FROM s1m m
    ),
    s2m AS (
      SELECT s2.*,
             (SELECT min(p.purchase_id) FROM p
              WHERE p.user_id = s2.user_id AND p.pts = s2.pts) AS purchase_id
      FROM s2 WHERE s2.pts IS NOT NULL
    )
    SELECT user_id, view_id, click_id, purchase_id,
           epoch_us(cts) - epoch_us(vts) AS view_to_click_us,
           epoch_us(pts) - epoch_us(cts) AS click_to_purchase_us
    FROM s2m
    """,
)
def event_sequence_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing pattern match: every occurrence of
    view → (first click ≤ 24 h later) → (first purchase ≤ 72 h
    after that click), per user — the MATCH_RECOGNIZE/funnel-per-
    instance shape, composed from TWO chained forward as-of joins
    (operators/temporal.py::as_of_join, direction='forward' with
    tolerance). Unlike funnel_view_click_purchase (first conversion
    per user), this emits one row PER completed pattern instance with
    exact microsecond stage gaps.

    Plan: each as-of stage is the union-then-window single shuffle on
    user_id — the same key both stages and the event scan share, so a
    100 TB log streams through one partitioning; no self-join, no
    inequality join, state per key is one running struct. The oracle
    replays the semantics with correlated min-subqueries (DuckDB
    decorrelates them itself)."""
    from ..operators.temporal import as_of_join

    (events,) = load_tables(spark, sf_dir, "events")
    ev = events.select("user_id", "event_type", "ts", "event_id")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )

    s1 = as_of_join(
        views, clicks,
        ts="ts", by=["user_id"], right_value_cols=["click_id"],
        tolerance_seconds=86400, direction="forward", tiebreak="click_id",
    )
    s1 = s1.filter(F.col("matched").isNotNull()).select(
        "user_id",
        "view_id",
        F.col("ts").alias("vts"),
        F.col("matched._rts").alias("ts"),
        F.col("matched.click_id").alias("click_id"),
    )
    s2 = as_of_join(
        s1, purchases,
        ts="ts", by=["user_id"], right_value_cols=["purchase_id"],
        tolerance_seconds=259200, direction="forward", tiebreak="purchase_id",
    )
    return s2.filter(F.col("matched").isNotNull()).select(
        "user_id",
        "view_id",
        "click_id",
        F.col("matched.purchase_id").alias("purchase_id"),
        (F.unix_micros("ts") - F.unix_micros("vts")).alias("view_to_click_us"),
        (F.unix_micros("matched._rts") - F.unix_micros("ts")).alias(
            "click_to_purchase_us"
        ),
    )


# --------------------------------------------------------------------------
# Daily new vs returning users
# --------------------------------------------------------------------------


@query(
    "daily_new_returning_users",
    oracle="""
    WITH du AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    firsts AS (
      SELECT user_id, min(day) AS first_day FROM du GROUP BY user_id
    ),
    daily AS (
      SELECT du.day,
             CAST(count(*) AS BIGINT) AS active_users,
             CAST(coalesce(sum(CASE WHEN f.first_day = du.day THEN 1 END), 0)
                  AS BIGINT) AS new_users
      FROM du JOIN firsts f USING (user_id)
      GROUP BY du.day
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           active_users,
           new_users,
           active_users - new_users AS returning_users,
           CAST(sum(new_users) OVER (ORDER BY day) AS BIGINT)
             AS cum_users
    FROM daily
    """,
)
def daily_new_returning_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active / new / returning user counts with a cumulative
    user total — the growth-accounting companion to the retention
    triangle (a "new" user is one whose FIRST-ever event lands that
    day; cumulative new == all users ever seen, the first-seen
    pattern that computes running distinct-user counts WITHOUT a
    running-distinct aggregate).

    Plan: one (user, day) distinct and one per-user min — both keyed
    on user_id like the rest of the events family — joined on user_id
    and re-aggregated by day. The cumulative sum is a global window
    over the POST-AGGREGATION frame: O(calendar days) rows regardless
    of corpus size, the acceptable single-partition class."""
    (events,) = load_tables(spark, sf_dir, "events")

    du = events.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    firsts = du.groupBy("user_id").agg(F.min("day").alias("first_day"))
    daily = (
        du.join(firsts, "user_id")
        .groupBy("day")
        .agg(
            F.count("*").alias("active_users"),
            F.sum(
                (F.col("first_day") == F.col("day")).cast("long")
            ).alias("new_users"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "active_users",
        "new_users",
        (F.col("active_users") - F.col("new_users")).alias("returning_users"),
        F.sum("new_users").over(w).alias("cum_users"),
    )


# --------------------------------------------------------------------------
# Daily OHLC bars
# --------------------------------------------------------------------------


@query(
    "daily_ohlc_bars",
    oracle="""
    SELECT user_id,
           strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           (min({'t': ts, 'e': event_id, 'v': value}))['v'] AS open,
           max(value) AS high,
           min(value) AS low,
           (max({'t': ts, 'e': event_id, 'v': value}))['v'] AS close,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY user_id, CAST(ts AS DATE)
    """,
)
def daily_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open/high/low/close bars per user over the event value
    stream — the bar-building aggregation the reference's stock
    pipeline consumes pre-made from its market-data API
    (daily_dag.py:91-94's OHLC columns), here computed from raw ticks.

    ONE hash aggregate, no window: open/close are min/max over a
    (ts, event_id, value) struct — lexicographic struct ordering picks
    the earliest/latest row with the event_id tiebreak making ties
    deterministic, and the struct min combines MAP-SIDE like any other
    min, where the row_number formulation would force a full sort
    shuffle. All outputs are exact row picks or exact extrema of
    stored doubles (never sums), so no rounding is needed anywhere."""
    (events,) = load_tables(spark, sf_dir, "events")

    pick = F.struct("ts", "event_id", "value")
    return (
        events.groupBy(
            "user_id", F.to_date("ts").alias("_d")
        )
        .agg(
            F.min(pick).alias("_first"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(pick).alias("_last"),
            F.count("*").alias("n_events"),
        )
        .select(
            "user_id",
            F.date_format("_d", "yyyy-MM-dd").alias("day"),
            F.col("_first.value").alias("open"),
            "high",
            "low",
            F.col("_last.value").alias("close"),
            "n_events",
        )
    )


# --------------------------------------------------------------------------
# Per-user linear trend (regression aggregates)
# --------------------------------------------------------------------------


@query(
    "user_value_trend",
    oracle="""
    SELECT user_id,
           CAST(regr_count(value, date_diff('day', DATE '2024-01-01',
                                            CAST(ts AS DATE))) AS BIGINT)
             AS n_obs,
           round(regr_slope(value, date_diff('day', DATE '2024-01-01',
                                             CAST(ts AS DATE))), 6)
             AS slope,
           round(regr_intercept(value, date_diff('day', DATE '2024-01-01',
                                                 CAST(ts AS DATE))), 6)
             AS intercept,
           round(regr_r2(value, date_diff('day', DATE '2024-01-01',
                                          CAST(ts AS DATE))), 6) AS r2
    FROM events
    GROUP BY user_id
    """,
)
def user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user linear trend of event value over time via the SQL
    regression aggregates (regr_slope/intercept/r2/count) — per-key
    OLS as a closed-form single-pass aggregate, NO grouped-map UDF
    (the applyInPandas formulation ships every row through Arrow; the
    aggregate form combines map-side like any sum). The regressor is
    days since 2024-01-01 — a SMALL x anchored near the data, because
    regression moments over a large raw-epoch x cancel catastrophically
    and the 6-dp cross-engine rounding stops absorbing the difference.
    Degenerate keys (all events one day) yield NULL slope in both
    engines."""
    (events,) = load_tables(spark, sf_dir, "events")

    x = F.datediff(F.to_date("ts"), F.to_date(F.lit("2024-01-01"))).cast(
        "double"
    )
    return events.groupBy("user_id").agg(
        F.regr_count("value", x).alias("n_obs"),
        F.round(F.regr_slope("value", x), 6).alias("slope"),
        F.round(F.regr_intercept("value", x), 6).alias("intercept"),
        F.round(F.regr_r2("value", x), 6).alias("r2"),
    )



_CLOSES_SQL = """
    closes AS (
      SELECT user_id,
             CAST(ts AS DATE) AS d,
             (max({'t': ts, 'e': event_id, 'v': value}))['v'] AS close
      FROM events
      GROUP BY user_id, CAST(ts AS DATE)
    )
"""


def _daily_closes(events: DataFrame) -> DataFrame:
    """(user_id, _d, close): the deterministic struct-max daily close
    pick shared by the returns and drawdown queries (daily_ohlc_bars
    derives the full OHLC tuple and keeps its own agg)."""
    pick = F.struct("ts", "event_id", "value")
    return (
        events.groupBy("user_id", F.to_date("ts").alias("_d"))
        .agg(F.max(pick).alias("_last"))
        .select("user_id", "_d", F.col("_last.value").alias("close"))
    )


# --------------------------------------------------------------------------
# Daily log returns + rolling volatility
# --------------------------------------------------------------------------


@query(
    "daily_returns_volatility",
    oracle=f"""
    WITH {_CLOSES_SQL},
    rets AS (
      SELECT user_id, d, close,
             CASE WHEN close > 0 AND lag(close) OVER w > 0 THEN
               round(ln(close / lag(close) OVER w), 6)
             END AS log_ret
      FROM closes
      WINDOW w AS (PARTITION BY user_id ORDER BY d)
    )
    SELECT user_id,
           strftime(d, '%Y-%m-%d') AS day,
           round(close, 6) AS close,
           log_ret,
           CASE WHEN count(log_ret) OVER v >= 2 THEN
             round(sqrt(greatest(
               (sum(log_ret * log_ret) OVER v
                - sum(log_ret) OVER v * sum(log_ret) OVER v
                  / count(log_ret) OVER v)
               / (count(log_ret) OVER v - 1), 0)), 6)
           END AS vol_7d
    FROM rets
    WINDOW v AS (PARTITION BY user_id ORDER BY d
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def daily_returns_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily log returns per user plus trailing-7-observation
    volatility — the returns/volatility pair every market pipeline
    derives from its OHLC closes (the reference stores raw closes,
    daily_dag.py:98-103, and defers this math to its BigQuery users).
    The close is the same deterministic (ts, event_id, value)
    struct-max pick as daily_ohlc_bars; volatility is computed from
    explicit frame sums ((Σx² − (Σx)²/n)/(n−1)) so BOTH engines
    evaluate the identical expression in identical frame order —
    library stddev implementations differ algorithmically (Welford vs
    co-moment) in their last bits, which a hash comparison cannot
    forgive. Returns are rounded BEFORE the volatility frame so the
    downstream sums start from hash-identical inputs. One user-keyed
    shuffle; both windows share it (the events-family partitioning)."""
    (events,) = load_tables(spark, sf_dir, "events")

    closes = _daily_closes(events)
    wo = Window.partitionBy("user_id").orderBy("_d")
    prev = F.lag("close").over(wo)
    # zero/negative closes happen in real tick data (and in the sf0.1
    # fixture): guard BOTH the ANSI division and ln — the conditional
    # keeps the branch unevaluated, so no DIVIDE_BY_ZERO under Spark
    # 4's ANSI default, and the oracle's CASE mirrors it exactly
    rets = closes.withColumn(
        "log_ret",
        F.when(
            (F.col("close") > 0) & (prev > 0),
            F.round(F.log(F.col("close") / prev), 6),
        ),
    )
    wv = wo.rowsBetween(-6, 0)
    n = F.count("log_ret").over(wv)
    sx = F.sum("log_ret").over(wv)
    sxx = F.sum(F.col("log_ret") * F.col("log_ret")).over(wv)
    # greatest(.., 0): the textbook variance form can cancel to a tiny
    # negative double on near-constant frames — Spark sqrt(neg) is NaN
    # while DuckDB ERRORS, so both sides clamp
    var = F.greatest((sxx - sx * sx / n) / (n - 1), F.lit(0.0))
    return rets.select(
        "user_id",
        F.date_format("_d", "yyyy-MM-dd").alias("day"),
        F.round("close", 6).alias("close"),
        "log_ret",
        F.when(n >= 2, F.round(F.sqrt(var), 6)).alias("vol_7d"),
    )


# --------------------------------------------------------------------------
# Maximum drawdown
# --------------------------------------------------------------------------


@query(
    "max_drawdown_per_user",
    oracle=f"""
    WITH {_CLOSES_SQL},
    dd AS (
      SELECT user_id, d,
             CASE WHEN max(close) OVER w > 0 THEN
               close / max(close) OVER w - 1
             END AS drawdown
      FROM closes
      WINDOW w AS (PARTITION BY user_id ORDER BY d
                   ROWS UNBOUNDED PRECEDING)
    )
    SELECT user_id,
           round((min({{'dd': drawdown, 'day': d}}))['dd'], 6)
             AS max_drawdown,
           strftime((min({{'dd': drawdown, 'day': d}}))['day'], '%Y-%m-%d')
             AS trough_day
    FROM dd
    WHERE drawdown IS NOT NULL
    GROUP BY user_id
    """,
)
def max_drawdown_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user — the worst peak-to-trough decline of
    the daily close series, with the trough date (finance's standard
    risk companion to volatility). Drawdown = close / running-max − 1
    involves NO summation: identical doubles divide identically in
    both engines, so the struct-min argmin (smallest drawdown, then
    earliest day as the deterministic tiebreak) needs no tolerance and
    only the reported ratio is rounded. One user-keyed window shuffle
    (running max is streaming state in-partition) + one map-side
    combining argmin agg."""
    (events,) = load_tables(spark, sf_dir, "events")

    closes = _daily_closes(events)
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("_d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    runmax = F.max("close").over(wrun)
    # a non-positive running max (all closes so far <= 0) has no
    # meaningful drawdown: guard the ANSI division and DROP those rows
    # before the argmin — NULL-in-struct ordering DIVERGES between
    # engines (Spark sorts null-dd structs first, DuckDB last), so
    # nulls must never reach the min
    dd = closes.select(
        "user_id",
        "_d",
        F.when(runmax > 0, F.col("close") / runmax - 1).alias("_dd"),
    ).filter(F.col("_dd").isNotNull())
    best = dd.groupBy("user_id").agg(
        F.min(F.struct(F.col("_dd"), F.col("_d"))).alias("_m")
    )
    return best.select(
        "user_id",
        F.round(F.col("_m._dd"), 6).alias("max_drawdown"),
        F.date_format(F.col("_m._d"), "yyyy-MM-dd").alias("trough_day"),
    )


@query(
    "cohort_ltv_curves",
    oracle="""
    WITH firsts AS (
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort
      FROM events GROUP BY user_id
    ),
    sizes AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_users
              FROM firsts GROUP BY cohort),
    wk_rev AS (
      SELECT f.cohort,
             CAST(date_diff('day', f.cohort,
                  CAST(date_trunc('week', e.ts) AS DATE)) / 7 AS BIGINT)
               AS week_offset,
             CAST(round(sum(e.value) * 100) AS BIGINT) AS rev_cents
      FROM events e JOIN firsts f ON e.user_id = f.user_id
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT cohort, week_offset, rev_cents,
             CAST(sum(rev_cents) OVER (PARTITION BY cohort
                                       ORDER BY week_offset) AS BIGINT)
               AS cum_rev_cents
      FROM wk_rev
    )
    SELECT strftime(c.cohort, '%Y-%m-%d') AS cohort_week,
           c.week_offset,
           s.cohort_users,
           c.rev_cents,
           c.cum_rev_cents,
           round(c.cum_rev_cents / CAST(100 * s.cohort_users AS DOUBLE), 4)
             AS ltv_per_user
    FROM cum c JOIN sizes s ON c.cohort = s.cohort
    """,
)
def cohort_ltv_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves — the revenue companion to
    weekly_retention_cohorts: users cohorted by first-event week, each
    (cohort, week_offset) cell holds that week's event value and the
    running cumulative value, normalized to LTV-per-cohort-member.
    Retention says WHO comes back; this says what their return is
    WORTH — the pair every growth model joins.

    Plan: the same two user-keyed aggregates as retention (first-event
    + activity), one join on user_id, then everything runs on the
    calendar-bounded (cohort, offset) grid — the cumulative window
    partitions by cohort over O(weeks) rows, never event rows. Money
    is exact integer cents before the cumulative sum, so the running
    totals are bit-identical cross-engine and only the final
    per-user ratio rounds."""
    (events,) = load_tables(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort")
    )
    sizes = firsts.groupBy("cohort").agg(
        F.count("*").alias("cohort_users")
    )
    wk_rev = (
        events.join(firsts, "user_id")
        .groupBy(
            "cohort",
            (
                F.datediff(
                    F.to_date(F.date_trunc("week", F.col("ts"))), F.col("cohort")
                )
                / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.round(F.sum("value") * 100).cast("long").alias("rev_cents"))
    )
    w = Window.partitionBy("cohort").orderBy("week_offset")
    cum = wk_rev.withColumn(
        "cum_rev_cents",
        F.sum("rev_cents").over(w).cast("long"),
    )
    return cum.join(F.broadcast(sizes), "cohort").select(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
        "week_offset",
        "cohort_users",
        "rev_cents",
        "cum_rev_cents",
        F.round(
            F.col("cum_rev_cents")
            / (F.lit(100) * F.col("cohort_users")).cast("double"),
            4,
        ).alias("ltv_per_user"),
    )


@query(
    "brown_forecast_user_value",
    oracle="""
    WITH RECURSIVE o AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rev
      FROM events
    ),
    idx AS (
      SELECT user_id, CAST(value AS DOUBLE) AS value,
             row_number() OVER (PARTITION BY user_id ORDER BY rev DESC)
               AS rn
      FROM o WHERE rev <= 64
    ),
    r AS (
      SELECT user_id, rn, value AS s1, value AS s2
      FROM idx WHERE rn = 1
      UNION ALL
      SELECT i.user_id, i.rn,
             0.3 * i.value + (1.0 - 0.3) * r.s1,
             0.3 * (0.3 * i.value + (1.0 - 0.3) * r.s1)
               + (1.0 - 0.3) * r.s2
      FROM r JOIN idx i ON i.user_id = r.user_id AND i.rn = r.rn + 1
    ),
    last AS (SELECT user_id, max(rn) AS mx FROM idx GROUP BY user_id)
    SELECT r.user_id,
           CAST(l.mx AS BIGINT) AS n_fit,
           round(r.s1, 6) AS s1,
           round(r.s2, 6) AS s2,
           round((2.0 + (0.3 * 7) / (1.0 - 0.3)) * r.s1
                 - (1.0 + (0.3 * 7) / (1.0 - 0.3)) * r.s2, 6) AS forecast
    FROM r JOIN last l ON r.user_id = l.user_id AND r.rn = l.mx
    """,
)
def brown_forecast_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown double-exponential-smoothing forecast of each user's value
    series (operators/temporal.py::brown_double_smoothing, alpha=0.3,
    7 steps ahead, trailing-64 fit window) — the trend-aware upgrade of
    ewma_user_value: level AND trend from two chained smoothings, so a
    steadily climbing user forecasts above their last level instead of
    lagging it.

    The recursion is evaluated in the SAME IEEE operation order on
    both engines — numpy fold here, recursive CTE in the oracle —
    making results bit-identical before the 6dp rounding; the oracle
    spells 0.7 as (1.0 - 0.3) because the subtraction and the literal
    are DIFFERENT doubles, exactly the class of trap the engine's
    determinism rules exist to catch. Per-key work is bounded by the
    trailing window (the rolling-z-score stance)."""
    from ..operators.temporal import brown_double_smoothing

    (events,) = load_tables(spark, sf_dir, "events")
    return brown_double_smoothing(
        events,
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        tiebreak_col="event_id",
    )
