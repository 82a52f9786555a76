"""Analytical-surface queries beyond the basic operator inventory:
pivot, rollup/cube, exact percentiles, TPC-H-shaped multi-join
analytics, correlated-aggregate filters, as-of and range joins.

These are the "ad-hoc SQL analysis over the warehouse" surface the
reference promises its users (``README.md:4``) but never codes —
expressed over the driver fixtures so every one is oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.temporal import as_of_join, ewma_last, range_join_buckets
from .registry import load_tables, query

# --------------------------------------------------------------------------
# Pivot / unpivot
# --------------------------------------------------------------------------

_EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]


@query(
    "pivot_event_counts",
    oracle="""
    SELECT user_id,
           count(*) FILTER (event_type = 'click')    AS click,
           count(*) FILTER (event_type = 'view')     AS view,
           count(*) FILTER (event_type = 'signup')   AS signup,
           count(*) FILTER (event_type = 'purchase') AS purchase,
           count(*) FILTER (event_type = 'error')    AS error
    FROM events
    GROUP BY user_id
    """,
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: one column per event type, counts per user. Spark's pivot
    with an explicit value list → single aggregate, no extra pass to
    discover pivot values."""
    (events,) = load_tables(spark, sf_dir, "events")
    out = (
        events.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))  # count("*") doesn't resolve under pivot
    )
    # pivot yields NULL for empty cells; counts must be 0
    return out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _EVENT_TYPES],
    )


@query(
    "unpivot_event_counts",
    oracle="""
    WITH p AS (
      SELECT user_id,
             count(*) FILTER (event_type = 'click') AS click,
             count(*) FILTER (event_type = 'view')  AS view
      FROM events GROUP BY user_id
    )
    SELECT user_id, kind, n FROM (
      SELECT user_id, 'click' AS kind, click AS n FROM p
      UNION ALL
      SELECT user_id, 'view' AS kind, view AS n FROM p
    )
    """,
)
def unpivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) back to long form via the stack expression."""
    (events,) = load_tables(spark, sf_dir, "events")
    p = (
        events.groupBy("user_id")
        .pivot("event_type", ["click", "view"])
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            F.coalesce("click", F.lit(0)).alias("click"),
            F.coalesce("view", F.lit(0)).alias("view"),
        )
    )
    return p.selectExpr(
        "user_id", "stack(2, 'click', click, 'view', view) AS (kind, n)"
    )


# --------------------------------------------------------------------------
# Rollup / cube
# --------------------------------------------------------------------------


@query(
    "rollup_revenue",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           round(sum(l_extendedprice), 2) AS total,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP: (flag, status), (flag), () grand total in one pass —
    Spark expands grouping sets inside a single aggregate."""
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("total"),
            F.count("*").alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "total",
            "n",
        )
    )


@query(
    "cube_order_stats",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL')   AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS n,
           round(avg(o_totalprice), 4) AS avg_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions — all four grouping sets in one pass."""
    (orders,) = load_tables(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.avg("o_totalprice"), 4).alias("avg_price"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "avg_price",
        )
    )


# --------------------------------------------------------------------------
# Percentiles
# --------------------------------------------------------------------------


@query(
    "percentiles_by_segment",
    oracle="""
    SELECT c_mktsegment,
           round(quantile_cont(c_acctbal, 0.5), 4)  AS p50,
           round(quantile_cont(c_acctbal, 0.9), 4)  AS p90,
           round(quantile_cont(c_acctbal, 0.99), 4) AS p99,
           count(*) AS n
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def percentiles_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per segment (Spark ``percentile``
    ≡ DuckDB ``quantile_cont``). The approximate scale path is
    ``percentile_approx`` (see approx_percentiles_by_segment)."""
    (customer,) = load_tables(spark, sf_dir, "customer")
    return customer.groupBy("c_mktsegment").agg(
        F.round(F.percentile("c_acctbal", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("c_acctbal", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("c_acctbal", F.lit(0.99)), 4).alias("p99"),
        F.count("*").alias("n"),
    )


@query(
    "approx_percentiles_by_segment",
    oracle="""
    SELECT c_mktsegment, count(*) AS n, TRUE AS p50_approx_ok
    FROM customer GROUP BY c_mktsegment
    """,
)
def approx_percentiles_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GK-sketch approximate median — the 100 TB substitute for the
    exact sort-based form — reported as its accuracy contract: the
    accuracy=1000 sketch's p50 must land between the exact p40 and p60
    per segment (rank error ≤ n/1000 ≪ that window). The sketch is
    deterministic for fixed input, so the flag is stable and the gate
    hash-checks it instead of recording rows-only."""
    (customer,) = load_tables(spark, sf_dir, "customer")
    return (
        customer.groupBy("c_mktsegment")
        .agg(
            F.percentile_approx("c_acctbal", F.lit(0.5), F.lit(1000)).alias("_p50a"),
            F.percentile("c_acctbal", F.lit(0.4)).alias("_lo"),
            F.percentile("c_acctbal", F.lit(0.6)).alias("_hi"),
            F.count("*").alias("n"),
        )
        .select(
            "c_mktsegment",
            "n",
            (
                (F.col("_p50a") >= F.col("_lo")) & (F.col("_p50a") <= F.col("_hi"))
            ).alias("p50_approx_ok"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H-shaped analytics
# --------------------------------------------------------------------------


@query(
    "top_unshipped_orders",
    oracle="""
    SELECT o.o_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o.o_orderkey
    LIMIT 10
    """,
)
def top_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment filter → 3-way join → agg → top-10.
    Filters push into every scan. customer is SF-proportional, so no
    broadcast hint — AQE broadcasts the filtered segment while it
    measures small and falls back to a keyed shuffle at scale (r13
    verdict item 1)."""
    customer, orders, lineitem = load_tables(
        spark, sf_dir, "customer", "orders", "lineitem"
    )
    cutoff = F.lit("1998-01-01 00:00:00").cast("timestamp")
    j = (
        lineitem.filter(F.col("l_shipdate") > cutoff)
        .join(
            orders.filter(F.col("o_orderdate") < cutoff),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            customer.filter(F.col("c_mktsegment") == "BUILDING"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    return (
        j.groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .select(
            "o_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .limit(10)
    )


@query(
    "customers_above_nation_avg",
    oracle="""
    WITH nat AS (
      SELECT c_nationkey, avg(c_acctbal) AS nation_avg
      FROM customer GROUP BY c_nationkey
    )
    SELECT c.c_custkey, c.c_nationkey,
           round(c.c_acctbal, 2) AS acctbal,
           round(nat.nation_avg, 4) AS nation_avg
    FROM customer c JOIN nat ON c.c_nationkey = nat.c_nationkey
    WHERE c.c_acctbal > nat.nation_avg
    """,
)
def customers_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-aggregate filter decorrelated into agg + broadcast
    join — the plan Catalyst produces for the subquery form too."""
    (customer,) = load_tables(spark, sf_dir, "customer")
    nat = customer.groupBy("c_nationkey").agg(F.avg("c_acctbal").alias("nation_avg"))
    return (
        customer.join(F.broadcast(nat), "c_nationkey")
        .filter(F.col("c_acctbal") > F.col("nation_avg"))
        .select(
            "c_custkey",
            "c_nationkey",
            F.round("c_acctbal", 2).alias("acctbal"),
            F.round("nation_avg", 4).alias("nation_avg"),
        )
    )


@query(
    "supplier_part_volume",
    oracle="""
    SELECT s.s_nationkey,
           p.p_brand,
           round(sum(l.l_quantity), 2) AS qty,
           count(DISTINCT l.l_suppkey) AS n_suppliers
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN part p     ON l.l_partkey = p.p_partkey
    GROUP BY 1, 2
    """,
)
def supplier_part_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact + two dims + distinct-count aggregate. supplier/part are
    SF-proportional — no broadcast hints; AQE broadcasts them at
    bench SFs and degrades to keyed shuffles at 100 TB (r13 verdict
    item 1)."""
    lineitem, supplier, part = load_tables(
        spark, sf_dir, "lineitem", "supplier", "part"
    )
    return (
        lineitem.join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("s_nationkey", "p_brand")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("qty"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
        )
    )


@query(
    "outer_join_customer_orders",
    oracle="""
    SELECT c.c_custkey,
           count(o.o_orderkey) AS n_orders,
           round(coalesce(sum(o.o_totalprice), 0), 2) AS total_spend
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def outer_join_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving order-less customers (count over the
    nullable side ignores nulls, so they report 0 orders / 0 spend)."""
    customer, orders = load_tables(spark, sf_dir, "customer", "orders")
    return (
        customer.join(
            orders, F.col("c_custkey") == F.col("o_custkey"), "left"
        )
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias(
                "total_spend"
            ),
        )
    )


@query(
    "except_non_building_buyers",
    oracle="""
    SELECT o_custkey AS custkey FROM orders
    EXCEPT
    SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def except_non_building_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set difference): buying customers outside the BUILDING
    segment — planned as a left-anti join over distinct keys, the same
    shape as the idempotent-append probe."""
    customer, orders = load_tables(spark, sf_dir, "customer", "orders")
    building = customer.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    # subtract == EXCEPT DISTINCT; exceptAll would only cancel ONE
    # occurrence per match against a multi-order left side
    return orders.select(F.col("o_custkey").alias("custkey")).subtract(building)


@query(
    "intersect_buyer_suppliers_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def intersect_buyer_suppliers_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: nations with both customers and suppliers — a
    semi-join over distincts."""
    customer, supplier = load_tables(spark, sf_dir, "customer", "supplier")
    return customer.select(F.col("c_nationkey").alias("nationkey")).intersect(
        supplier.select(F.col("s_nationkey").alias("nationkey"))
    )


@query(
    "promo_revenue_share",
    oracle="""
    SELECT round(
             100.0 * sum(CASE WHEN p.p_type LIKE 'PROMO%'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_pct,
           count(*) AS n
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    """,
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregate over a fact⋈dim join —
    the CASE folds into the single aggregate pass. part is
    SF-proportional — no broadcast hint (r13 verdict item 1); AQE
    picks BHJ at bench SFs."""
    lineitem, part = load_tables(spark, sf_dir, "lineitem", "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_pct"),
            F.count("*").alias("n"),
        )
    )


@query(
    "late_ship_priority_counts",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate
    GROUP BY l_returnflag
    """,
)
def late_ship_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (dual conditional counts), adapted to the
    fixture's columns: lines shipped after their order date, split by
    order priority per return flag. The join-side predicate survives as
    a post-join filter; flag/priority projections prune both scans."""
    orders, lineitem = load_tables(spark, sf_dir, "orders", "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "customer_balance_deciles",
    oracle="""
    SELECT decile,
           count(*) AS n,
           round(min(c_acctbal), 2) AS lo,
           round(max(c_acctbal), 2) AS hi
    FROM (
      SELECT c_acctbal,
             CAST(ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS INTEGER)
               AS decile
      FROM customer
    )
    GROUP BY decile
    """,
)
def customer_balance_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ntile(10) without the single-partition global window.

    Strategy (all heavy stages parallel):
      1. range-repartition on the total order (c_acctbal, c_custkey) —
         the sort key is tie-free, so partition p holds a contiguous
         key range and every row in p+1 sorts after every row in p;
      2. per-partition ``row_number`` (window PARTITION BY the physical
         partition id — parallel) plus a broadcast cumulative-offset
         join gives the exact global rank. The offset frame is one row
         per partition (O(cores), ~KBs at any corpus size), so its
         cumsum window and the broadcast are both trivially cheap;
      3. closed-form ntile arithmetic: with N rows, the first N%10
         buckets take ceil(N/10) rows, the rest floor(N/10) — matching
         SQL ntile exactly, so the exact DuckDB oracle is unchanged.

    This removes the last full-table `WindowExec: No Partition Defined`
    from the query surface; at 100 TB the only global structure is the
    range exchange (same cost class as any global sort)."""
    (customer,) = load_tables(spark, sf_dir, "customer")
    from pyspark.sql import Window as W

    n_part = spark.sparkContext.defaultParallelism
    # localCheckpoint pins ONE materialization of the range exchange:
    # the offsets subtree and the probe side below must see the SAME
    # partition boundaries (RangePartitioner samples nondeterministically,
    # and exchange reuse is an optimizer courtesy, not a guarantee —
    # without the pin, disabled reuse or a sameResult() break would pair
    # offsets from one partitioning with row_numbers from another).
    from ..operators.dedup import register_pinned

    ranged = register_pinned(  # freed by the harness's release_pinned()
        customer.select("c_acctbal", "c_custkey")
        .repartitionByRange(n_part, F.col("c_acctbal"), F.col("c_custkey"))
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    # One row per physical partition: count, exclusive prefix sum, total.
    # Prefix sums come from a conditional aggregate over a P×P
    # self-cross of the histogram (P = cores/executors: 32² here, 10⁶
    # rows even on a 1000-executor cluster) — no global window at all,
    # so the WindowExec single-partition warning never fires.
    hist = ranged.groupBy("_pid").agg(F.count("*").alias("_cnt"))
    other = hist.select(
        F.col("_pid").alias("_opid"), F.col("_cnt").alias("_ocnt")
    )
    offsets = (
        hist.crossJoin(F.broadcast(other))
        .groupBy("_pid")
        .agg(
            F.sum(
                F.when(F.col("_opid") < F.col("_pid"), F.col("_ocnt")).otherwise(0)
            ).alias("_off"),
            F.sum("_ocnt").alias("_total"),
        )
    )
    w_local = W.partitionBy("_pid").orderBy("c_acctbal", "c_custkey")
    ranked = ranged.join(F.broadcast(offsets), "_pid").withColumn(
        "_r", F.row_number().over(w_local) + F.col("_off")
    )
    # ntile(10): first `rem` buckets have q+1 rows, the rest q rows.
    q = F.floor(F.col("_total") / 10)
    rem = F.col("_total") % 10
    big = (q + 1) * rem  # rows covered by the (q+1)-sized buckets
    decile = (
        F.when(F.col("_r") <= big, F.floor((F.col("_r") - 1) / (q + 1)) + 1)
        .otherwise(rem + F.floor((F.col("_r") - 1 - big) / F.greatest(q, F.lit(1))) + 1)
    )
    return (
        ranked.withColumn("decile", decile.cast("int"))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("c_acctbal"), 2).alias("lo"),
            F.round(F.max("c_acctbal"), 2).alias("hi"),
        )
    )


@query(
    "rank_functions_report",
    oracle="""
    SELECT o_custkey,
           o_orderkey,
           CAST(row_number() OVER w AS INTEGER) AS rn,
           CAST(rank() OVER w AS INTEGER) AS rnk,
           CAST(dense_rank() OVER w AS INTEGER) AS drnk,
           round(lag(o_totalprice) OVER w, 2) AS prev_price,
           round(lead(o_totalprice) OVER w, 2) AS next_price,
           round(o_totalprice - first_value(o_totalprice) OVER w, 2)
             AS delta_vs_first
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def rank_functions_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking/navigation window family (row_number, rank, dense_rank,
    lag, lead, first_value) over one per-customer window spec — a
    single shuffle on o_custkey serves all six functions."""
    (orders,) = load_tables(spark, sf_dir, "orders")
    from pyspark.sql import Window as W

    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
        F.round(
            F.col("o_totalprice") - F.first("o_totalprice").over(w), 2
        ).alias("delta_vs_first"),
    )


@query(
    "grouping_sets_revenue",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           round(sum(l_extendedprice), 2) AS total
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither rollup nor cube): per-flag and
    per-status totals in one aggregate pass over one scan."""
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    lineitem.createOrReplaceTempView("_gs_lineitem")
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               round(sum(l_extendedprice), 2) AS total
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


@query(
    "string_functions_report",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           length(c_name) AS name_len,
           substring(c_name, 1, 9) AS name_prefix,
           concat(c_mktsegment, ':', trim(c_name)) AS segment_tag,
           CASE WHEN regexp_matches(c_name, '[02468]$')
                THEN 1 ELSE 0 END AS even_suffix
    FROM customer
    """,
)
def string_functions_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar family over one projection: case, length,
    substring, concat, trim, regexp — all codegen'd, no shuffle."""
    (customer,) = load_tables(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.length("c_name").alias("name_len"),
        F.substring("c_name", 1, 9).alias("name_prefix"),
        F.concat_ws(":", F.col("c_mktsegment"), F.trim(F.col("c_name"))).alias(
            "segment_tag"
        ),
        F.when(F.col("c_name").rlike("[02468]$"), 1)
        .otherwise(0)
        .alias("even_suffix"),
    )


# --------------------------------------------------------------------------
# As-of join and range join (operators/temporal.py)
# --------------------------------------------------------------------------


@query(
    "asof_join_last_signup",
    oracle="""
    SELECT e.event_id, e.user_id,
           strftime(s.ts, '%Y-%m-%d %H:%M:%S') AS last_signup
    FROM events e
    ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'signup') s
      ON e.user_id = s.user_id AND s.ts <= e.ts
    """,
)
def asof_join_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event matched to the user's most recent signup
    at-or-before it (backward inclusive). Spark lacks the operator —
    composed as union + last(ignorenulls) window, one shuffle on
    user_id. DuckDB oracle uses its native ASOF JOIN."""
    (events,) = load_tables(spark, sf_dir, "events")
    signups = events.filter(F.col("event_type") == "signup").select("user_id", "ts")
    out = as_of_join(
        events.select("event_id", "user_id", "ts"),
        signups,
        ts="ts",
        by=["user_id"],
        right_value_cols=[],
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("matched._rts", "yyyy-MM-dd HH:mm:ss").alias("last_signup"),
    )


@query(
    "range_join_error_windows",
    oracle="""
    SELECT err.event_id AS window_id, e.user_id, count(*) AS n_in_window
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') err
    JOIN events e
      ON e.user_id = err.user_id
     AND e.ts >= err.ts
     AND e.ts <= err.ts + INTERVAL 30 MINUTE
    GROUP BY 1, 2
    """,
)
def range_join_error_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: count events inside each [error, error+30min]
    window per user. Bucketized equi-join (operators/temporal.py) —
    hash join on (user, bucket), never a nested-loop inequality join."""
    (events,) = load_tables(spark, sf_dir, "events")
    errors = (
        events.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("window_id"),
            "user_id",
            F.col("ts").alias("win_start"),
            (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("win_end"),
        )
    )
    joined = range_join_buckets(
        events.select("user_id", "ts"),
        errors,
        by=["user_id"],
        event_ts="ts",
        win_start="win_start",
        win_end="win_end",
        bucket_seconds=1800,
    )
    return joined.groupBy("window_id", "user_id").agg(
        F.count("*").alias("n_in_window")
    )


@query(
    "ewma_user_value",
    oracle="""
    WITH o AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             count(*)     OVER (PARTITION BY user_id)                       AS n
      FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value * CASE WHEN rn = 1 THEN power(0.7, n - 1)
                                  ELSE 0.3 * power(0.7, n - rn) END), 4) AS ewma
    FROM o
    GROUP BY user_id
    """,
)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential smoothing (α=0.3) of each user's value series,
    reporting the final smoothed level — operators/temporal.py::
    ewma_last's closed-form weighted sum: one window shuffle on
    user_id, the re-aggregation reuses the same partitioning. The
    oracle expands the identical closed form over DuckDB windows."""
    (events,) = load_tables(spark, sf_dir, "events")
    out = ewma_last(
        events,
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        tiebreak_col="event_id",
        alpha=0.3,
    )
    return out.select("user_id", "n_events", F.round("ewma", 4).alias("ewma"))


# --------------------------------------------------------------------------
# Event-time sliding window
# --------------------------------------------------------------------------


@query(
    "window_sliding_6h",
    oracle="""
    WITH e AS (
      SELECT event_type, value,
             CAST(floor(epoch(ts) / 10800) * 10800 AS BIGINT) AS w0
      FROM events
    ),
    x AS (
      SELECT event_type, value,
             unnest([w0, w0 - 10800]) AS window_epoch
      FROM e
    )
    SELECT window_epoch, event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM x GROUP BY 1, 2
    """,
)
def window_sliding_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time window (6 h length, 3 h slide). Each event
    lands in exactly length/slide = 2 windows; ``F.window`` explodes
    those assignments and the aggregate is one partial+final hash agg
    keyed on (window, type). The window key is reported as epoch
    seconds of the window start, which is timezone-free on both
    engines."""
    (events,) = load_tables(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "6 hours", "3 hours").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_epoch"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# --------------------------------------------------------------------------
# More TPC-H-shaped analytics (Q13 / Q18 / Q2 flavors)
# --------------------------------------------------------------------------


@query(
    "order_count_distribution",
    oracle="""
    WITH per_cust AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey
    )
    SELECT n_orders, count(*) AS n_customers
    FROM per_cust GROUP BY n_orders
    """,
)
def order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: how many customers placed how many orders,
    including zero (left outer join → count of non-null keys → second
    aggregate over the counts). Two keyed shuffles; both aggregates
    partial+final."""
    customer, orders = load_tables(spark, sf_dir, "customer", "orders")
    per_cust = (
        customer.join(
            orders, customer.c_custkey == orders.o_custkey, "left"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count("*").alias("n_customers"))


@query(
    "large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, CAST(trunc(sum(l_quantity)) AS BIGINT) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
    )
    SELECT o.o_orderkey, c.c_name, o.o_totalprice, b.total_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total line quantity exceeds a
    threshold, decorated with customer name. The HAVING aggregate runs
    FIRST so only qualifying orderkeys join back to orders/customer —
    the selective side drives both joins, and AQE broadcasts it when
    small."""
    lineitem, orders, customer = load_tables(
        spark, sf_dir, "lineitem", "orders", "customer"
    )
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_qty"))
        .filter(F.col("_qty") > 150)
        .select("l_orderkey", F.floor("_qty").alias("total_qty"))
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select("o_orderkey", "c_name", "o_totalprice", "total_qty")
    )


@query(
    "min_cost_supplier_per_part",
    oracle="""
    WITH cost AS (
      SELECT l_partkey, l_suppkey, min(l_extendedprice) AS best_price
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    ranked AS (
      SELECT l_partkey, l_suppkey, best_price,
             row_number() OVER (PARTITION BY l_partkey
                                ORDER BY best_price, l_suppkey) AS rn
      FROM cost
    )
    SELECT r.l_partkey AS partkey, p.p_name, s.s_name, r.best_price
    FROM ranked r
    JOIN part p ON p.p_partkey = r.l_partkey
    JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.rn = 1
    """,
)
def min_cost_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: the cheapest observed supplier per part
    (lineitem stands in for partsupp). Per-part argmin in ONE hash
    aggregate via min(struct(price, suppkey)) — lexicographic struct
    ordering gives the deterministic suppkey tiebreak, the partial
    aggregate combines map-side, and the per-(part,supplier) pre-agg +
    row_number window (a second shuffle) this replaces provably picks
    the same row: min over all lines of (price, suppkey) equals min
    over per-supplier minima."""
    lineitem, part, supplier = load_tables(
        spark, sf_dir, "lineitem", "part", "supplier"
    )
    best = (
        lineitem.groupBy("l_partkey")
        .agg(
            F.min(
                F.struct(
                    F.col("l_extendedprice").alias("p"),
                    F.col("l_suppkey").alias("s"),
                )
            ).alias("_m")
        )
        .select(
            "l_partkey",
            F.col("_m.p").alias("best_price"),
            F.col("_m.s").alias("l_suppkey"),
        )
    )
    return (
        best.join(part, best.l_partkey == part.p_partkey)
        .join(supplier, best.l_suppkey == supplier.s_suppkey)
        .select(
            F.col("l_partkey").alias("partkey"), "p_name", "s_name", "best_price"
        )
    )


# --------------------------------------------------------------------------
# Calendar gap-fill (dense daily series from sparse facts)
# --------------------------------------------------------------------------


@query(
    "daily_event_gapfill",
    oracle="""
    WITH bounds AS (
      SELECT CAST(min(date_trunc('day', ts)) AS DATE) AS lo,
             CAST(max(date_trunc('day', ts)) AS DATE) AS hi
      FROM events
    ),
    days AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
      FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    grid AS (SELECT d.day, t.event_type FROM days d CROSS JOIN types t),
    actual AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
             count(*) AS n, round(sum(value), 2) AS v
      FROM events GROUP BY 1, 2
    )
    SELECT strftime(g.day, '%Y-%m-%d') AS day, g.event_type,
           COALESCE(a.n, 0) AS n_events,
           COALESCE(a.v, 0.0) AS total_value
    FROM grid g LEFT JOIN actual a
      ON a.day = g.day AND a.event_type = g.event_type
    """,
)
def daily_event_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense daily series: build the full (day × event_type) calendar
    grid with ``sequence``+``explode`` (no driver-side date loop), left
    join the sparse daily aggregate onto it, zero-fill the gaps. The
    grid is tiny (days × types) so it broadcasts; the aggregate is the
    only shuffle of event-scale data — the warehouse gap-fill shape
    that still works when events is 100 TB."""
    (events,) = load_tables(spark, sf_dir, "events")
    bounds = events.select(
        F.min(F.to_date(F.date_trunc("day", "ts"))).alias("lo"),
        F.max(F.to_date(F.date_trunc("day", "ts"))).alias("hi"),
    )
    days = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    types = events.select("event_type").distinct()
    grid = days.crossJoin(types)
    actual = events.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("day"), "event_type"
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("v"))
    return (
        F.broadcast(grid)
        .join(actual, ["day", "event_type"], "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "event_type",
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.coalesce("v", F.lit(0.0)).alias("total_value"),
        )
    )


@query(
    "rolling_7day_customer_revenue",
    oracle="""
    WITH daily AS (
      SELECT o_custkey,
             CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS day_num,
             round(sum(o_totalprice), 2) AS day_rev
      FROM orders GROUP BY 1, 2
    )
    SELECT o_custkey, day_num,
           round(sum(day_rev) OVER (
             PARTITION BY o_custkey ORDER BY day_num
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS rev_7d
    FROM daily
    """,
)
def rolling_7day_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: rolling 7-DAY revenue per customer over the
    daily aggregate. A range frame (value-based, handles gaps in the
    date series) — unlike rowsBetween, missing days don't stretch the
    lookback. Ordering key is epoch days, timezone-free in both
    engines; the window reuses the aggregate's (custkey) partitioning."""
    from pyspark.sql import Window

    (orders,) = load_tables(spark, sf_dir, "orders")
    daily = orders.groupBy(
        "o_custkey",
        F.floor(F.unix_timestamp(F.col("o_orderdate")) / 86400)
        .cast("long")
        .alias("day_num"),
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("day_rev"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day_num")
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "o_custkey",
        "day_num",
        F.round(F.sum("day_rev").over(w), 2).alias("rev_7d"),
    )


@query(
    "region_nation_rollcall",
    oracle="""
    SELECT r.r_name AS region,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
           count(*) AS n_nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def region_nation_rollcall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String aggregation with DETERMINISTIC order: collect_list is
    unordered by contract, so sort the array before joining —
    sort_array(collect_list(...)) → array_join. One broadcast join +
    one aggregate."""
    region, nation = load_tables(spark, sf_dir, "region", "nation")
    return (
        nation.join(F.broadcast(region),
                    nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("n_name")), ","
            ).alias("nations"),
            F.count("*").alias("n_nations"),
        )
    )


@query(
    "nation_pair_volume",
    oracle="""
    SELECT sn.n_name AS supp_nation,
           cn.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS volume_cents
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
    WHERE sn.n_name < cn.n_name
    GROUP BY 1, 2, 3
    """,
)
def nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: trade volume between ordered nation pairs per
    ship year. Five joins — the two nation splits (25 rows, constant
    at every SF) are hint-broadcast; supplier and customer are
    SF-PROPORTIONAL and carry no hint (r13 verdict item 1): AQE
    broadcasts them at bench SFs and degrades to keyed shuffles at
    100 TB instead of dying at the 8 GB broadcast cap.
    Volume is summed as integer CENTS: double sums of ~1e6 values sit
    on 2-dp rounding boundaries (summation order flips the last cent),
    while per-line cents round identically in both engines and sum
    order-insensitively."""
    lineitem, supplier, orders, customer, nation = load_tables(
        spark, sf_dir, "lineitem", "supplier", "orders", "customer", "nation"
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        lineitem.join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            ).alias("volume_cents")
        )
    )


@query(
    "disjunctive_predicate_revenue",
    oracle="""
    SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 20 AND 40)
    """,
)
def disjunctive_predicate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR of conjunctive brand/size/
    quantity bands. The disjunction stays one JVM boolean expression
    evaluated after the join — no union-of-branches rewrite, no double
    scan of lineitem. part is SF-proportional — no broadcast hint (r13
    verdict item 1); AQE picks BHJ at bench SFs."""
    lineitem, part = load_tables(spark, sf_dir, "lineitem", "part")
    j = lineitem.join(part, lineitem.l_partkey == part.p_partkey)
    cond = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(20, 40)
    )
    return j.filter(cond).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count("*").alias("n_lines"),
    )


@query(
    "top_revenue_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS total_cents
      FROM lineitem GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_cents
    FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total_cents = (SELECT max(total_cents) FROM rev)
    """,
)
def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with maximum total revenue,
    ties kept. Revenue in integer cents for engine-exact comparison.

    The global max is a 1-row ``agg(max)`` cross-joined back (the
    ``stats_queries`` scalar pattern) — NOT a partition-less window:
    ``Window.partitionBy()`` funnels the whole per-supplier aggregate
    (SF-proportional — billions of rows at 100 TB) through ONE task
    (r13 verdict item 2). Two aggregate passes over lineitem both
    map-side combine, so the extra pass scales; the single-task window
    does not. The final join broadcasts the ~1-row argmax frame and
    probes supplier — supplier is SF-proportional and must never be
    the pinned broadcast side (r13 verdict item 1)."""
    lineitem, supplier = load_tables(spark, sf_dir, "lineitem", "supplier")
    rev = lineitem.groupBy("l_suppkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("long")
        ).alias("total_cents")
    )
    mx = rev.agg(F.max("total_cents").alias("_max"))  # 1 row
    top = rev.crossJoin(F.broadcast(mx)).filter(
        F.col("total_cents") == F.col("_max")
    ).drop("_max")
    return supplier.join(
        F.broadcast(top), supplier.s_suppkey == top.l_suppkey
    ).select("s_suppkey", "s_name", "total_cents")


@query(
    "sole_late_supplier_waitlist",
    oracle="""
    WITH li AS (
      SELECT l.l_orderkey, l.l_suppkey,
             (l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY) AS is_late
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    lines AS (SELECT DISTINCT l_orderkey, l_suppkey, is_late FROM li)
    SELECT s.s_name, count(*) AS numwait
    FROM lines a JOIN supplier s ON s.s_suppkey = a.l_suppkey
    WHERE a.is_late
      AND EXISTS (SELECT 1 FROM lines b
                  WHERE b.l_orderkey = a.l_orderkey
                    AND b.l_suppkey <> a.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lines c
                      WHERE c.l_orderkey = a.l_orderkey
                        AND c.l_suppkey <> a.l_suppkey
                        AND c.is_late)
    GROUP BY s.s_name
    """,
)
def sole_late_supplier_waitlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the ONLY late shipper on
    multi-supplier orders ("late" = shipped >90 days after the order
    date), counted per supplier.

    The correlated EXISTS ("some other supplier on the order") / NOT
    EXISTS ("no other LATE supplier") pair reduces to per-order counts
    over the deduplicated (order, supplier, late) frame: a supplier
    row qualifies iff it is late, the order has ≥ 2 suppliers, and
    exactly 1 late supplier (itself). One groupBy on (order, supplier)
    plus one window on the order key — two key-compatible shuffles —
    replaces the semi + anti self-join pair, which walked the same
    frame three times."""
    from pyspark.sql import Window

    lineitem, orders, supplier = load_tables(
        spark, sf_dir, "lineitem", "orders", "supplier"
    )
    per_supp = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
            ).alias("is_late"),
        )
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("is_late").alias("is_late"))
    )
    w = Window.partitionBy("l_orderkey")
    sole_late = (
        per_supp.withColumn("_n_supps", F.count("*").over(w))
        .withColumn("_n_late", F.sum(F.col("is_late").cast("int")).over(w))
        .filter(F.col("is_late") & (F.col("_n_supps") > 1) & (F.col("_n_late") == 1))
    )
    return (
        # supplier is SF-proportional — no broadcast hint (r13 verdict
        # item 1); AQE picks BHJ at bench SFs, keyed shuffle at scale
        sole_late.join(
            supplier, sole_late.l_suppkey == supplier.s_suppkey
        )
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


@query(
    "robust_stats_by_priority",
    oracle="""
    SELECT o_orderpriority,
           round(median(o_totalprice), 4) AS median_price,
           mode(o_orderstatus) AS modal_status,
           count(*) AS n
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def robust_stats_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust aggregates: exact median (interpolated) and modal status
    per priority. Spark's median ≡ DuckDB's; mode ties are broken the
    same way here because o_orderstatus has a strict frequency order
    per group in the fixture."""
    (orders,) = load_tables(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.median("o_totalprice"), 4).alias("median_price"),
        F.mode("o_orderstatus").alias("modal_status"),
        F.count("*").alias("n"),
    )


@query(
    "price_quantity_statistics",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_covar,
           round(stddev_samp(l_extendedprice), 4) AS price_stddev,
           round(var_samp(l_quantity), 6) AS qty_var
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def price_quantity_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (correlation, sample covariance/stddev/
    variance) per return flag — one partial+final hash aggregate; all
    moments combine map-side."""
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "qty_price_corr"
        ),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "qty_price_covar"
        ),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_stddev"),
        F.round(F.var_samp("l_quantity"), 6).alias("qty_var"),
    )


@query(
    "order_flags_by_priority",
    oracle="""
    SELECT o_orderpriority,
           count(*) FILTER (o_totalprice > 100000) AS n_big,
           bool_and(o_totalprice > 0)   AS all_positive,
           bool_or(o_orderstatus = 'F') AS any_finished
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def order_flags_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean/conditional aggregates: count_if + bool_and/bool_or per
    priority group."""
    (orders,) = load_tables(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_totalprice") > 100000).alias("n_big"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
    )


@query(
    "full_outer_daily_activity",
    oracle="""
    WITH o AS (
      SELECT strftime(o_orderdate, '%Y-%m-%d') AS day, count(*) AS n_orders
      FROM orders GROUP BY 1
    ),
    s AS (
      SELECT strftime(l_shipdate, '%Y-%m-%d') AS day, count(*) AS n_shipped
      FROM lineitem GROUP BY 1
    )
    SELECT coalesce(o.day, s.day) AS day,
           CAST(coalesce(n_orders, 0) AS BIGINT) AS n_orders,
           CAST(coalesce(n_shipped, 0) AS BIGINT) AS n_shipped
    FROM o FULL OUTER JOIN s ON o.day = s.day
    """,
)
def full_outer_daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join completing the join-type matrix: per-day order
    placements vs lineitem shipments, keeping days present on either
    side. Both sides aggregate FIRST (map-side combine), so the outer
    join runs over ~|distinct days| rows, not facts — the shape that
    keeps full-outer (which can never broadcast) cheap at any scale."""
    lineitem, orders = load_tables(spark, sf_dir, "lineitem", "orders")
    o = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
    ).agg(F.count("*").alias("n_orders"))
    s = lineitem.groupBy(
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("day")
    ).agg(F.count("*").alias("n_shipped"))
    return o.join(s, "day", "full_outer").select(
        "day",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("n_shipped", F.lit(0)).alias("n_shipped"),
    )


# --------------------------------------------------------------------------
# Winsorized (clamped) robust statistics
# --------------------------------------------------------------------------


@query(
    "winsorized_price_stats",
    oracle="""
    WITH bounds AS (
      SELECT o_orderpriority,
             quantile_cont(o_totalprice, 0.05) AS lo,
             quantile_cont(o_totalprice, 0.95) AS hi
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(least(greatest(o.o_totalprice, b.lo), b.hi)), 2)
             AS winsorized_mean,
           round(avg(o.o_totalprice), 2) AS raw_mean,
           CAST(sum(CASE WHEN o.o_totalprice < b.lo
                          OR o.o_totalprice > b.hi
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
    FROM orders o JOIN bounds b
      ON b.o_orderpriority = o.o_orderpriority
    GROUP BY o.o_orderpriority
    """,
)
def winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per priority: order totals clamped to the exact
    per-group [p05, p95] band before averaging — the outlier-robust
    mean every metrics pipeline wants next to the raw one (reported
    side-by-side with the clamp count so the trim effect is visible).

    Plan: two passes over orders, both keyed on the group column —
    (1) exact interpolated percentile bounds per group (5 groups → a
    broadcast-sized frame), (2) the bounds broadcast-joined back and a
    map-side-combining re-aggregation. At 100 TB the bounds pass is
    the only sort-heavy stage and `percentile_approx` is its
    documented drop-in (approx_percentiles_by_segment establishes the
    accuracy-window contract for that swap)."""
    (orders,) = load_tables(spark, sf_dir, "orders")
    bounds = orders.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.05)).alias("lo"),
        F.percentile("o_totalprice", F.lit(0.95)).alias("hi"),
    )
    clamped = F.least(
        F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi")
    )
    out_of_band = (F.col("o_totalprice") < F.col("lo")) | (
        F.col("o_totalprice") > F.col("hi")
    )
    return (
        orders.join(F.broadcast(bounds), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg(clamped), 2).alias("winsorized_mean"),
            F.round(F.avg("o_totalprice"), 2).alias("raw_mean"),
            F.sum(out_of_band.cast("long")).alias("n_clamped"),
        )
    )
