"""Warehouse analytics round-out: the TPC-H query shapes not yet in
the registry (Q4, Q6, Q8, Q9, Q10, Q11, Q16, Q17, Q20, Q22), adapted
to the driver fixture schema (no partsupp table, no commit/receipt
dates — docstrings note each adaptation).

Like ``analytics_queries.py``, these exercise the "ad-hoc SQL analysis
over the warehouse" surface the reference promises (``README.md:4``)
but never codes. Conventions follow ``plans/registry.py``: money in
integer cents (``round(x*100)`` BIGINT in both engines), years cast to
long, every computed column aliased identically on both sides.

Scale stance (SCALE.md "star joins" family): every query here is a
fact-side shuffle on its join/group key plus broadcast dimensions;
scalar thresholds (global totals, averages) are single-row frames the
planner broadcasts, never driver-side collects.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import register_pinned
from .registry import load_tables, query


def _cents(col: F.Column) -> F.Column:
    """round(x*100) as long — the registry's exact-money convention."""
    return F.round(col * 100).cast("long")


# --------------------------------------------------------------------------
# Q4 — order-priority checking (EXISTS semi join)
# --------------------------------------------------------------------------


@query(
    "order_priority_exists_counts",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-07-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
    GROUP BY o.o_orderpriority
    """,
)
def order_priority_exists_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders in a half-year window with at least one
    slow lineitem, counted per priority. The fixture has no
    commit/receipt dates, so "slow" = shipped >30 days after the order
    date. EXISTS becomes a LEFT SEMI join — equi on orderkey with the
    date comparison as a residual condition, so the shuffle keys stay
    hashable and the date filter prunes the orders scan."""
    orders, lineitem = load_tables(spark, sf_dir, "orders", "lineitem")
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    slow = o.join(
        lineitem,
        (o.o_orderkey == lineitem.l_orderkey)
        & (lineitem.l_shipdate > o.o_orderdate + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return slow.groupBy("o_orderpriority").agg(
        F.count("*").alias("order_count")
    )


# --------------------------------------------------------------------------
# Q6 — forecast revenue change (single filtered aggregate)
# --------------------------------------------------------------------------


@query(
    "forecast_revenue_change",
    oracle="""
    SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_shipdate <  TIMESTAMP '1999-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: revenue delta if mid-range discounts were
    dropped — one conjunctive filter + global aggregate, zero joins.
    The value of the query is the plan: all predicates reach the
    parquet scan as PushedFilters — the year restriction is written as
    a half-open timestamp range because ``year(col) = k`` wraps the
    column and loses row-group min/max skipping — and the aggregate is
    partial/final, so at 100 TB it is a pruned scan, not a shuffle."""
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_cents(F.col("l_extendedprice") * F.col("l_discount"))).alias(
                "revenue_cents"
            ),
            F.count("*").alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# Q8 — national market share
# --------------------------------------------------------------------------


@query(
    "nation_market_share",
    oracle="""
    WITH rev AS (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
             CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                  AS BIGINT) AS cents,
             (r.r_name = 'ASIA') AS is_asia
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN part p     ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      JOIN region r   ON r.r_regionkey = n.n_regionkey
      WHERE p.p_type = 'PROMO'
    )
    SELECT order_year,
           CAST(sum(CASE WHEN is_asia THEN cents ELSE 0 END) AS BIGINT)
             AS asia_cents,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           round(sum(CASE WHEN is_asia THEN cents ELSE 0 END) / sum(cents), 6)
             AS asia_share
    FROM rev
    GROUP BY order_year
    """,
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: per order year, the revenue share of PROMO parts
    supplied from ASIA-region nations. nation/region (25/5 rows,
    constant at every SF) are hint-broadcast; the PROMO-filtered part
    subset and supplier are SF-PROPORTIONAL, so they carry no hint
    (r13 verdict item 1) — AQE broadcasts them at bench SFs and the
    p_type filter still prunes the fact rows before the orders
    shuffle. Share is a ratio of exact cent sums, rounded identically
    in both engines — no float summation-order hazard."""
    lineitem, orders, part, supplier, nation, region = load_tables(
        spark, sf_dir, "lineitem", "orders", "part", "supplier", "nation", "region"
    )
    p = part.filter(F.col("p_type") == "PROMO").select("p_partkey")
    joined = (
        lineitem.join(p, lineitem.l_partkey == p.p_partkey)
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    per_year = joined.select(
        F.year("o_orderdate").cast("long").alias("order_year"),
        _cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("cents"),
        (F.col("r_name") == "ASIA").alias("is_asia"),
    ).groupBy("order_year").agg(
        F.sum(F.when(F.col("is_asia"), F.col("cents")).otherwise(F.lit(0))).alias(
            "asia_cents"
        ),
        F.sum("cents").alias("total_cents"),
    )
    return per_year.select(
        "order_year",
        "asia_cents",
        "total_cents",
        F.round(F.col("asia_cents") / F.col("total_cents"), 6).alias("asia_share"),
    )


# --------------------------------------------------------------------------
# Q9 — product-type profit
# --------------------------------------------------------------------------


@query(
    "product_profit_by_nation_year",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
           CAST(sum(CAST(round((l.l_extendedprice * (1 - l.l_discount)
                                - p.p_retailprice * 0.1 * l.l_quantity) * 100)
                         AS BIGINT)) AS BIGINT) AS profit_cents
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY n.n_name, year(o.o_orderdate)
    """,
)
def product_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on 'gear' parts per supplier nation per
    year. The fixture has no partsupp/ps_supplycost, so unit cost is
    proxied as 10% of p_retailprice (documented adaptation — the plan
    shape, a 5-way star join with a LIKE-filtered part dimension, is
    what Q9 exercises). nation (constant 25 rows) is hint-broadcast;
    the gear-filtered part subset and supplier are SF-PROPORTIONAL and
    carry no hint (r13 verdict item 1) — AQE broadcasts them at bench
    SFs, keyed shuffles at scale. The only fact shuffle is
    lineitem⋈orders on orderkey. Per-row profit is rounded
    to cents BEFORE the sum so both engines add exact integers."""
    lineitem, orders, part, supplier, nation = load_tables(
        spark, sf_dir, "lineitem", "orders", "part", "supplier", "nation"
    )
    p = part.filter(F.col("p_name").like("%gear%")).select(
        "p_partkey", "p_retailprice"
    )
    joined = (
        lineitem.join(p, lineitem.l_partkey == p.p_partkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
    )
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * 0.1 * F.col("l_quantity")
    )
    return joined.groupBy(
        F.col("n_name").alias("nation"),
        F.year("o_orderdate").cast("long").alias("order_year"),
    ).agg(F.sum(_cents(profit)).alias("profit_cents"))


# --------------------------------------------------------------------------
# Q10 — returned-item reporting (top 20 customers by lost revenue)
# --------------------------------------------------------------------------


@query(
    "returned_items_by_customer",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name AS nation,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS lost_cents
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY lost_cents DESC, c_custkey ASC
    LIMIT 20
    """,
)
def returned_items_by_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: the 20 customers who returned the most revenue
    in 1997. returnflag + date filters prune both fact scans before the
    orderkey shuffle. The top-20 LIMIT is pushed BELOW the widening
    joins (r13 verdict item 1): the per-customer aggregate is cut to
    its 20 winners first (same sort keys as the final output — custkey
    is 1:1 with the aggregate's o_custkey, so the cut is exact, ties
    included), then that 20-row frame is hint-broadcast against
    customer — customer is SF-proportional and must never be the
    pinned broadcast side; here it is the probe side and never
    shuffles at all. nation (constant 25 rows) broadcasts onto the 20
    rows. Deterministic top-20: ties broken by custkey.

    PRECONDITION (r14 advice low 3): the below-join cut is equivalent
    to the oracle's join-then-limit ONLY because every aggregated
    o_custkey has a customer row — TPC-H guarantees the orders →
    customer FK, and the full oracle sweep re-checks the equivalence
    every round. On data where that FK can be violated, an orphaned
    custkey in the top 20 would silently shrink the output below 20
    rows; pre-join over-fetch (limit 40 → post-join limit 20) is the
    robust form for such inputs."""
    lineitem, orders, customer, nation = load_tables(
        spark, sf_dir, "lineitem", "orders", "customer", "nation"
    )
    li = lineitem.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey",
        _cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("cents"),
    )
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    per_cust = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("lost_cents"))
    )
    top20 = per_cust.orderBy(
        F.desc("lost_cents"), F.asc("o_custkey")
    ).limit(20)
    widened = customer.join(
        F.broadcast(top20), customer.c_custkey == top20.o_custkey
    ).join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    return (
        widened.select(
            "c_custkey", "c_name", F.col("n_name").alias("nation"), "lost_cents"
        )
        .orderBy(F.desc("lost_cents"), F.asc("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q11 — important stock (parts above a global value-share threshold)
# --------------------------------------------------------------------------


@query(
    "important_parts_value_share",
    oracle="""
    WITH pv AS (
      SELECT l_partkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS value_cents
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey, value_cents
    FROM pv
    WHERE value_cents > (SELECT avg(value_cents) * 1.5 FROM pv)
    """,
)
def important_parts_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose traded value exceeds a threshold
    derived from a scalar aggregate of the same grouped frame. The
    fixture has no partsupp, so "stock value" is the part's total
    lineitem revenue, and the threshold is 1.5× the average part value
    rather than Q11's fixed fraction of the total — a fixed fraction
    empties out as |parts| grows with scale factor, while the
    avg-multiple keeps the selectivity scale-invariant (documented
    adaptation; the shape — grouped aggregate filtered against a
    scalar aggregate of itself — is intact). The scalar is a 1-row
    aggregate the planner broadcasts into the filter; avg of exact
    cent longs divides identically in both engines."""
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    pv = lineitem.groupBy("l_partkey").agg(
        F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "value_cents"
        )
    )
    total = pv.agg(
        (F.avg("value_cents") * 1.5).alias("threshold")
    )
    return (
        pv.join(F.broadcast(total))
        .filter(F.col("value_cents") > F.col("threshold"))
        .select("l_partkey", "value_cents")
    )


# --------------------------------------------------------------------------
# Q16 — part/supplier relationship diversity
# --------------------------------------------------------------------------


@query(
    "parts_supplier_diversity",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#9' AND p.p_size IN (1, 4, 9, 16, 25)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def parts_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers serve each
    (brand, type, size) bucket, excluding one brand. partsupp is
    proxied by observed (part, supplier) pairs in lineitem (documented
    adaptation). Spark plans COUNT(DISTINCT) as a two-stage expand —
    partial distinct on (group, suppkey), then the count — both stages
    map-side combining; the part dimension's filters push to its scan.
    part is SF-proportional — no broadcast hint (r13 verdict item 1);
    AQE picks BHJ at bench SFs."""
    lineitem, part = load_tables(spark, sf_dir, "lineitem", "part")
    p = part.filter(
        (F.col("p_brand") != "Brand#9") & F.col("p_size").isin(1, 4, 9, 16, 25)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        lineitem.select("l_partkey", "l_suppkey")
        .join(p, F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


# --------------------------------------------------------------------------
# Q17 — small-quantity-order revenue (correlated avg, decorrelated)
# --------------------------------------------------------------------------


@query(
    "small_quantity_revenue",
    oracle="""
    WITH pa AS (
      SELECT l_partkey, 0.5 * avg(l_quantity) AS half_avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pa    ON pa.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#13'
      AND l.l_quantity < pa.half_avg_qty
    """,
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from lineitems whose quantity is below
    half the part's average — the classic correlated scalar subquery,
    decorrelated into a per-part aggregate joined back (the same plan
    Catalyst derives from the subquery form). Quantities are
    integer-valued doubles, so avg() is exact in both engines and the
    threshold comparison cannot flip on summation order. The filtered
    part subset and the |parts|-sized per-part avg frame are both
    SF-PROPORTIONAL — no broadcast hints (r13 verdict item 1): AQE
    broadcasts both at bench SFs; at scale the partkey-keyed joins
    degrade to shuffles that share one exchange with the aggregate."""
    lineitem, part = load_tables(spark, sf_dir, "lineitem", "part")
    pa = lineitem.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg_qty")
    )
    p = part.filter(F.col("p_brand") == "Brand#13").select("p_partkey")
    li = lineitem.select("l_partkey", "l_quantity", "l_extendedprice")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(pa, li.l_partkey == pa.l_partkey)
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            F.sum(_cents(F.col("l_extendedprice"))).alias("revenue_cents"),
            F.count("*").alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# Q20 — excess-volume suppliers
# --------------------------------------------------------------------------


@query(
    "excess_volume_suppliers",
    oracle="""
    WITH red AS (
      SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
    ),
    vol AS (
      SELECT l.l_partkey, l.l_suppkey, sum(l.l_quantity) AS supp_qty
      FROM lineitem l JOIN red r ON r.p_partkey = l.l_partkey
      GROUP BY l.l_partkey, l.l_suppkey
    ),
    tot AS (
      SELECT l_partkey, sum(supp_qty) AS part_qty,
             count(*) AS n_supps
      FROM vol GROUP BY l_partkey
    )
    SELECT DISTINCT s.s_suppkey, s.s_name
    FROM vol v
    JOIN tot t ON t.l_partkey = v.l_partkey
    JOIN supplier s ON s.s_suppkey = v.l_suppkey
    WHERE v.supp_qty > 2.0 * t.part_qty / t.n_supps
    """,
)
def excess_volume_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who shipped more than 2× the average
    per-supplier quantity of some 'red' part (partsupp availqty proxied
    by shipped quantity, and Q20's fixed 50%-of-total threshold
    replaced by an avg-multiple — a fixed share empties out as the
    supplier count per part grows with scale factor; the nested
    aggregate-vs-aggregate comparison is the point and is intact).
    Two cascaded aggs reuse the same (partkey) partitioning — the
    second agg is shuffle-free under AQE — then a DISTINCT semi-style
    projection. Quantity sums are integer-valued doubles → exact in
    both engines; the threshold is one exact division per part."""
    lineitem, part, supplier = load_tables(
        spark, sf_dir, "lineitem", "part", "supplier"
    )
    # red/supplier are SF-proportional — no broadcast hints (same rule
    # as r13 verdict item 1); AQE picks BHJ at bench SFs
    red = part.filter(F.col("p_name").like("red%")).select("p_partkey")
    vol = (
        lineitem.join(red, lineitem.l_partkey == red.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("supp_qty"))
    )
    tot = vol.groupBy("l_partkey").agg(
        F.sum("supp_qty").alias("part_qty"),
        F.count("*").alias("n_supps"),
    )
    excess = (
        vol.join(tot, "l_partkey")
        .filter(F.col("supp_qty") > 2.0 * F.col("part_qty") / F.col("n_supps"))
        .select("l_suppkey")
        .distinct()
    )
    return excess.join(
        supplier, excess.l_suppkey == supplier.s_suppkey
    ).select("s_suppkey", "s_name")


# --------------------------------------------------------------------------
# Q22 — idle rich customers (anti join + scalar-aggregate threshold)
# --------------------------------------------------------------------------


@query(
    "idle_rich_customers",
    oracle="""
    WITH c AS (
      SELECT c_custkey, c_nationkey,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer
    ),
    thr AS (
      SELECT sum(bal_cents) / count(*) AS avg_pos_cents
      FROM c WHERE bal_cents > 0
    )
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_custs,
           CAST(sum(c.bal_cents) AS BIGINT) AS total_cents
    FROM c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE c.bal_cents > (SELECT avg_pos_cents FROM thr)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY n.n_name
    """,
)
def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average positive balance
    and no order since 2000, counted per nation (fixture has no phone
    column, so the country-code grouping becomes the nation dimension;
    and every fixture customer has ≥1 lifetime order, so "never
    ordered" becomes "idle since 2000" — documented adaptations, the
    anti-join + scalar-subquery shape is intact). Balances are
    compared in exact integer cents: the threshold is sum(cents)/count
    — one exact-long division evaluated identically in both engines,
    immune to float summation order. NOT EXISTS is a LEFT ANTI join
    against the date-filtered, column-pruned o_custkey probe; the
    scalar threshold broadcasts."""
    customer, orders, nation = load_tables(
        spark, sf_dir, "customer", "orders", "nation"
    )
    c = customer.select(
        "c_custkey",
        "c_nationkey",
        _cents(F.col("c_acctbal")).alias("bal_cents"),
    )
    thr = c.filter(F.col("bal_cents") > 0).agg(
        (F.sum("bal_cents") / F.count("*")).alias("avg_pos_cents")
    )
    rich = c.join(F.broadcast(thr)).filter(
        F.col("bal_cents") > F.col("avg_pos_cents")
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    idle = rich.join(recent, rich.c_custkey == recent.o_custkey, "left_anti")
    return (
        idle.join(F.broadcast(nation), idle.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_custs"),
            F.sum("bal_cents").alias("total_cents"),
        )
    )


# --------------------------------------------------------------------------
# CDC snapshot diff (operators/incremental.py::snapshot_diff)
# --------------------------------------------------------------------------


@query(
    "snapshot_diff_orders",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
      FROM orders WHERE o_orderdate < TIMESTAMP '2001-01-01'
    ),
    new AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_totalprice > 400000 THEN '1-URGENT'
                  ELSE o_orderpriority END AS o_orderpriority,
             o_totalprice
      FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    )
    SELECT coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'inserted'
                WHEN n.o_orderkey IS NULL THEN 'deleted'
                ELSE 'changed' END AS change_type
    FROM old o FULL OUTER JOIN new n ON n.o_orderkey = o.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
       OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
       OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
    """,
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot diff between two simulated versions of the orders
    table: the "old" version stops at 2001, the "new" version starts
    at 1996 and has repriced priorities for very large orders — so the
    diff surfaces all three change classes (inserted / deleted /
    changed). One full-outer sort-merge join on the key with null-safe
    column compares (operators/incremental.py::snapshot_diff); price
    values pass through unmodified so the double compare is bit-exact
    in both engines."""
    from ..operators.incremental import snapshot_diff

    (orders,) = load_tables(spark, sf_dir, "orders")
    old = orders.filter(
        F.col("o_orderdate") < F.lit("2001-01-01").cast("timestamp")
    ).select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
    new = orders.filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    ).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(F.col("o_totalprice") > 400000, F.lit("1-URGENT"))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
        "o_totalprice",
    )
    return snapshot_diff(old, new, ["o_orderkey"])


# --------------------------------------------------------------------------
# SCD Type-2 history apply (operators/incremental.py::scd2_apply)
# --------------------------------------------------------------------------


@query(
    "scd2_customer_history",
    oracle="""
    WITH hist AS (
      SELECT c_custkey, c_mktsegment,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer
    ),
    changed AS (SELECT * FROM hist WHERE c_custkey % 7 = 0),
    noop    AS (SELECT * FROM hist WHERE c_custkey % 11 = 0 AND c_custkey % 7 <> 0),
    -- untouched open rows: keys with no batch row, plus idempotent no-ops
    kept AS (
      SELECT c_custkey, c_mktsegment, bal_cents,
             '1995-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to,
             true AS is_current
      FROM hist WHERE c_custkey % 7 <> 0
    ),
    closed_out AS (
      SELECT c_custkey, c_mktsegment, bal_cents,
             '1995-01-01' AS valid_from, '2001-01-01' AS valid_to,
             false AS is_current
      FROM changed
    ),
    fresh AS (
      SELECT c_custkey, c_mktsegment, bal_cents + 5000 AS bal_cents,
             '2001-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to,
             true AS is_current
      FROM changed
    ),
    new_keys AS (
      SELECT c_custkey + 1000000 AS c_custkey, 'NEWSEG' AS c_mktsegment,
             bal_cents,
             '2001-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to,
             true AS is_current
      FROM hist WHERE c_custkey % 13 = 0
    )
    SELECT * FROM kept
    UNION ALL SELECT * FROM closed_out
    UNION ALL SELECT * FROM fresh
    UNION ALL SELECT * FROM new_keys
    """,
)
def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension maintenance: a seeded customer history (one
    open version per key) takes one change batch containing value
    changes (every 7th key: balance +50.00), idempotent re-deliveries
    (every 11th key: identical row — must be a no-op), and brand-new
    keys (every 13th key, offset by 1e6). The engine closes superseded
    versions at the batch timestamp, opens fresh ones, and passes
    everything else through (operators/incremental.py::scd2_apply —
    one keyed left join over the OPEN slice only).

    The oracle reconstructs the expected history set-theoretically;
    balances travel as exact integer cents."""
    from ..operators.incremental import scd2_apply

    (customer,) = load_tables(spark, sf_dir, "customer")
    hist = customer.select(
        "c_custkey",
        "c_mktsegment",
        _cents(F.col("c_acctbal")).alias("bal_cents"),
        F.lit("1995-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    changed = hist.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        "c_mktsegment",
        (F.col("bal_cents") + 5000).alias("bal_cents"),
    )
    noop = hist.filter(
        (F.col("c_custkey") % 11 == 0) & (F.col("c_custkey") % 7 != 0)
    ).select("c_custkey", "c_mktsegment", "bal_cents")
    new_keys = hist.filter(F.col("c_custkey") % 13 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.lit("NEWSEG").alias("c_mktsegment"),
        "bal_cents",
    )
    batch = changed.unionByName(noop).unionByName(new_keys)
    # the three branches are disjoint by construction (%7 / %11-not-%7 /
    # +1e6 offset): one row per key, as scd2_apply requires
    return scd2_apply(
        hist,
        batch,
        ["c_custkey"],
        ["c_mktsegment", "bal_cents"],
        batch_ts="2001-01-01",
    )


# --------------------------------------------------------------------------
# Forward fill / LOCF (operators/temporal.py::forward_fill)
# --------------------------------------------------------------------------


@query(
    "daily_user_value_locf",
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
      SELECT DISTINCT user_id FROM events WHERE user_id % 10 = 0
    ),
    daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day, round(avg(value), 4) AS v
      FROM events WHERE user_id % 10 = 0
      GROUP BY user_id, CAST(ts AS DATE)
    ),
    grid AS (SELECT u.user_id, d.day FROM users u CROSS JOIN days d)
    SELECT g.user_id, strftime(g.day, '%Y-%m-%d') AS day,
           last_value(dl.v IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value_locf
    FROM grid g LEFT JOIN daily dl
      ON dl.user_id = g.user_id AND dl.day = g.day
    """,
)
def daily_user_value_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense daily per-user series with last-observation-carried-forward
    fill: calendar grid (day list broadcast into a per-user cross) left-
    joined with the sparse daily aggregate, gaps filled by
    operators/temporal.py::forward_fill — one window shuffle keyed by
    user, running-scalar state, no self-join. Days before a user's
    first observation stay NULL (LOCF never invents data). The daily
    aggregate is rounded BEFORE the fill so both engines carry
    identical values forward.

    Plan note: grid⋈daily is a keyed shuffle — a LEFT join cannot
    build its preserved side, so "broadcast the grid" is not a plan
    Spark can execute (and at 100 TB the daily aggregate is the big
    side anyway); the fill window keys on user_id, one more bounded
    shuffle of grid-sized (users × days) rows."""
    from ..operators.temporal import forward_fill

    (events,) = load_tables(spark, sf_dir, "events")
    ev = events.filter(F.col("user_id") % 10 == 0)
    bounds = events.select(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    )
    days = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    users = ev.select("user_id").distinct()
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.round(F.avg("value"), 4).alias("v")
    )
    grid = users.crossJoin(F.broadcast(days))
    joined = grid.join(daily, ["user_id", "day"], "left")
    return joined.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        forward_fill(
            joined, "v", key_cols=["user_id"], order_col="day"
        ).alias("value_locf"),
    )


# --------------------------------------------------------------------------
# Incremental rollup maintenance (operators/incremental.py::merge_rollup)
# --------------------------------------------------------------------------


@query(
    "incremental_rollup_merge",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value,
           max(value) AS max_value
    FROM events
    GROUP BY date_trunc('day', ts), event_type
    """,
)
def incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Algebraic-merge correctness of the incremental rollup: the event
    log is loaded in TWO batches (event-id parity split) through
    operators/incremental.py::merge_rollup — partial aggregates of
    batch 2 merged into the stored partials of batch 1 — and the
    maintained table must equal the oracle's one-shot full aggregation.
    This is the materialized-view maintenance contract: count merges by
    sum, sum by sum, max by max, so maintenance cost per refresh is
    O(batch + touched partitions), never O(history).

    Scale shape: each merge shuffles only the incoming batch's partial
    aggregate (group-key-bounded) plus a partition-pruned read of
    touched stored partitions (broadcast semi join on the partition
    key); untouched history is never re-read — the exact property the
    reference's full-reload tasks (weekly_dag.py T2/T4) lack and
    SURVEY §2.11 standardizes on."""
    from ..operators.incremental import merge_rollup

    (events,) = load_tables(spark, sf_dir, "events")
    rows = events.select(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "event_type",
        "value",
        "event_id",
    )
    measures = {
        "n_events": ("count", "*"),
        "total_value": ("sum", "value"),
        "max_value": ("max", "value"),
    }
    with tempfile.TemporaryDirectory(prefix="rollup_merge_") as tmp:
        # fresh NON-existent path: merge_rollup's first-run detection is
        # "target does not exist", and an empty-but-present dir is
        # neither a rollup nor absent
        target = f"{tmp}/rollup"
        for parity in (0, 1):
            merge_rollup(
                spark,
                rows.filter(F.col("event_id") % 2 == parity).drop("event_id"),
                target,
                keys=["day", "event_type"],
                partition_col="day",
                measures=measures,
            )
        out = spark.read.parquet(target).select(
            F.col("day").cast("string").alias("day"),
            "event_type",
            "n_events",
            F.round("total_value", 2).alias("total_value"),
            "max_value",
        ).localCheckpoint(eager=True)  # pin before the scratch dir dies
    return register_pinned(out)


# --------------------------------------------------------------------------
# Incremental join-view maintenance (operators/incremental.py::merge_join_view)
# --------------------------------------------------------------------------


@query(
    "join_view_maintenance",
    oracle="""
    SELECT c.c_nationkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
    """,
)
def join_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-join-view maintenance: orders and customers arrive
    in TWO delta batches each (key-parity split) and the stored view is
    kept current through the insert-only IVM identity
    Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB (operators/incremental.py::
    merge_join_view) — then the maintained view must aggregate to
    exactly the oracle's one-shot join. Each refresh joins deltas
    against a semi-join-pruned slice of stored history, so refresh
    cost is O(delta + matching history), never O(A⋈B).

    The reference re-derives joined frames wholesale every run
    (weekly_dag.py's monthly pipeline re-joins everything); this is
    the engine-grade alternative its BigQuery tier never offered."""
    from ..operators.incremental import merge_join_view

    orders, customer = load_tables(spark, sf_dir, "orders", "customer")
    o = orders.select(
        F.col("o_custkey").alias("custkey"), "o_orderkey", "o_totalprice"
    )
    c = customer.select(
        F.col("c_custkey").alias("custkey"), "c_nationkey"
    )
    with tempfile.TemporaryDirectory(prefix="join_view_") as tmp:
        root = f"{tmp}/ivm"
        for parity in (0, 1):
            merge_join_view(
                spark,
                root,
                o.filter(F.col("o_orderkey") % 2 == parity),
                c.filter(F.col("custkey") % 2 == parity),
                on=["custkey"],
                batch_id=parity,
            )
        # read with the schema merge_join_view wrote: the join's columns
        # plus its _batch_id partition (no schema-inference job)
        written = o.join(c, ["custkey"]).withColumn("_batch_id", F.lit(0)).schema
        view = spark.read.schema(written).parquet(root + "/view")
        out = view.groupBy(F.col("c_nationkey")).agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        ).localCheckpoint(eager=True)  # pin before the scratch dir dies
    return register_pinned(out)


# --------------------------------------------------------------------------
# Revenue concentration (Pareto) per market segment
# --------------------------------------------------------------------------


@query(
    "pareto_revenue_by_segment",
    oracle="""
    WITH rev AS (
      SELECT c.c_mktsegment AS segment, c.c_custkey,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT segment, rev_cents,
             CAST(sum(rev_cents) OVER (
               PARTITION BY segment
               ORDER BY rev_cents DESC, c_custkey
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running,
             CAST(sum(rev_cents) OVER (PARTITION BY segment) AS BIGINT)
               AS total
      FROM rev
    )
    SELECT segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(max(total) AS BIGINT) AS total_revenue_cents,
           CAST(coalesce(sum(
             CASE WHEN (running - rev_cents) * 5 < total * 4 THEN 1 END
           ), 0) AS BIGINT) AS n_top80,
           round(coalesce(sum(
             CASE WHEN (running - rev_cents) * 5 < total * 4 THEN 1 END
           ), 0) * 1.0 / count(*), 6) AS share_top80
    FROM cum
    GROUP BY segment
    """,
)
def pareto_revenue_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration per market segment: how many of the
    segment's buying customers cover 80% of its revenue (the Pareto /
    ABC-analysis cut every sales-analytics stack computes). A customer
    is in the top-80 set when the running revenue BEFORE it (customers
    ranked by revenue desc, custkey tiebreak) has not yet reached 80%
    of the segment total — i.e. the minimal covering prefix. All money
    is exact integer cents and the 80% test is cross-multiplied
    ((running - rev)·5 < total·4), so no division or float enters the
    cut decision and the count is bit-stable under any layout.

    Plan: per-customer aggregation shuffles on the join/group key; the
    ranking windows are PARTITIONED by segment over the post-agg
    customer frame (never the orders fact table); the final agg is
    segment-sized. At 100 TB the per-segment customer frames are the
    window's partition unit — the documented skew/salting stance
    applies if one segment dominates."""
    customer, orders = load_tables(spark, sf_dir, "customer", "orders")

    rev = (
        customer.join(
            orders, orders["o_custkey"] == customer["c_custkey"]
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"), F.col("c_custkey")
        )
        .agg(F.sum(_cents(F.col("o_totalprice"))).alias("rev_cents"))
    )
    wrun = (
        Window.partitionBy("segment")
        .orderBy(F.desc("rev_cents"), F.asc("c_custkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("segment")
    cum = rev.select(
        "segment",
        "rev_cents",
        F.sum("rev_cents").over(wrun).alias("running"),
        F.sum("rev_cents").over(wtot).alias("total"),
    )
    in_top80 = (
        (F.col("running") - F.col("rev_cents")) * 5 < F.col("total") * 4
    ).cast("long")
    return cum.groupBy("segment").agg(
        F.count("*").alias("n_customers"),
        F.max("total").alias("total_revenue_cents"),
        F.sum(in_top80).alias("n_top80"),
        F.round(F.sum(in_top80) / F.count("*"), 6).alias("share_top80"),
    )


# --------------------------------------------------------------------------
# Month-over-month revenue growth
# --------------------------------------------------------------------------


@query(
    "monthly_revenue_mom_growth",
    oracle="""
    WITH m AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
      FROM orders GROUP BY 1
    )
    SELECT month, revenue_cents,
           CAST(lag(revenue_cents) OVER (ORDER BY month) AS BIGINT)
             AS prev_cents,
           round((revenue_cents - lag(revenue_cents) OVER (ORDER BY month))
                 * 1.0 / lag(revenue_cents) OVER (ORDER BY month), 6)
             AS mom_growth
    FROM m
    """,
)
def monthly_revenue_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth — the period-over-period lag
    pattern every BI layer computes. Monthly totals are exact integer
    cents (map-side-combining agg keyed on the month); the lag window
    and growth ratio run over the POST-AGGREGATION frame — O(calendar
    months) rows regardless of order volume, the acceptable
    single-partition class. The first month's growth is NULL by lag
    semantics in both engines; the ratio is the only float and is
    rounded to 6 dp."""
    (orders,) = load_tables(spark, sf_dir, "orders")

    m = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(F.sum(_cents(F.col("o_totalprice"))).alias("revenue_cents"))
    w = Window.orderBy("month")
    prev = F.lag("revenue_cents").over(w)
    return m.select(
        "month",
        "revenue_cents",
        prev.alias("prev_cents"),
        F.round((F.col("revenue_cents") - prev) / prev, 6).alias("mom_growth"),
    )


# --------------------------------------------------------------------------
# Q5 — local supplier volume (same-nation customer+supplier, region-bound)
# --------------------------------------------------------------------------


@query(
    "local_supplier_volume",
    oracle="""
    SELECT n.n_name,
           CAST(round(sum(l.l_extendedprice * (1 - l.l_discount)) * 100)
                AS BIGINT) AS revenue_cents
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE c.c_nationkey = s.s_nationkey
      AND r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — the last classic star shape missing from the
    registry: 1996 revenue per ASIA nation counting only LOCAL commerce
    (customer and supplier share a nation — the c_nationkey =
    s_nationkey join predicate that makes Q5 famous as the one TPC-H
    query with a non-key equality across two dimensions).

    Shape (the scale-honest Q5 plan): the date filter prunes orders at
    scan (PushedFilters); orders⋈customer is a KEYED custkey shuffle —
    customer is order-of-fact-sized in TPC-H, so it must never
    broadcast — producing a slim (orderkey, cust_nation) frame; the one
    lineitem-sized shuffle joins that frame on orderkey; the
    region-pruned nation list (≤25 rows, constant) is the genuinely
    small side and hint-broadcasts; the ASIA-filtered supplier frame
    is SF-PROPORTIONAL so it carries no hint (same rule as r13
    verdict item 1) — AQE broadcasts it at bench SFs and degrades to
    a keyed shuffle at scale. The same-nation predicate then compares two attached
    columns — never a shuffle key. Revenue summed to exact cents AFTER
    a single rounding in both engines (the registry's money
    convention)."""
    lineitem, orders, customer, supplier, nation, region = load_tables(
        spark, sf_dir,
        "lineitem", "orders", "customer", "supplier", "nation", "region",
    )
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    # keyed shuffle join: both sides big at scale, both keyed on custkey
    o2 = o.join(
        customer.select("c_custkey", "c_nationkey"),
        o["o_custkey"] == F.col("c_custkey"),
    ).select("o_orderkey", "c_nationkey")
    asia_nations = (
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            nation["n_regionkey"] == region["r_regionkey"],
        ).select("n_nationkey", "n_name")
    )
    s = supplier.join(
        F.broadcast(asia_nations),
        supplier["s_nationkey"] == asia_nations["n_nationkey"],
    ).select("s_suppkey", "s_nationkey", "n_name")
    joined = (
        lineitem.select(
            "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
        )
        .join(o2, lineitem["l_orderkey"] == o2["o_orderkey"])
        .join(s, lineitem["l_suppkey"] == s["s_suppkey"])
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
    )
    return joined.groupBy("n_name").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100
        )
        .cast("long")
        .alias("revenue_cents")
    )
