"""Reference-parity queries (SURVEY.md §2), one per operator row.

Each query exercises one operator family from the reference inventory
over the driver's fixture tables, with a DuckDB oracle. Spark side is
pure DataFrame API (lazy, Catalyst-optimized); oracle side is the
equivalent ANSI SQL.

Reference citations live on each function; fixture tables stand in for
the BigQuery warehouse (orders ≈ fact rows with a date to decompose,
customer/nation/region ≈ dimensions, events ≈ the JSON-bearing source).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..functions.scalar import (
    decompose_date,
    json_path,
    parse_unit_suffixed,
    today_parts,
)
from ..operators.relational import (
    add_literal,
    anti_join_new_rows,
    conjunctive_filter,
    n_way_inner_join,
    rename_columns,
    union_all,
)
from .registry import load_tables, query

# --------------------------------------------------------------------------
# S1 / P4 / P6 — predicate scan
# --------------------------------------------------------------------------


@query(
    "predicate_scan",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE year(l_shipdate) = 1997 AND month(l_shipdate) = 3
    """,
)
def predicate_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+P6 — scan with conjunctive equality predicates
    (``daily_dag.py:80-82``). Filter is declared on the lazy plan so it
    reaches the parquet reader as a pushed filter."""
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    df = lineitem.withColumn("year", F.year("l_shipdate")).withColumn(
        "month", F.month("l_shipdate")
    )
    return conjunctive_filter(df, year=1997, month=3).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


# --------------------------------------------------------------------------
# P1 / P2 / P3 — projection, rename, literal column
# --------------------------------------------------------------------------


@query(
    "projection_rename_literal",
    oracle="""
    SELECT c_custkey AS custkey, c_name AS name, c_acctbal AS acctbal,
           'sgx' AS source
    FROM customer
    """,
)
def projection_rename_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 (drop) + P2 (bulk rename, ``daily_dag.py:104-105``) +
    P3 (literal tag column, ``daily_dag.py:93``)."""
    (customer,) = load_tables(spark, sf_dir, "customer")
    df = customer.select("c_custkey", "c_name", "c_acctbal")
    df = rename_columns(
        df, {"c_custkey": "custkey", "c_name": "name", "c_acctbal": "acctbal"}
    )
    return add_literal(df, "source", "sgx")


# --------------------------------------------------------------------------
# P5 — range predicate
# --------------------------------------------------------------------------


@query(
    "range_filter",
    oracle="""
    SELECT o_orderkey, o_totalprice, CAST(year(o_orderdate) AS BIGINT) AS year
    FROM orders
    WHERE year(o_orderdate) > 1999
    """,
)
def range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 — the reference's horizon filter ``year > 2020``
    (``weekly_dag.py:417``)."""
    (orders,) = load_tables(spark, sf_dir, "orders")
    return (
        orders.withColumn("year", F.year("o_orderdate").cast("long"))
        .filter(F.col("year") > 1999)
        .select("o_orderkey", "o_totalprice", "year")
    )


# --------------------------------------------------------------------------
# F1 / F2 / P1 — date decomposition
# --------------------------------------------------------------------------


@query(
    "date_decomposition",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT)  AS year,
           CAST(month(o_orderdate) AS BIGINT) AS month,
           CAST(day(o_orderdate) AS BIGINT)   AS day
    FROM orders
    """,
)
def date_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1+F2 — decompose a timestamp into integer year/month/day and
    drop the source column (``daily_dag.py:62-66``): the reference's
    degenerate date dimension."""
    (orders,) = load_tables(spark, sf_dir, "orders")
    return decompose_date(orders.select("o_orderkey", "o_orderdate"), "o_orderdate")


# --------------------------------------------------------------------------
# F3 / F4 / F5 — casts and null handling
# --------------------------------------------------------------------------


@query(
    "casts_and_coalesce",
    oracle="""
    SELECT event_id,
           CAST(trunc(value) AS BIGINT)   AS value_int,
           CAST(user_id AS VARCHAR)       AS user_str,
           CAST(coalesce(value, 0.0) AS DOUBLE) AS value_filled
    FROM events
    """,
)
def casts_and_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 (numeric cast, NULL-on-failure), F4 (stringify,
    ``weekly_dag.py:91``), F5 (``x if x != None else default``,
    ``weekly_dag.py:311``)."""
    (events,) = load_tables(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.col("value").cast("long").alias("value_int"),
        F.col("user_id").cast("string").alias("user_str"),
        F.coalesce(F.col("value"), F.lit(0.0)).cast("double").alias("value_filled"),
    )


# --------------------------------------------------------------------------
# F6 — unit-suffix numeric parse
# --------------------------------------------------------------------------


@query(
    "unit_suffix_parse",
    oracle="""
    SELECT p_partkey,
           raw_cap,
           CAST(regexp_extract(raw_cap, '^\\s*(-?[\\d.]+)', 1) AS DOUBLE)
             * (CASE upper(regexp_extract(raw_cap, '([TtBbMmKk])\\s*$', 1))
                  WHEN 'T' THEN 1e12 WHEN 'B' THEN 1e9
                  WHEN 'M' THEN 1e6 WHEN 'K' THEN 1e3 ELSE 1.0 END)
             AS market_cap
    FROM (
      SELECT p_partkey,
             concat(CAST(p_size AS VARCHAR), '.',
                    CAST(p_partkey % 10 AS VARCHAR),
                    CASE p_partkey % 4 WHEN 0 THEN 'B' WHEN 1 THEN 'M'
                                       WHEN 2 THEN 'K' ELSE '' END) AS raw_cap
      FROM part
    )
    """,
)
def unit_suffix_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 — "13.9B" → 13.9e9, generalizing ``float(s[:-1]) * 10**9``
    (``weekly_dag.py:313``). The suffixed strings are synthesized
    deterministically from integer part attributes so both engines see
    byte-identical input."""
    (part,) = load_tables(spark, sf_dir, "part")
    raw = part.select(
        "p_partkey",
        F.concat(
            F.col("p_size").cast("string"),
            F.lit("."),
            (F.col("p_partkey") % 10).cast("string"),
            F.when(F.col("p_partkey") % 4 == 0, F.lit("B"))
            .when(F.col("p_partkey") % 4 == 1, F.lit("M"))
            .when(F.col("p_partkey") % 4 == 2, F.lit("K"))
            .otherwise(F.lit("")),
        ).alias("raw_cap"),
    )
    return raw.select(
        "p_partkey",
        "raw_cap",
        parse_unit_suffixed("raw_cap").alias("market_cap"),
    )


# --------------------------------------------------------------------------
# F7 — scalar JSON-path lookup
# --------------------------------------------------------------------------


@query(
    "json_path_scalar",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
    FROM events
    """,
)
def json_path_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 — ``json['data']['price']``-style scalar lookup
    (``daily_dag.py:59-60``) as ``get_json_object``."""
    (events,) = load_tables(spark, sf_dir, "events")
    return events.select(
        "event_id",
        json_path("props", "k").cast("long").alias("k_val"),
    )


# --------------------------------------------------------------------------
# F8 — current-date parts (deterministic as_of injection)
# --------------------------------------------------------------------------


@query(
    "today_parts",
    oracle="""
    SELECT CAST(year(DATE '2024-06-15') AS BIGINT)  AS year,
           CAST(month(DATE '2024-06-15') AS BIGINT) AS month,
           CAST(day(DATE '2024-06-15') AS BIGINT)   AS day
    """,
)
def today_parts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 — ``date.today()`` decomposition (``daily_dag.py:75-78``) with
    an injected as_of date for determinism (SURVEY.md §7.3c)."""
    parts = today_parts("2024-06-15")
    return spark.range(1).select(
        parts["year"].alias("year"),
        parts["month"].alias("month"),
        parts["day"].alias("day"),
    )


# --------------------------------------------------------------------------
# P7 — unnest / flatten (array → rows)
# --------------------------------------------------------------------------


@query(
    "unnest_tokens",
    oracle="""
    SELECT token, count(*) AS n
    FROM (
      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
      FROM documents
    )
    GROUP BY token
    """,
)
def unnest_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 — the reference flattens each indicator's JSON array into rows
    with an explicit loop (``weekly_dag.py:382-391``); here: explode an
    array column into rows, then aggregate."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    return (
        documents.select(
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token")
        )
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )


# --------------------------------------------------------------------------
# J1 — N-way inner join
# --------------------------------------------------------------------------


@query(
    "nway_inner_join",
    oracle="""
    SELECT o.o_orderkey, c.c_custkey, n.n_name, r.r_name, o.o_totalprice
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE year(o.o_orderdate) = 2000
    """,
)
def nway_inner_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — fold of inner equi-joins (``reduce(pd.merge...)``,
    ``weekly_dag.py:393-394``). nation/region are tiny dims: Catalyst
    auto-broadcasts them (BroadcastHashJoin), no shuffle of orders."""
    orders, customer, nation, region = load_tables(
        spark, sf_dir, "orders", "customer", "nation", "region"
    )
    o = orders.filter(F.year("o_orderdate") == 2000)
    joined = (
        o.join(customer, o.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
    )
    return joined.select("o_orderkey", "c_custkey", "n_name", "r_name", "o_totalprice")


# --------------------------------------------------------------------------
# J1 (wide form) — same-key N-way join of single-metric frames
# --------------------------------------------------------------------------


@query(
    "nway_same_key_join",
    oracle="""
    WITH a AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS year,
                      round(sum(o_totalprice), 2) AS total_price
               FROM orders GROUP BY 1),
         b AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS year,
                      count(*) AS n_orders
               FROM orders GROUP BY 1),
         c AS (SELECT CAST(year(l_shipdate) AS BIGINT) AS year,
                      round(sum(l_quantity), 2) AS total_qty
               FROM lineitem GROUP BY 1)
    SELECT a.year, a.total_price, b.n_orders, c.total_qty
    FROM a JOIN b ON a.year = b.year JOIN c ON a.year = c.year
    """,
)
def nway_same_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — the reference's exact shape: N single-indicator frames keyed
    by date, folded into one wide frame (``weekly_dag.py:393-394``).
    Small aggregated sides → broadcast hint, zero shuffle joins."""
    orders, lineitem = load_tables(spark, sf_dir, "orders", "lineitem")
    a = orders.groupBy(F.year("o_orderdate").cast("long").alias("year")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("total_price")
    )
    b = orders.groupBy(F.year("o_orderdate").cast("long").alias("year")).agg(
        F.count("*").alias("n_orders")
    )
    c = lineitem.groupBy(F.year("l_shipdate").cast("long").alias("year")).agg(
        F.round(F.sum("l_quantity"), 2).alias("total_qty")
    )
    return n_way_inner_join([a, b, c], on="year", broadcast_all_but_first=True)


# --------------------------------------------------------------------------
# J2 — anti-join (idempotent-insert probe)
# --------------------------------------------------------------------------


@query(
    "anti_join_new_keys",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND year(o.o_orderdate) = 2001)
    """,
)
def anti_join_new_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — "which incoming keys are not yet in the table", the
    reference's per-row probe loop (``weekly_dag.py:420-427``,
    ``#This is super slow``) as ONE left_anti join. The probed table is
    the 2001 order slice, so a meaningful set of keys survives."""
    customer, orders = load_tables(spark, sf_dir, "customer", "orders")
    existing = orders.filter(F.year("o_orderdate") == 2001).select(
        F.col("o_custkey").alias("c_custkey")
    )
    new = anti_join_new_rows(customer, existing, ["c_custkey"])
    return new.select("c_custkey", "c_name")


# --------------------------------------------------------------------------
# J2b — semi join (EXISTS)
# --------------------------------------------------------------------------


@query(
    "semi_join_existing_keys",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def semi_join_existing_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complement of J2 — the existence probe itself (``len(pulled) > 0``,
    ``daily_dag.py:84``) as a left_semi join."""
    customer, orders = load_tables(spark, sf_dir, "customer", "orders")
    probe = orders.select(F.col("o_custkey").alias("c_custkey")).distinct()
    return customer.join(probe, on="c_custkey", how="left_semi").select(
        "c_custkey", "c_name"
    )


# --------------------------------------------------------------------------
# J3 — star-schema analytical join + group-by (the warehouse's purpose)
# --------------------------------------------------------------------------


@query(
    "star_join_revenue",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS BIGINT) AS year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*) AS n_lineitems
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2
    """,
)
def star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — fact↔dimension analytical join promised by ``README.md:4``
    (ad-hoc analysis for retail investors). lineitem⋈orders is the only
    fact-sized shuffle. nation (25 rows, constant at every SF) is
    hint-broadcast; customer is SF-PROPORTIONAL (TPC-H scales it with
    the fact tables), so it carries NO hint — AQE measures it under
    the broadcast threshold at bench SFs and picks the same
    BroadcastHashJoin, while at 100 TB (~15 B customer rows) the join
    degrades gracefully to a keyed shuffle instead of dying at the
    8 GB broadcast cap (r13 verdict item 1)."""
    lineitem, orders, customer, nation = load_tables(
        spark, sf_dir, "lineitem", "orders", "customer", "nation"
    )
    joined = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    )
    return joined.groupBy(
        F.col("n_name").alias("nation"),
        F.year("o_orderdate").cast("long").alias("year"),
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count("*").alias("n_lineitems"),
    )


# --------------------------------------------------------------------------
# U1 — UNION ALL
# --------------------------------------------------------------------------


@query(
    "union_all_branches",
    oracle="""
    SELECT o_orderkey, o_totalprice, 'y2000' AS branch
    FROM orders WHERE year(o_orderdate) = 2000
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'y2001' AS branch
    FROM orders WHERE year(o_orderdate) = 2001
    """,
)
def union_all_branches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 — ``pd.concat`` over per-source frames (``daily_dag.py:90-96``)
    as a unionByName fold."""
    (orders,) = load_tables(spark, sf_dir, "orders")
    a = (
        orders.filter(F.year("o_orderdate") == 2000)
        .select("o_orderkey", "o_totalprice")
        .withColumn("branch", F.lit("y2000"))
    )
    b = (
        orders.filter(F.year("o_orderdate") == 2001)
        .select("o_orderkey", "o_totalprice")
        .withColumn("branch", F.lit("y2001"))
    )
    return union_all([a, b])


# --------------------------------------------------------------------------
# A1 — existence / count check
# --------------------------------------------------------------------------


@query(
    "count_existence_probe",
    oracle="""
    SELECT count(*) AS n,
           count(*) = 0 AS is_absent
    FROM lineitem
    WHERE year(l_shipdate) = 1997 AND month(l_shipdate) = 3
    """,
)
def count_existence_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — ``len(pulled_df) == 0`` insert gate (``daily_dag.py:84``) as
    a count aggregate (engine code uses ``isEmpty()`` which stops at the
    first non-empty partition)."""
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    probe = lineitem.filter(
        (F.year("l_shipdate") == 1997) & (F.month("l_shipdate") == 3)
    )
    return probe.agg(
        F.count("*").alias("n"),
        (F.count("*") == 0).alias("is_absent"),
    )


# --------------------------------------------------------------------------
# A2 — multiset equality
# --------------------------------------------------------------------------


@query(
    "multiset_equality",
    oracle="""
    WITH a AS (SELECT o_orderkey, o_totalprice FROM orders
               WHERE year(o_orderdate) = 2000),
         b AS (SELECT o_orderkey, o_totalprice FROM orders
               WHERE year(o_orderdate) = 2000),
         d1 AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b),
         d2 AS (SELECT * FROM b EXCEPT ALL SELECT * FROM a)
    SELECT (SELECT count(*) FROM d1) + (SELECT count(*) FROM d2) AS n_diff,
           ((SELECT count(*) FROM d1) + (SELECT count(*) FROM d2)) = 0 AS is_equal
    """,
)
def multiset_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — the reference's frame-equality upsert gate
    (``pulled_df.equals(new)``, ``weekly_dag.py:131``) as order-
    insensitive EXCEPT ALL emptiness in both directions."""
    (orders,) = load_tables(spark, sf_dir, "orders")
    a = orders.filter(F.year("o_orderdate") == 2000).select(
        "o_orderkey", "o_totalprice"
    )
    b = orders.filter(F.year("o_orderdate") == 2000).select(
        "o_orderkey", "o_totalprice"
    )
    d1 = a.exceptAll(b).agg(F.count("*").alias("c1"))
    d2 = b.exceptAll(a).agg(F.count("*").alias("c2"))
    return d1.crossJoin(d2).select(
        (F.col("c1") + F.col("c2")).alias("n_diff"),
        ((F.col("c1") + F.col("c2")) == 0).alias("is_equal"),
    )


# --------------------------------------------------------------------------
# O1 — global sort
# --------------------------------------------------------------------------


@query(
    "global_sort",
    oracle="""
    SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           o_totalprice
    FROM orders
    WHERE year(o_orderdate) = 2001
    ORDER BY o_orderdate, o_orderkey
    """,
)
def global_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 — ``sort_values('date')`` before write (``daily_dag.py:102``).
    Spark: range-partitioned total sort. (The hash comparison is
    order-insensitive; the plan is what's under test here.)"""
    (orders,) = load_tables(spark, sf_dir, "orders")
    return (
        orders.filter(F.year("o_orderdate") == 2001)
        .orderBy("o_orderdate", "o_orderkey")
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_totalprice",
        )
    )


# --------------------------------------------------------------------------
# Analytical surface (README.md:4 promise): group-by aggregation — TPC-H Q1
# --------------------------------------------------------------------------


@query(
    "groupby_agg_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)       AS sum_qty,
           round(sum(l_extendedprice), 2)  AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
                                           AS sum_charge,
           round(avg(l_quantity), 4)       AS avg_qty,
           round(avg(l_extendedprice), 4)  AS avg_price,
           round(avg(l_discount), 6)       AS avg_disc,
           count(*)                        AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def groupby_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-by aggregation (TPC-H Q1 shape) — the ad-hoc analytics the
    warehouse exists for (``README.md:4``). Partial aggregation
    (map-side combine) + AQE-coalesced exchange; 4 groups total."""
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# Top-K (global) and Top-K per group (window)
# --------------------------------------------------------------------------


@query(
    "topk_global",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    ORDER BY c_acctbal DESC, c_custkey
    LIMIT 10
    """,
)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-K — Spark compiles orderBy+limit into TakeOrderedAndProject
    (per-partition heap + driver merge, no total sort). Tie-broken on
    c_custkey for determinism."""
    (customer,) = load_tables(spark, sf_dir, "customer")
    return (
        customer.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
        .select("c_custkey", "c_name", "c_acctbal")
        .limit(10)
    )


@query(
    "topk_per_group",
    oracle="""
    SELECT c_nationkey, c_custkey, c_acctbal, rank
    FROM (
      SELECT c_nationkey, c_custkey, c_acctbal,
             CAST(row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS rank
      FROM customer
    )
    WHERE rank <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window ranking — top 3 customers per nation. One shuffle on the
    partition key; row_number tie-broken for determinism."""
    (customer,) = load_tables(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        customer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("c_nationkey", "c_custkey", "c_acctbal", "rank")
    )


# --------------------------------------------------------------------------
# Window: moving average (the OHLCV moving-average extension shape)
# --------------------------------------------------------------------------


@query(
    "window_moving_avg",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           round(avg(l_quantity) OVER (
             PARTITION BY l_suppkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS qty_ma7
    FROM lineitem
    """,
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic frame window — 7-row moving average per supplier, the
    natural Spark form of a per-ticker OHLCV moving average
    (SURVEY.md §2.7).

    The ORDER BY includes l_quantity because (l_orderkey,
    l_linenumber) is NOT unique in this corpus (the generator injects
    dup-prone rows — 11,785 duplicate keys at sf0.01, 118,144 at
    sf0.1): a ROWS frame over a non-total order hands each engine an
    arbitrary peer permutation, and the one sf0.1 tie whose duplicates
    carry DIFFERENT quantities flipped 2 rows between Spark and DuckDB
    until the value column joined the sort key. With l_quantity in the
    order, remaining ties are full-duplicate rows, whose frame
    averages are permutation-invariant."""
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
        .rowsBetween(-6, 0)
    )
    return lineitem.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(F.avg("l_quantity").over(w), 4).alias("qty_ma7"),
    )


# --------------------------------------------------------------------------
# Event-time tumbling window
# --------------------------------------------------------------------------


@query(
    "window_tumbling_daily",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def window_tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window over the events table (same logical
    result as ``F.window(ts, '1 day')``)."""
    (events,) = load_tables(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# Sessionization (gap-based) — lag + cumulative sum
# --------------------------------------------------------------------------


@query(
    "sessionize_events",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id)
                       > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id,
             CAST(sum(is_new_session) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS BIGINT)
               AS session_id
      FROM flagged
    )
    SELECT user_id, count(DISTINCT session_id) AS n_sessions, count(*) AS n_events
    FROM sessions
    GROUP BY user_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization — lag(ts) gap detection + running sum (pyspark
    guide 'Common OLAP patterns'). 30-minute inactivity gap."""
    (events,) = load_tables(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # Microsecond precision on both sides: the DuckDB oracle compares
    # epoch_us the same way, so boundary gaps can't flip between engines.
    micros = F.unix_micros(F.col("ts"))
    gap = micros - F.lag(micros).over(w)
    flagged = events.withColumn(
        "is_new_session",
        F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), F.lit(1)).otherwise(F.lit(0)),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("is_new_session").over(w.rowsBetween(W.unboundedPreceding, 0)).cast("long"),
    )
    return sessions.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


# --------------------------------------------------------------------------
# Approximate aggregates (scale path: sketches instead of exact distinct)
# --------------------------------------------------------------------------


@query(
    "approx_distinct_parts",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(*) AS n,
           TRUE AS approx_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct — the 100 TB substitute for
    countDistinct — reported as its accuracy contract: the rsd=0.01
    sketch must land within 2% of the exact count per group (HLL++ is
    deterministic for fixed input, so the flag is stable, and DuckDB
    verifies the exact side + the contract instead of rows-only)."""
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.count("*").alias("n"),
            F.approx_count_distinct("l_partkey", 0.01).alias("_approx"),
        )
        .select(
            "l_returnflag",
            "n_parts",
            "n",
            (
                F.abs(F.col("_approx") - F.col("n_parts"))
                <= 0.02 * F.col("n_parts")
            ).alias("approx_ok"),
        )
    )


@query(
    "exact_distinct_parts",
    oracle="""
    SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts, count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def exact_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counterpart (expand + two-phase agg in Spark)."""
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count("*").alias("n"),
    )


@query(
    "props_map_report",
    oracle="""
    SELECT k AS key, count(*) AS n,
           round(avg(CAST(json_extract_string(props, '$.' || k) AS DOUBLE)), 4)
             AS avg_val
    FROM events, unnest(json_keys(props)) AS t(k)
    GROUP BY k
    """,
)
def props_map_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type surface: parse the JSON props column into
    map<string,double> with ``from_json``, explode key/value pairs, and
    aggregate per key — typed semi-structured access with no string
    re-parsing downstream (F7's typed big sibling)."""
    (events,) = load_tables(spark, sf_dir, "events")
    parsed = events.select(
        F.explode(F.from_json("props", "map<string,double>")).alias("key", "val")
    )
    return parsed.groupBy("key").agg(
        F.count("*").alias("n"), F.round(F.avg("val"), 4).alias("avg_val")
    )


@query(
    "except_all_part_multiset",
    oracle="""
    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'N'
    EXCEPT ALL
    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def except_all_part_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset difference (EXCEPT ALL): occurrence counts subtract
    instead of collapsing to distinct — ``exceptAll`` compiles to an
    aggregate of per-side counts + generate, no row-by-row comparison."""
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    kept = lineitem.filter(F.col("l_returnflag") == "N").select("l_partkey")
    returned = lineitem.filter(F.col("l_returnflag") == "R").select("l_partkey")
    return kept.exceptAll(returned)


@query(
    "null_safe_join_props",
    oracle="""
    WITH k AS (
      SELECT event_id,
             CASE WHEN json_extract_string(props, '$.k') = '69' THEN NULL
                  ELSE CAST(json_extract_string(props, '$.k') AS BIGINT) END AS kv
      FROM events
    )
    SELECT a.kv AS k_value, count(*) AS n_pairs
    FROM k a JOIN k b
      ON a.kv IS NOT DISTINCT FROM b.kv AND a.event_id < b.event_id
    WHERE a.kv IS NULL
    GROUP BY a.kv
    """,
)
def null_safe_join_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each OTHER instead of vanishing — the semantics an identity-
    resolution join over dirty keys needs. The k='69' bucket is mapped
    to NULL to create a real null population; output counts the
    NULL-key pair group."""
    (events,) = load_tables(spark, sf_dir, "events")
    raw = F.get_json_object("props", "$.k")
    k = events.select(
        "event_id",
        F.when(raw == "69", F.lit(None)).otherwise(raw.cast("long")).alias("kv"),
    )
    a = k.select(F.col("kv").alias("a_kv"), F.col("event_id").alias("a_id"))
    b = k.select(F.col("kv").alias("b_kv"), F.col("event_id").alias("b_id"))
    return (
        a.join(b, a.a_kv.eqNullSafe(b.b_kv) & (a.a_id < b.b_id))
        .filter(F.col("a_kv").isNull())
        .groupBy(F.col("a_kv").alias("k_value"))
        .agg(F.count("*").alias("n_pairs"))
    )


@query(
    "date_functions_report",
    oracle="""
    SELECT o_orderkey,
           CAST(date_diff('day', DATE '1995-01-01',
                          CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_95,
           strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH,
                    '%Y-%m-%d') AS plus_3_months,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d')
             AS month_end,
           CAST(isodow(CAST(o_orderdate AS DATE)) AS BIGINT) AS iso_weekday,
           CAST(quarter(CAST(o_orderdate AS DATE)) AS BIGINT) AS qtr
    FROM orders
    """,
)
def date_functions_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-function surface (F1/F2's wider family): datediff,
    add_months, last_day, ISO weekday, quarter — all JVM date
    expressions in one narrow scan. ISO weekday = Spark's
    ``weekday() + 1`` (Mon=1..Sun=7, DuckDB isodow)."""
    (orders,) = load_tables(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.datediff(d, F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since_95"),
        F.date_format(F.add_months(d, 3), "yyyy-MM-dd").alias("plus_3_months"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        (F.weekday(d) + 1).cast("long").alias("iso_weekday"),
        F.quarter(d).cast("long").alias("qtr"),
    )


# --------------------------------------------------------------------------
# Custom Python DataSource (S3/S4 connector family, Spark 4 API)
# --------------------------------------------------------------------------


@query(
    "custom_source_events_report",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY event_type
    """,
)
def custom_source_events_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The S3/S4 HTTP-JSON connector family on the Spark 4 Python
    DataSource API (sources/pydatasource.py): the event table is
    round-tripped through newline-delimited JSON payload files and
    read back via ``format("json_payload")`` — one input partition per
    payload file, explicit schema (a connector must not infer), typed
    coercion and missing-key tolerance exercised on the way in — then
    aggregated. The oracle reads the ORIGINAL table: equality proves
    the connector is lossless for the declared column types (shortest-
    repr JSON doubles parse back bit-identical)."""
    import os
    import tempfile

    from ..sources.pydatasource import JsonPayloadDataSource

    spark.dataSource.register(JsonPayloadDataSource)
    (events,) = load_tables(spark, sf_dir, "events")
    # staging path keyed by (sf_dir, Spark application id): stable
    # WITHIN a session so repeated gate/bench/sweep runs overwrite
    # instead of accumulating events-sized JSON dumps, but disjoint
    # ACROSS concurrent sessions at the same scale factor (two drivers
    # racing one path = one overwrites the payloads the other is
    # mid-read on)
    root = os.path.join(
        tempfile.gettempdir(),
        f"sentiment_analysis_json_payload_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{spark.sparkContext.applicationId}",
        "payloads",
    )
    events.select("event_id", "event_type", "value").write.mode(
        "overwrite"
    ).json(root)
    df = (
        spark.read.format("json_payload")
        .schema("event_id long, event_type string, value double")
        .option("path", root)
        .load()
    )
    return df.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
