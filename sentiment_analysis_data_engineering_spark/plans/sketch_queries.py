"""Sketch-backed queries: exact heavy hitters via Misra-Gries
candidate pruning, and Bloom-filter join pruning.

Both sketches are WORK-pruning devices, never answer-changing ones, so
each query's DuckDB oracle is the plain exact formulation — the gate
verifies that the sketch path returns the bit-identical answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import load_tables, query

# --------------------------------------------------------------------------
# Heavy hitters (operators/sketches.py::heavy_hitters_exact)
# --------------------------------------------------------------------------

# Threshold fraction 1/(k+1) of the stream. k=119 (0.833%) sits just
# under the sf0.01 maximum user share (~0.86%), so the driver-gate run
# at sf0.01 returns a small NON-EMPTY heavy-hitter set — round 3's
# k=99 produced 0 rows vs 0 rows, a vacuous pass that proved nothing
# about the Misra-Gries → exact-recount path (VERDICT r3 item 1).
_HH_K = 119


@query(
    "heavy_hitter_users",
    oracle=f"""
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows
    FROM events
    GROUP BY user_id
    HAVING count(*) > (SELECT count(*) FROM events) / {_HH_K + 1}.0
    """,
)
def heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users contributing more than 1/{_HH_K + 1} of all events, with
    exact counts — computed by the two-pass Misra-Gries pattern
    (operators/sketches.py::heavy_hitters_exact) instead of a full
    group-by over the key cardinality.

    Why this matters at 100 TB: a naive group-by(user) shuffles EVERY
    distinct user; the MG pass reduces the candidate set to
    ≤ k × partitions keys (cluster-bounded), the recount shuffles only
    candidate-matching rows, and the exact threshold filter makes the
    result identical to the naive plan — which is exactly what the
    DuckDB oracle checks."""
    from ..operators.sketches import heavy_hitters_exact

    (events,) = load_tables(spark, sf_dir, "events")
    return heavy_hitters_exact(events, "user_id", k=_HH_K)


# --------------------------------------------------------------------------
# Bloom-pruned star join (operators/sketches.py::bloom_build/bloom_prune)
# --------------------------------------------------------------------------


@query(
    "bloom_pruned_order_revenue",
    oracle="""
    SELECT c.c_nationkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'AUTOMOBILE'
    GROUP BY c.c_nationkey
    """,
)
def bloom_pruned_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by nation for AUTOMOBILE-segment customers, with the
    fact side Bloom-pruned before the join: a filter built over the
    selected customer keys drops non-matching orders at scan time, so
    the join's shuffle moves only (matches + ~0.24% false positives),
    and the exact equi-join removes the FPs — the oracle is the plain
    join, verifying prune→join ≡ join.

    At 100 TB this is the classic "selective dim prunes huge fact"
    play when the dim is too big to broadcast outright but its KEY SET
    compresses into a few MB of bitmap; the build is a bounded driver
    OR-merge (bytes ∝ m_bits × BLOOM_BUILD_PARTITIONS, not rows). Spark's
    AQE runtime bloom join does this implicitly when stats align; the
    explicit operator makes it deterministic and reusable."""
    from ..operators.sketches import bloom_build, bloom_prune

    orders, customer = load_tables(spark, sf_dir, "orders", "customer")
    dim = customer.filter(F.col("c_mktsegment") == "AUTOMOBILE").select(
        "c_custkey", "c_nationkey"
    )
    bloom = bloom_build(dim, "c_custkey")
    pruned = bloom_prune(
        orders.select("o_custkey", "o_totalprice"), "o_custkey", bloom
    )
    return (
        pruned.join(dim, pruned["o_custkey"] == dim["c_custkey"])
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# Count-Min Sketch maintenance (operators/sketches.py::cms_*)
# --------------------------------------------------------------------------

_CMS_W = 512


def _cms_oracle() -> str:
    from ..operators.sketches import CMS_HASHES, CMS_P

    depth = len(CMS_HASHES)
    sketch = "\n      UNION ALL\n".join(
        f"""      SELECT {i} AS row_i,
             ((({CMS_HASHES[i][0]} * user_id + {CMS_HASHES[i][1]})
               % {CMS_P}) % {_CMS_W}) AS cell,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY cell"""
        for i in range(depth)
    )
    probes = "\n      UNION ALL\n".join(
        f"""      SELECT user_id, {i} AS row_i,
             ((({CMS_HASHES[i][0]} * user_id + {CMS_HASHES[i][1]})
               % {CMS_P}) % {_CMS_W}) AS cell
      FROM keys"""
        for i in range(depth)
    )
    return f"""
    WITH keys AS (SELECT DISTINCT user_id FROM events),
    sketch AS (
{sketch}
    ),
    probes AS (
{probes}
    ),
    est AS (
      SELECT p.user_id, min(s.cnt) AS est_count
      FROM probes p JOIN sketch s
        ON s.row_i = p.row_i AND s.cell = p.cell
      GROUP BY p.user_id
    ),
    exact AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS exact_count
      FROM events GROUP BY user_id
    )
    SELECT e.user_id, est.est_count, e.exact_count,
           est.est_count >= e.exact_count AS one_sided_ok
    FROM exact e JOIN est ON est.user_id = e.user_id
    """


@query("cms_user_counts", oracle=_cms_oracle())
def cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch frequency maintenance: the event log is
    sketched in TWO batches (event-id parity), the partial sketches
    are merged cell-wise (operators/sketches.py::cms_merge — the CMS
    merge law), and every user's frequency is estimated from the
    merged sketch next to its exact count.

    The modular hash chain is exact int64 arithmetic (constants below
    2^31 against the Mersenne prime 2^31-1), so the DuckDB oracle
    rebuilds the IDENTICAL sketch in plain SQL and the gate
    hash-checks the estimates themselves — plus the one-sided-error
    law (estimate ≥ truth, the CMS guarantee) as an explicit column.

    Scale: sketch frames are ≤ depth×width rows however large the
    log; maintenance cost per batch is one narrow explode + one
    sketch-bounded agg, and "frequency of X over all history" becomes
    a broadcast probe of kilobytes."""
    from ..operators.sketches import cms_build, cms_estimate, cms_merge

    (events,) = load_tables(spark, sf_dir, "events")
    b1 = events.filter(F.col("event_id") % 2 == 0)
    b2 = events.filter(F.col("event_id") % 2 == 1)
    merged = cms_merge(
        cms_build(b1, "user_id", width=_CMS_W),
        cms_build(b2, "user_id", width=_CMS_W),
    )
    keys = events.select("user_id").distinct()
    est = cms_estimate(merged, keys, "user_id", width=_CMS_W)
    exact = events.groupBy("user_id").agg(F.count("*").alias("exact_count"))
    return exact.join(est, "user_id").select(
        "user_id",
        "est_count",
        "exact_count",
        (F.col("est_count") >= F.col("exact_count")).alias("one_sided_ok"),
    )
