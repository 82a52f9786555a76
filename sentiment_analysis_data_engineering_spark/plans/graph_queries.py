"""Graph analytics queries: fixed-point PageRank over the part
co-purchase graph.

The oracle is EXACT with zero rounding tolerance: the operator's
fixed-point integer arithmetic (operators/graph.py) makes every
iteration bit-identical across engines, so the DuckDB replica chains
the same integer recurrences through plain CTEs.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import load_tables, query

_PR_ITERS = 3
_SCALE = 10**12


def _pagerank_oracle() -> str:
    prev = "r0"
    iters = []
    for i in range(1, _PR_ITERS + 1):
        iters.append(f"""
    r{i} AS (
      SELECT d.node,
             (3 * {_SCALE}) // (20 * (SELECT n FROM nn))
             + CAST((17 * coalesce(sum(c.contrib), 0)) // 20 AS BIGINT) AS r
      FROM deg d LEFT JOIN (
        SELECT e.t AS node, p.r // dg.dg AS contrib
        FROM edges e
        JOIN {prev} p ON p.node = e.s
        JOIN deg dg ON dg.node = e.s
      ) c ON c.node = d.node
      GROUP BY d.node
    )""")
        prev = f"r{i}"
    return f"""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS t
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    edges AS (
      SELECT s, t FROM pairs UNION ALL SELECT t AS s, s AS t FROM pairs
    ),
    deg AS (SELECT s AS node, count(*) AS dg FROM edges GROUP BY s),
    nn AS (SELECT count(*) AS n FROM deg),
    r0 AS (
      SELECT node, {_SCALE} // (SELECT n FROM nn) AS r FROM deg
    ),{",".join(iters)}
    SELECT node AS p_partkey, r AS pr_fixed FROM {prev}
    """


@query("pagerank_copurchase_parts", oracle=_pagerank_oracle())
def pagerank_copurchase_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph: parts are linked when
    they appear in the same order (distinct undirected pairs, both
    directions materialized), then 3 (_PR_ITERS) fixed-point PageRank
    iterations (damping 17/20) rank parts by co-purchase centrality —
    the "representative item" signal a recommender or curation stage
    reads.

    The graph build collects each order's part set and generates pairs
    in-array (`_order_part_pairs`): fan-out is bounded by
    (items-per-order choose 2) — a data-model constant, ~20 pairs per
    order — never corpus-pairs. The undirected edge list means no
    dangling nodes, satisfying the operator's contract. Ranks are
    EXACT integers (×10¹²): the oracle replays the identical integer
    recurrence, no rounding tolerance anywhere (see operators/graph.py
    on why floating PageRank can never be checked this way)."""
    from ..operators.graph import pagerank_fixed_point

    pairs = _copurchase_pairs(spark, sf_dir).select(
        F.col("u").alias("s"), F.col("v").alias("t")
    )
    edges = pairs.unionByName(
        pairs.select(F.col("t").alias("s"), F.col("s").alias("t"))
    )
    ranks = pagerank_fixed_point(  # symmetric by construction
        edges, damping=Fraction(17, 20), iterations=_PR_ITERS
    )
    return ranks.select(F.col("node").alias("p_partkey"), "pr_fixed")


def _order_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per (order, u < v part pair): collect each order's part
    SET (bounded by items-per-order, a data-model constant), generate
    the in-array pairs, explode. One keyed shuffle and a narrow
    generate — measured 1.4× faster than the self-equi-join + distinct
    formulation, which ships every matched row into a second distinct
    shuffle. The multiplicity of a pair across rows = how many orders
    shared it (collect_set dedupes within an order), which is exactly
    the weighted variant's edge weight."""
    (lineitem,) = load_tables(spark, sf_dir, "lineitem")
    li = lineitem.select("l_orderkey", "l_partkey")
    arr = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    return (
        arr.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps) - i - 1), "
                    "y -> struct(x AS u, y AS v))))"
                )
            ).alias("p")
        )
        .select("p.u", "p.v")
    )


def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected (u < v) part pairs sharing an order — the
    shared graph-build for the PageRank/triangle/k-core queries."""
    return _order_part_pairs(spark, sf_dir).distinct()


_PAIRS_SQL = """
    SELECT DISTINCT a.l_partkey u, b.l_partkey v
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
"""

_TRIANGLE_ORACLE = f"""
    WITH pairs AS ({_PAIRS_SQL}),
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs
      ) GROUP BY node
    ),
    ord_e AS (
      SELECT CASE WHEN (da.d, p.u) < (db.d, p.v) THEN p.u ELSE p.v END AS a,
             CASE WHEN (da.d, p.u) < (db.d, p.v) THEN p.v ELSE p.u END AS b
      FROM pairs p
      JOIN deg da ON da.node = p.u
      JOIN deg db ON db.node = p.v
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM ord_e e1
      JOIN ord_e e2 ON e1.b = e2.a
      JOIN ord_e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    corners AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    ),
    cnt AS (
      SELECT node, CAST(count(*) AS BIGINT) AS triangles
      FROM corners GROUP BY node
    )
    SELECT c.node AS p_partkey, CAST(d.d AS BIGINT) AS degree, c.triangles
    FROM cnt c JOIN deg d ON d.node = c.node
"""


@query("triangle_counts_parts", oracle=_TRIANGLE_ORACLE)
def triangle_counts_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-part triangle counts on the co-purchase graph — the
    cohesion signal behind community detection and "bought-together
    bundle" mining (a triangle = three parts pairwise co-purchased).
    Delegates to operators/graph.py::triangle_counts: degree-ordered
    (compact-forward) enumeration, so wedge volume is O(m^1.5) with no
    hub blow-up, all equi-joins. Counts and degrees are exact integers
    — the oracle replays the identical orientation and gets identical
    triangle sets, zero tolerance."""
    from ..operators.graph import triangle_counts

    pairs = _copurchase_pairs(spark, sf_dir)
    out = triangle_counts(pairs)
    return out.select(F.col("node").alias("p_partkey"), "degree", "triangles")


_KCORE_K = 70
_KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    # AS MATERIALIZED: each round references its predecessor 3x (the
    # degree union reads it twice, the filter join once) — without the
    # hint DuckDB inlines the chain and re-evaluates the base pair join
    # 3^rounds times (measured 56 s vs 0.1 s at sf0.01).
    #
    # Telemetry replay mirrors kcore_peel's control flow EXACTLY, which
    # needs an explicit alive-set recurrence (a{i}), not just the
    # pair-derived degree frames: the python loop's dead-check sees an
    # alive node whose degree fell to ZERO (all its neighbors died the
    # same round — it keeps no surviving pair, so d{i} never lists it)
    # and counts it as a removal; dead{i} therefore probes a{i-1} with
    # coalesce(degree, 0). peel_rounds = rounds that removed nodes
    # before the first empty dead-set (the loop's early break);
    # converged_ok = the post-budget dead-check is empty.
    prev = "p0"
    rounds = []
    for i in range(1, _KCORE_ROUNDS + 1):
        rounds.append(f"""
    d{i} AS MATERIALIZED (
      SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev}
      ) GROUP BY node
    ),
    dead{i} AS MATERIALIZED (
      SELECT a.node FROM a{i - 1} a LEFT JOIN d{i} d ON d.node = a.node
      WHERE coalesce(d.d, 0) < {_KCORE_K}
    ),
    a{i} AS MATERIALIZED (
      SELECT a.node FROM a{i - 1} a
      WHERE NOT EXISTS (SELECT 1 FROM dead{i} x WHERE x.node = a.node)
    ),
    p{i} AS MATERIALIZED (
      SELECT p.u, p.v FROM {prev} p
      JOIN (SELECT node FROM d{i} WHERE d >= {_KCORE_K}) au ON au.node = p.u
      JOIN (SELECT node FROM d{i} WHERE d >= {_KCORE_K}) av ON av.node = p.v
    )""")
        prev = f"p{i}"
    n = _KCORE_ROUNDS
    peel_case = " ".join(
        f"WHEN NOT EXISTS (SELECT 1 FROM dead{i}) THEN {i - 1}"
        for i in range(1, n + 1)
    )
    return f"""
    WITH p0 AS MATERIALIZED ({_PAIRS_SQL}),
    a0 AS MATERIALIZED (
      SELECT DISTINCT node FROM (
        SELECT u AS node FROM p0 UNION ALL SELECT v FROM p0
      )
    ),{",".join(rounds)},
    dfinal AS MATERIALIZED (
      SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev}
      ) GROUP BY node
    ),
    telem AS (
      SELECT CAST(CASE {peel_case} ELSE {n} END AS BIGINT) AS peel_rounds,
             NOT EXISTS (
               SELECT 1 FROM a{n} a LEFT JOIN dfinal d ON d.node = a.node
               WHERE coalesce(d.d, 0) < {_KCORE_K}
             ) AS converged_ok
    )
    SELECT node AS p_partkey, CAST(d AS BIGINT) AS core_degree,
           (SELECT peel_rounds FROM telem) AS peel_rounds,
           (SELECT converged_ok FROM telem) AS converged_ok
    FROM dfinal
    """


@query("kcore_parts", oracle=_kcore_oracle())
def kcore_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """70-core (_KCORE_K) of the part co-purchase graph via
    operators/graph.py::kcore_peel with a 4-round (_KCORE_ROUNDS) budget
    — the dense backbone a recommender or sampler keeps when pruning
    peripheral items. At the driver scale factors the peel reaches its
    fixed point inside the budget (min surviving degree == k), so the
    output IS the exact k-core; the oracle replays the synchronous
    peel round for round, zero tolerance either way. The delta-peel's
    control flow is itself pinned: every row carries ``peel_rounds``
    (rounds that removed nodes before the early fixed-point exit) and
    ``converged_ok`` (fixed point reached inside the budget), both
    replayed exactly by the oracle's alive-set recurrence — a future
    budget or convergence regression flips a hashed column instead of
    hiding in a log line."""
    from ..operators.graph import kcore_peel

    pairs = _copurchase_pairs(spark, sf_dir)
    out = kcore_peel(pairs, k=_KCORE_K, rounds=_KCORE_ROUNDS)
    return out.select(
        F.col("node").alias("p_partkey"),
        "core_degree",
        "peel_rounds",
        F.col("converged").alias("converged_ok"),
    )


# --------------------------------------------------------------------------
# Weighted and personalized PageRank variants
# --------------------------------------------------------------------------


def _weighted_pagerank_oracle() -> str:
    prev = "r0"
    iters = []
    for i in range(1, _PR_ITERS + 1):
        iters.append(f"""
    r{i} AS MATERIALIZED (
      SELECT d.node,
             (3 * {_SCALE}) // (20 * (SELECT n FROM nn))
             + CAST((17 * coalesce(sum(c.contrib), 0)) // 20 AS BIGINT) AS r
      FROM deg d LEFT JOIN (
        SELECT e.t AS node, (p.r * e.w) // dg.sw AS contrib
        FROM edges e
        JOIN {prev} p ON p.node = e.s
        JOIN deg dg ON dg.node = e.s
      ) c ON c.node = d.node
      GROUP BY d.node
    )""")
        prev = f"r{i}"
    return f"""
    WITH pairs AS MATERIALIZED (
      -- w = number of ORDERS sharing the pair (inner DISTINCT dedupes
      -- a part appearing on several lineitems of one order)
      SELECT s, t, CAST(count(*) AS BIGINT) AS w
      FROM (
        SELECT DISTINCT a.l_orderkey, a.l_partkey AS s, b.l_partkey AS t
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      ) GROUP BY s, t
    ),
    edges AS MATERIALIZED (
      SELECT s, t, w FROM pairs UNION ALL SELECT t AS s, s AS t, w FROM pairs
    ),
    deg AS MATERIALIZED (
      SELECT s AS node, CAST(sum(w) AS BIGINT) AS sw FROM edges GROUP BY s
    ),
    nn AS (SELECT count(*) AS n FROM deg),
    r0 AS (
      SELECT node, {_SCALE} // (SELECT n FROM nn) AS r FROM deg
    ),{",".join(iters)}
    SELECT node AS p_partkey, r AS pr_fixed FROM {prev}
    """


@query("pagerank_weighted_copurchase", oracle=_weighted_pagerank_oracle())
def pagerank_weighted_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted fixed-point PageRank on the co-purchase graph: the edge
    weight is HOW MANY orders the pair shared, so mass flows
    proportionally to co-purchase strength ((rank·w) div Σw per edge)
    instead of uniformly — the variant a recommender actually ships.
    Same exact integer arithmetic as the unweighted query (weights are
    integer counts by construction), so the oracle replays the weighted
    recurrence with zero tolerance. Driver-gates the operator's
    ``weight=`` path, previously pytest-only."""
    from ..operators.graph import pagerank_fixed_point

    pairs = (
        _order_part_pairs(spark, sf_dir)
        .groupBy(F.col("u").alias("s"), F.col("v").alias("t"))
        .agg(F.count("*").alias("w"))
    )
    edges = pairs.unionByName(
        pairs.select(F.col("t").alias("s"), F.col("s").alias("t"), "w")
    )
    ranks = pagerank_fixed_point(
        edges, weight="w", damping=Fraction(17, 20), iterations=_PR_ITERS
    )
    return ranks.select(F.col("node").alias("p_partkey"), "pr_fixed")


_PPR_SEEDS = 5


def _personalized_pagerank_oracle() -> str:
    prev = "r0"
    iters = []
    for i in range(1, _PR_ITERS + 1):
        iters.append(f"""
    r{i} AS MATERIALIZED (
      SELECT m.node,
             CAST(CASE WHEN m.is_seed
                  THEN (3 * {_SCALE}) // (20 * (SELECT n FROM ns))
                  ELSE 0 END
             + (17 * coalesce(sum(c.contrib), 0)) // 20 AS BIGINT) AS r
      FROM marked m LEFT JOIN (
        SELECT e.t AS node, p.r // dg.dg AS contrib
        FROM edges e
        JOIN {prev} p ON p.node = e.s
        JOIN deg dg ON dg.node = e.s
      ) c ON c.node = m.node
      GROUP BY m.node, m.is_seed
    )""")
        prev = f"r{i}"
    return f"""
    WITH pairs AS MATERIALIZED ({_PAIRS_SQL}),
    edges AS MATERIALIZED (
      SELECT u AS s, v AS t FROM pairs
      UNION ALL SELECT v AS s, u AS t FROM pairs
    ),
    deg AS MATERIALIZED (
      SELECT s AS node, count(*) AS dg FROM edges GROUP BY s
    ),
    seeds AS MATERIALIZED (
      SELECT node FROM deg ORDER BY node LIMIT {_PPR_SEEDS}
    ),
    ns AS (SELECT count(*) AS n FROM seeds),
    marked AS MATERIALIZED (
      SELECT d.node, s.node IS NOT NULL AS is_seed
      FROM deg d LEFT JOIN seeds s ON s.node = d.node
    ),
    r0 AS (
      SELECT node,
             CASE WHEN is_seed THEN {_SCALE} // (SELECT n FROM ns)
                  ELSE 0 END AS r
      FROM marked
    ),{",".join(iters)}
    SELECT node AS p_partkey, r AS pr_fixed FROM {prev}
    """


@query("personalized_pagerank_parts", oracle=_personalized_pagerank_oracle())
def personalized_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized (seed-teleport) PageRank: the 5 (_PPR_SEEDS)
    smallest part keys in the co-purchase graph play the "items the
    user just bought" seed set, and ranks decay with graph distance
    from them — the "similar to these items" walk. Teleport mass lands
    ONLY on seeds; every step is the same exact integer arithmetic, so
    the oracle replays the seeded recurrence with zero tolerance.
    Driver-gates operators/graph.py::personalized_pagerank_fixed_point,
    previously pytest-law-only."""
    from ..operators.graph import personalized_pagerank_fixed_point

    # Two independent consumers read the pair build (the seed
    # derivation and the operator's own persisted edge frame) —
    # materialize it once or the whole lineitem self-aggregation runs
    # twice (measured ~2x on the bench).
    from ..operators.dedup import register_pinned

    pairs = register_pinned(  # freed by the harness's release_pinned()
        _copurchase_pairs(spark, sf_dir).localCheckpoint(eager=True)
    )
    edges = pairs.select(
        F.col("u").alias("s"), F.col("v").alias("t")
    ).unionByName(pairs.select(F.col("v").alias("s"), F.col("u").alias("t")))
    seeds = (
        edges.select(F.col("s").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(_PPR_SEEDS)
    )
    ranks = personalized_pagerank_fixed_point(
        edges, seeds, damping=Fraction(17, 20), iterations=_PR_ITERS
    )
    return ranks.select(F.col("node").alias("p_partkey"), "pr_fixed")
