"""Iterative graph analytics: PageRank over an edge DataFrame.

Extension layer (the dedup family's min-label connected components,
operators/dedup.py, is the other graph op in the engine). PageRank is
the canonical "influence on a similarity/co-occurrence graph" score a
curation pipeline uses to pick representative documents or rank
entities.

Determinism design — the interesting part: floating-point PageRank is
NOT reproducible across engines (or even across partition layouts):
each iteration sums contributions in nondeterministic order, and after
k iterations the accumulated wobble approaches the rounding bucket of
any fixed output precision. So ranks here are **fixed-point integers**
(rank × 10^12 as long) and every step is exact integer arithmetic:

- init        r0 = SCALE div N
- teleport    (1-d)·SCALE = (dnum_c · SCALE) div dden  with d = dnum/dden
- contrib     r div out_degree          (integer division)
- combine     teleport + (dnum · Σcontrib) div dden

Integer division truncates a sub-1e-12 remainder per operation — the
price of bit-identical results on ANY engine, cluster layout, or rerun
(and what lets a DuckDB oracle verify the Spark loop EXACTLY, no
rounding tolerance at all). Overflow headroom: ranks ≤ SCALE=1e12,
damping numerator ≤ 100 → products ≤ 1e14 « 2^63.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

__all__ = [
    "pagerank_fixed_point",
    "personalized_pagerank_fixed_point",
    "triangle_counts",
    "kcore_peel",
    "PR_SCALE",
]

PR_SCALE = 10**12

#: triangle_counts broadcasts its forward-adjacency frame while the
#: oriented edge count stays at or under this; past it the joins are
#: plain node-keyed equi-joins
BROADCAST_MAX_EDGES = 4_000_000


def pagerank_fixed_point(
    edges: DataFrame,
    *,
    weight: str | None = None,
    damping: Fraction = Fraction(17, 20),
    iterations: int = 3,
) -> DataFrame:
    """Fixed-point PageRank over the edges ``(s, t)``; returns (node
    long, pr_fixed long) where ``pr_fixed`` is the rank scaled by
    :data:`PR_SCALE`.

    Contract: the edge list is SYMMETRIC — every ``(s, t)`` comes with
    its ``(t, s)``, as an undirected edge list does by construction —
    so every node is a source (no dangling nodes) and none has
    in-degree 0. ``damping`` is a Fraction so the teleport and damping
    steps stay in exact integer arithmetic.

    ``weight`` names an optional POSITIVE INTEGER edge-weight column
    (e.g. co-purchase counts): each edge then carries
    ``(rank · w) div Σw_out`` instead of ``rank div out_degree`` —
    still exact integer arithmetic, so the determinism guarantee is
    unchanged. Integer weights are a contract, not a limitation:
    scale fractional weights by a fixed factor upstream (headroom:
    rank·w ≤ 10¹²·w must stay below 2⁶³, so w < ~9·10⁶).

    Scale shape: the edge list is annotated with its out-degree totals
    in a SINGLE shuffle (a full-partition window sum keyed on s — one
    exchange + sort, versus the groupBy-then-join formulation's two
    exchanges and two cache materializations; a super-node's edges land
    in one task either way, so the skew profile is unchanged) and that
    one frame is persisted and reused every iteration; each iteration
    is one equi-join (edges ⋈ ranks on s — both sides
    hash-partitioned on the same key) plus one map-side-combining sum
    keyed on t; a symmetric graph has no in-degree-0 nodes, so that
    contribution aggregate already covers every node. Per-iteration
    shuffle volume ∝ edges, never pairs-of-pairs; the rank frame is
    O(nodes). The node count rides the plan as a 1-row broadcast
    aggregate (no driver action), so the whole fixed-iteration
    recurrence compiles into ONE job. The final
    frame is localCheckpoint-ed so the persisted edge frame can be
    released eagerly.
    """
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0, got {iterations}")
    dnum, dden = damping.numerator, damping.denominator
    if not 0 <= dnum <= dden <= 100:
        raise ValueError(f"damping must be in [0, 1] with denominator <= 100, got {damping}")

    # ONE persisted frame: the (possibly expensive) upstream edge
    # derivation runs exactly once, into the persist, and the window
    # sum annotates out-degree totals in the same shuffle — the node
    # set and node count are then cheap aggregates over the cached
    # frame instead of consumers of a second pinned copy.
    wcol = (
        F.col(weight).cast("long") if weight is not None else F.lit(1).cast("long")
    )
    edges_deg = (
        edges.select(
            F.col("s").alias("_s"), F.col("t").alias("_t"), wcol.alias("_w")
        )
        .withColumn("_dg", F.sum("_w").over(W.partitionBy("_s")))
        .persist()
    )
    try:
        # node count as a 1-row broadcast frame — stays in-plan, exact
        # integer arithmetic throughout (empty graph => empty output;
        # the DIV-by-zero branch is never evaluated on zero rows)
        nodes = edges_deg.select(F.col("_s").alias("node")).distinct()
        n1 = nodes.agg(F.count("*").alias("_n"))
        new_rank = (
            F.expr(f"(({dden - dnum}) * {PR_SCALE}) DIV ({dden} * _n)")
            + F.expr(f"({dnum} * coalesce(_sum, 0L)) DIV {dden}")
        ).cast("long")

        ranks = nodes.crossJoin(F.broadcast(n1)).select(
            "node", F.expr(f"{PR_SCALE} DIV _n").cast("long").alias("pr_fixed")
        )
        for _ in range(iterations):
            contribs = (
                edges_deg.join(
                    ranks, edges_deg["_s"] == ranks["node"]
                )
                .select(
                    F.col("_t").alias("node"),
                    F.expr("(pr_fixed * _w) DIV _dg").alias("_c"),
                )
                .groupBy("node")
                .agg(F.sum("_c").alias("_sum"))
            )
            ranks = contribs.crossJoin(F.broadcast(n1)).select(
                "node", new_rank.alias("pr_fixed")
            )
        ranks = ranks.localCheckpoint(eager=True)
    finally:
        edges_deg.unpersist()
    return ranks


def personalized_pagerank_fixed_point(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    damping: Fraction = Fraction(17, 20),
    iterations: int = 3,
) -> DataFrame:
    """Personalized (seed-biased) PageRank over unweighted edges
    ``(s, t)``: the teleport mass lands
    ONLY on the seed nodes — the "similar to these items" random walk
    recommenders and graph-expansion curation use. Same fixed-point
    integer arithmetic as :func:`pagerank_fixed_point`, so results are
    bit-identical across engines and layouts.

    ``seeds`` is a one-column DataFrame of node ids (its column name is
    irrelevant; the first column is used). Seeds absent from the graph
    are ignored; if NO seed is present the walk has no mass source and
    every rank is 0 — callers wanting a loud failure should validate
    seed membership upfront. Initial mass and teleport
    are split evenly over the |S| seeds: r0 = SCALE div |S| on seeds,
    0 elsewhere; each iteration adds ((1-d)·SCALE) div (d_den·|S|) to
    seeds only. Non-seed nodes accumulate mass purely through walks,
    so ranks decay with graph distance from the seed set.

    Scale shape mirrors the global variant — per iteration one s
    equi-join + one t-keyed sum; the seed frame is aggregate-counted
    in-plan and joined as a (node, is_seed) marker, broadcastable when
    small (the typical case: a handful of query items).
    """
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0, got {iterations}")
    dnum, dden = damping.numerator, damping.denominator
    if not 0 <= dnum <= dden <= 100:
        raise ValueError(
            f"damping must be in [0, 1] with denominator <= 100, got {damping}"
        )

    edges_deg = (
        edges.select(F.col("s").alias("_s"), F.col("t").alias("_t"))
        .withColumn("_dg", F.count("*").over(W.partitionBy("_s")))
        .persist()
    )
    try:
        seed_nodes = (
            seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
        )
        ns = seed_nodes.agg(F.count("*").alias("_ns"))
        nodes = edges_deg.select(F.col("_s").alias("node")).distinct()
        marked = nodes.join(
            seed_nodes.withColumn("_seed", F.lit(True)), "node", "left"
        ).select("node", F.coalesce(F.col("_seed"), F.lit(False)).alias("_seed"))

        ranks = marked.crossJoin(F.broadcast(ns)).select(
            "node",
            F.when(
                F.col("_seed"), F.expr(f"{PR_SCALE} DIV _ns")
            ).otherwise(F.lit(0)).cast("long").alias("pr_fixed"),
        )
        teleport = F.when(
            F.col("_seed"),
            F.expr(f"(({dden - dnum}) * {PR_SCALE}) DIV ({dden} * _ns)"),
        ).otherwise(F.lit(0))
        for _ in range(iterations):
            contribs = (
                edges_deg.join(ranks, edges_deg["_s"] == ranks["node"])
                .select(
                    F.col("_t").alias("node"),
                    F.expr("pr_fixed DIV _dg").alias("_c"),
                )
                .groupBy("node")
                .agg(F.sum("_c").alias("_sum"))
            )
            ranks = (
                marked.join(contribs, "node", "left")
                .crossJoin(F.broadcast(ns))
                .select(
                    "node",
                    (
                        teleport
                        + F.expr(f"({dnum} * coalesce(_sum, 0L)) DIV {dden}")
                    ).cast("long").alias("pr_fixed"),
                )
            )
        ranks = ranks.localCheckpoint(eager=True)
    finally:
        edges_deg.unpersist()
    return ranks


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Exact per-node triangle counts over the edges ``(u, v)`` — (node,
    degree, triangles), one row per node that closes at least one
    triangle. ``degree`` is the node's undirected degree (distinct
    neighbors), so the local clustering coefficient 2·T/(d·(d-1)) is
    derivable downstream without another pass.

    Input is an undirected edge list in any redundancy state (either
    or both directions, repeats allowed); self-loops are dropped and
    edges canonicalized to distinct (u < v) pairs first.

    Scale shape (compact-forward orientation, Schank-Wagner 2005, with
    Cohen 2009's edge-iterator join plan): every edge is ORIENTED from
    its lower (degree, node) endpoint to its higher one — a total
    order, so each triangle is enumerated exactly once — and each
    node's FORWARD adjacency list is collected once. The forward
    degree of every node is O(√m) regardless of how skewed the raw
    degree distribution is, which is the whole point: triangles
    through edge (a,b) are array_intersect(N+(a), N+(b)), computed
    locally per edge row, so total work is Σ fwd_deg per edge ≤
    O(m^1.5) with NO quadratic blow-up on hub nodes (where the naive
    u<v orientation puts all of a hub's neighbors on one side and
    dies), and the wedge stream is never materialized as rows. The
    plan is node-keyed equi-joins + one explode + count — no theta
    join, no cross product.

    Counts are exact integers, invariant to the orientation chosen —
    any total order enumerates each triangle exactly once — so results
    are bit-identical across engines and partition layouts.
    """
    p = (
        edges.select(
            F.least(F.col("u"), F.col("v")).alias("_u"),
            F.greatest(F.col("u"), F.col("v")).alias("_v"),
        )
        .filter(F.col("_u") != F.col("_v"))
        .distinct()
        .persist()
    )
    # deg is read 3× (both orientation joins + the final degree column)
    # and ord_e 3× (both wedge sides + the closing join) — pin each, or
    # the upstream shuffles replay once per consumer (measured 21.6 s →
    # 9.8 s at sf0.1 on the co-purchase graph from pinning these two).
    deg = (
        p.select(F.explode(F.array("_u", "_v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("_d"))
        .persist()
    )
    da = deg.select(F.col("node").alias("_u"), F.col("_d").alias("_du"))
    db = deg.select(F.col("node").alias("_v"), F.col("_d").alias("_dv"))
    fwd = (
        F.struct("_du", "_u") < F.struct("_dv", "_v")
    )
    ord_e = (
        p.join(da, "_u")
        .join(db, "_v")
        .select(
            F.when(fwd, F.col("_u")).otherwise(F.col("_v")).alias("_a"),
            F.when(fwd, F.col("_v")).otherwise(F.col("_u")).alias("_b"),
        )
        .persist()
    )
    adj = (
        ord_e.groupBy(F.col("_a").alias("node"))
        .agg(F.collect_list("_b").alias("_nb"))
        .persist()
    )
    try:
        # Edge-iterator with forward adjacency (Cohen 2009's MapReduce
        # formulation): each oriented edge (a,b) meets the forward
        # neighbor lists of BOTH endpoints and the triangles through it
        # are array_intersect(N+(a), N+(b)) — computed locally per edge
        # row, so the O(m^1.5) wedge stream is never materialized as
        # rows (measured 2.2× faster than the wedge-join form at
        # sf0.1). Per-edge payload is bounded by the forward-degree cap
        # O(√m) that the orientation guarantees, hubs included. When
        # the adjacency frame (total cells = m) fits the dimension-
        # broadcast budget both joins are map-side; past it they are
        # plain node-keyed equi-joins — the 100 TB path. The count() is
        # one cached-scan action on the pinned frame, same pattern as
        # the IVF centroid build.
        aa = adj.select(F.col("node").alias("_a"), F.col("_nb").alias("_na"))
        bb = adj.select(F.col("node").alias("_b"), F.col("_nb").alias("_nbb"))
        if ord_e.count() <= BROADCAST_MAX_EDGES:
            aa, bb = F.broadcast(aa), F.broadcast(bb)
        et = (
            ord_e.join(aa, "_a")
            .join(bb, "_b", "left")
            .select(
                "_a",
                "_b",
                F.array_intersect(
                    # empty-slice of _na: an empty array of the right
                    # element type whatever the node id type is
                    "_na", F.coalesce("_nbb", F.slice("_na", 1, 0))
                ).alias("_common"),
            )
        )
        ntri = F.size("_common").cast("long")
        corners = (
            et.select(F.col("_a").alias("node"), ntri.alias("_t"))
            .unionByName(et.select(F.col("_b").alias("node"), ntri.alias("_t")))
            .unionByName(
                et.select(
                    F.explode("_common").alias("node"),
                    F.lit(1).cast("long").alias("_t"),
                )
            )
        )
        counts = (
            corners.groupBy("node")
            .agg(F.sum("_t").alias("triangles"))
            .filter(F.col("triangles") > 0)
        )
        out = (
            counts.join(deg, "node")
            .select("node", F.col("_d").alias("degree"), "triangles")
            .localCheckpoint(eager=True)
        )
    finally:
        adj.unpersist()
        ord_e.unpersist()
        deg.unpersist()
        p.unpersist()
    return out


def kcore_peel(
    edges: DataFrame,
    *,
    k: int,
    rounds: int,
) -> DataFrame:
    """Bounded k-core peeling over the edges ``(u, v)`` — (node,
    core_degree, peel_rounds, converged) for the nodes still alive
    after ``rounds`` peel iterations, with their degree in the
    surviving subgraph. Each round deletes every node whose
    CURRENT degree is < k, simultaneously (the textbook synchronous
    peel), then recomputes degrees over the induced subgraph. Run to a
    fixed point this yields exactly the k-core; with a fixed round
    budget it yields a deterministic over-approximation that a caller
    (or oracle) can replay step for step — same design trade as the
    fixed-iteration PageRank above: a bounded, bit-identical recurrence
    beats an unbounded loop whose stopping step is data-dependent.
    Convergence is detectable by the caller: if no row has
    core_degree < k, the fixed point was reached and the output IS the
    exact k-core.

    Input canonicalized like :func:`triangle_counts` (undirected,
    distinct pairs, self-loops dropped). Scale shape — DELTA peeling,
    not a full recount: the degree frame is maintained incrementally
    across rounds. Each round finds the newly-DEAD nodes (degree < k),
    semi/anti-joins the pair list against that dead set (small after
    round 1 — AQE turns these into broadcast joins, so the big edge
    frame is never shuffled in steady state), aggregates degree
    DECREMENTS over just the removed edges, and subtracts them from the
    surviving nodes' degrees. Per-round SHUFFLE volume is therefore
    ∝ removed edges + |V|, not ∝ surviving edges — the synchronous full
    recount re-shuffled 2·|E| rows every round even when one node died.
    (Total per-round WORK still includes scanning the surviving pair
    list for the semi/anti probes — broadcast hashing avoids moving it,
    not reading it — so the win is shuffle volume plus the early exit,
    bought at the price of 2 localCheckpoints per round where the
    recount ran 1 — the dead set stays a lazy filter over the
    checkpointed degree frame and its count rides the degree
    checkpoint via Observation, so the r14-era dead checkpoint +
    isEmpty pair is gone (guide §5): a fixed overhead that loses on
    tiny graphs and wins as soon as |E| dwarfs the per-round
    removals.) An
    edge with both endpoints dead decrements both, but both rows leave
    the degree frame the same round, so alive-node deltas count each
    removed edge exactly once. When a round kills nobody the fixed
    point is reached and the loop exits early (the remaining budget is
    a no-op by definition). localCheckpoint per round keeps both
    frames' lineage flat (without it the round-r plan would re-derive
    rounds 1..r-1).

    ``peel_rounds`` and ``converged`` are literal columns pinning the
    loop's control flow so a caller (or the driver oracle) can detect a
    convergence regression without re-deriving it: ``peel_rounds`` =
    rounds that actually removed nodes before the exit (early break or
    exhausted budget), and ``converged`` = the fixed point was reached
    inside the budget (always True on an early break; read off the
    final degree frame's observed dead count when the budget ran out).
    Both are plan-time literals — zero per-row cost.
    """
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    from .observe import checkpoint_with_metrics

    p = (
        edges.select(
            F.least(F.col("u"), F.col("v")).alias("_u"),
            F.greatest(F.col("u"), F.col("v")).alias("_v"),
        )
        .filter(F.col("_u") != F.col("_v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # the NEXT round's dead-node count rides every degree-frame
    # materialization via Observation (r15, guide §5): the peel loop
    # previously ran 4 sequential driver jobs per round (dead
    # checkpoint, isEmpty probe, degree checkpoint, pair checkpoint);
    # folding the dead count into the degree checkpoint and deriving
    # the dead frame lazily from it cuts that to 2 — each removed job
    # is a full driver round-trip + cluster barrier at scale.
    _dead_metric = {"n_dead": F.sum((F.col("_d") < k).cast("long"))}
    deg, _m = checkpoint_with_metrics(
        p.select(F.explode(F.array("_u", "_v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("_d")),
        **_dead_metric,
    )
    n_dead = int(_m["n_dead"] or 0)

    executed = 0
    converged = False
    for _ in range(rounds):
        if n_dead == 0:
            converged = True
            break  # fixed point: every further round is a no-op
        executed += 1
        # lazy over the checkpointed degree frame: each consumer
        # re-filters node-sized cached blocks inside its own job —
        # cheaper than the dedicated checkpoint + isEmpty pair it
        # replaces (AQE broadcasts the small dead set per probe)
        dead = deg.filter(F.col("_d") < k).select("node")
        dead_u = dead.withColumnRenamed("node", "_u")
        dead_v = dead.withColumnRenamed("node", "_v")
        # an alive node loses edge (u,v) exactly when its OTHER
        # endpoint died this round; dead-endpoint deltas are computed
        # too but drop out when the dead rows leave the degree frame
        deltas = (
            p.join(dead_u, "_u", "left_semi")
            .select(F.col("_v").alias("node"))
            .unionByName(
                p.join(dead_v, "_v", "left_semi")
                .select(F.col("_u").alias("node"))
            )
            .groupBy("node")
            .agg(F.count("*").alias("_delta"))
        )
        deg, _m = checkpoint_with_metrics(
            deg.filter(F.col("_d") >= k)
            .join(deltas, "node", "left")
            .select(
                "node",
                (F.col("_d") - F.coalesce(F.col("_delta"), F.lit(0))).alias(
                    "_d"
                ),
            ),
            **_dead_metric,
        )
        n_dead = int(_m["n_dead"] or 0)
        p = (
            p.join(dead_u, "_u", "left_anti")
            .join(dead_v, "_v", "left_anti")
            .localCheckpoint(eager=True)
        )
    # a node whose last edge was removed this round has _d = 0 and no
    # surviving pair — the recount formulation never listed it, so the
    # incremental one must not either
    # budget exhausted: fixed point iff the final degrees left nothing
    # below k (rounds=0 lands here too — then this is simply "was the
    # input already a k-core"); the final degree frame's observed dead
    # count answers it with no extra action
    converged = converged or n_dead == 0
    return deg.filter(F.col("_d") > 0).select(
        "node",
        F.col("_d").alias("core_degree"),
        F.lit(executed).cast("long").alias("peel_rounds"),
        F.lit(converged).alias("converged"),
    )
