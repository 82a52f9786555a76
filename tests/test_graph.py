"""operators/graph.py: fixed-point PageRank.

Contracts: exact integer recurrence (hand-checked small graphs),
bit-identical results under different partition layouts (the whole
point of the fixed-point design), and approximate mass conservation
(truncation loses < 1 unit per node per iteration).
"""

from __future__ import annotations

from fractions import Fraction

import pytest
from pyspark.sql import functions as F

from sentiment_analysis_data_engineering_spark.operators.graph import (
    PR_SCALE,
    pagerank_fixed_point,
)


def _ranks(df) -> dict[int, int]:
    return {r.node: r.pr_fixed for r in df.collect()}


def test_pagerank_symmetric_pair_is_stationary(spark):
    edges = spark.createDataFrame([(1, 2), (2, 1)], "s long, t long")
    got = _ranks(pagerank_fixed_point(edges, iterations=4))
    # uniform is the fixed point; integer recurrence reproduces it exactly
    assert got == {1: PR_SCALE // 2, 2: PR_SCALE // 2}


def test_pagerank_path_graph_hand_computed(spark):
    # 1 - 2 - 3 undirected; one iteration of the integer recurrence:
    # teleport = 3*SCALE // 60 = 50_000_000_000
    # r0 = SCALE // 3 = 333_333_333_333
    # node2 receives r0(1)+r0(3); nodes 1,3 receive r0(2) // 2
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "s long, t long"
    )
    got = _ranks(pagerank_fixed_point(edges, iterations=1))
    assert got == {
        1: 191_666_666_666,
        2: 616_666_666_666,
        3: 191_666_666_666,
    }


def test_pagerank_partition_layout_invariant(spark):
    import random

    rng = random.Random(13)
    pairs = {(rng.randint(0, 60), rng.randint(0, 60)) for _ in range(300)}
    pairs = [(a, b) for a, b in pairs if a != b]
    sym = pairs + [(b, a) for a, b in pairs]
    e1 = spark.createDataFrame(sym, "s long, t long").repartition(2)
    e2 = spark.createDataFrame(sym, "s long, t long").repartition(17)
    assert _ranks(pagerank_fixed_point(e1)) == _ranks(
        pagerank_fixed_point(e2)
    )


def test_pagerank_mass_conservation_bound(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (3, 4), (4, 3), (1, 4), (4, 1)],
        "s long, t long",
    )
    iters = 3
    out = pagerank_fixed_point(edges, iterations=iters)
    total = out.agg(F.sum("pr_fixed").alias("s")).collect()[0]["s"]
    n = 4
    # each div truncates < 1 unit; per iteration at most (edges + nodes
    # + init) units leak — generous bound:
    assert PR_SCALE - (iters + 1) * (8 + n + 1) <= total <= PR_SCALE


def test_pagerank_rejects_bad_args(spark):
    edges = spark.createDataFrame([(1, 2), (2, 1)], "s long, t long")
    with pytest.raises(ValueError, match="iterations"):
        pagerank_fixed_point(edges, iterations=-1)
    with pytest.raises(ValueError, match="damping"):
        pagerank_fixed_point(edges, damping=Fraction(3, 2))


def test_pagerank_empty_graph(spark):
    edges = spark.createDataFrame([], "s long, t long")
    assert pagerank_fixed_point(edges).count() == 0


def test_pagerank_weight_one_equals_unweighted(spark):
    edges_w = spark.createDataFrame(
        [(1, 2, 1), (2, 1, 1), (2, 3, 1), (3, 2, 1)],
        "s long, t long, w long",
    )
    a = _ranks(pagerank_fixed_point(edges_w, weight="w"))
    b = _ranks(pagerank_fixed_point(edges_w.drop("w")))
    assert a == b


def test_pagerank_weighted_hand_computed(spark):
    # 1 -(3)-> 2, 1 -(1)-> 3, 2 -(1)-> 1, 3 -(1)-> 1; one iteration:
    # teleport = 50e9, r0 = SCALE // 3
    # node1 <- r0(2) + r0(3); node2 <- (r0*3) div 4; node3 <- r0 div 4
    edges = spark.createDataFrame(
        [(1, 2, 3), (1, 3, 1), (2, 1, 1), (3, 1, 1)],
        "s long, t long, w long",
    )
    got = _ranks(pagerank_fixed_point(edges, weight="w", iterations=1))
    assert got == {
        1: 616_666_666_666,
        2: 262_499_999_999,
        3: 120_833_333_333,
    }


def test_personalized_pagerank_concentrates_on_seeds(spark):
    from sentiment_analysis_data_engineering_spark.operators.graph import (
        personalized_pagerank_fixed_point,
    )

    # path graph 1-2-3-4-5; seed at node 1. A path is bipartite, so
    # individual ranks oscillate between odd/even layers per iteration
    # — assert the parity-free invariants instead: mass concentrates
    # near the seed, the far end holds residue, and total mass is
    # conserved up to integer truncation.
    from sentiment_analysis_data_engineering_spark.operators.graph import PR_SCALE

    pairs = [(i, i + 1) for i in range(1, 5)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "s long, t long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {
        r.node: r.pr_fixed
        for r in personalized_pagerank_fixed_point(
            edges, seeds, iterations=4
        ).collect()
    }
    assert got[1] + got[2] > 2 * (got[4] + got[5])  # seed side dominates
    assert got[4] + got[5] < PR_SCALE // 10  # far end: residue only
    total = sum(got.values())
    assert PR_SCALE - 100 <= total <= PR_SCALE  # conservation (trunc)


def test_personalized_pagerank_hand_computed_one_iter(spark):
    from sentiment_analysis_data_engineering_spark.operators.graph import (
        PR_SCALE,
        personalized_pagerank_fixed_point,
    )

    # 1 <-> 2, seed {1}: r0 = (SCALE, 0)
    # iter1: node1 <- r0(2)=0 -> teleport only = 3*SCALE//20·... ;
    # teleport(seed) = (3*SCALE) // (20*1) = 150e9
    # node2 <- r0(1) div 1 = SCALE -> 17*SCALE//20 = 850e9, teleport 0
    edges = spark.createDataFrame([(1, 2), (2, 1)], "s long, t long")
    seeds = spark.createDataFrame([(1,)], "s long")
    got = {
        r.node: r.pr_fixed
        for r in personalized_pagerank_fixed_point(
            edges, seeds, iterations=1
        ).collect()
    }
    assert got == {1: 150_000_000_000, 2: 850_000_000_000}


def test_personalized_pagerank_all_seeds_equals_global(spark):
    from sentiment_analysis_data_engineering_spark.operators.graph import (
        personalized_pagerank_fixed_point,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "s long, t long"
    )
    seeds = spark.createDataFrame([(1,), (2,), (3,)], "node long")
    per = {
        r.node: r.pr_fixed
        for r in personalized_pagerank_fixed_point(edges, seeds).collect()
    }
    glob = _ranks(pagerank_fixed_point(edges))
    assert per == glob  # uniform seed set == global teleport


def test_personalized_pagerank_ignores_absent_seeds(spark):
    from sentiment_analysis_data_engineering_spark.operators.graph import (
        personalized_pagerank_fixed_point,
    )

    edges = spark.createDataFrame([(1, 2), (2, 1)], "s long, t long")
    # seed 99 is not in the graph; seed 1 is — mass flows from 1 only,
    # split of the seed budget still counts the absent seed (|S|=2)
    seeds = spark.createDataFrame([(1,), (99,)], "node long")
    got = {
        r.node: r.pr_fixed
        for r in personalized_pagerank_fixed_point(
            edges, seeds, iterations=1
        ).collect()
    }
    assert set(got) == {1, 2} and got[2] > 0
    # all-absent seed set -> zero ranks, not an error
    none = spark.createDataFrame([(99,)], "node long")
    got0 = {
        r.node: r.pr_fixed
        for r in personalized_pagerank_fixed_point(edges, none).collect()
    }
    assert got0 == {1: 0, 2: 0}


# ---------------------------------------------------------------- triangles


def _tris(df) -> dict[int, tuple[int, int]]:
    return {r.node: (r.degree, r.triangles) for r in df.collect()}


def test_triangle_counts_k4(spark):
    from sentiment_analysis_data_engineering_spark.operators.graph import triangle_counts

    # complete graph on 4 nodes: C(4,3)=4 triangles, each node in 3
    pairs = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = spark.createDataFrame(pairs, "u long, v long")
    got = _tris(triangle_counts(edges))
    assert got == {n: (3, 3) for n in range(1, 5)}


def test_triangle_counts_triangle_plus_pendant(spark):
    from sentiment_analysis_data_engineering_spark.operators.graph import triangle_counts

    # triangle 1-2-3 plus pendant edge 3-4: node 4 closes nothing and
    # is absent from the output; node 3's degree counts the pendant
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "u long, v long"
    )
    got = _tris(triangle_counts(edges))
    assert got == {1: (2, 1), 2: (2, 1), 3: (3, 1)}


def test_triangle_counts_canonicalizes_input(spark):
    from sentiment_analysis_data_engineering_spark.operators.graph import triangle_counts

    # reversed duplicates and self-loops must not change counts
    messy = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (1, 1), (2, 2), (1, 3)],
        "u long, v long",
    )
    clean = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "u long, v long"
    )
    assert _tris(triangle_counts(messy)) == _tris(triangle_counts(clean))


def test_triangle_counts_triangle_free_graph_is_empty(spark):
    from sentiment_analysis_data_engineering_spark.operators.graph import triangle_counts

    # 4-cycle: no triangles at all
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "u long, v long"
    )
    assert triangle_counts(edges).count() == 0


def test_triangle_counts_hub_graph(spark):
    from sentiment_analysis_data_engineering_spark.operators.graph import triangle_counts

    # hub 0 connected to 1..6, plus rim edges 1-2 and 3-4: exactly the
    # two hub triangles; skewed-degree path exercises the orientation
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 7)] + [(1, 2), (3, 4)],
        "u long, v long",
    )
    got = _tris(triangle_counts(edges))
    assert got == {
        0: (6, 2),
        1: (2, 1),
        2: (2, 1),
        3: (2, 1),
        4: (2, 1),
    }


# ------------------------------------------------------------------ k-core


def _core(df) -> dict[int, int]:
    return {r.node: r.core_degree for r in df.collect()}


def test_kcore_peels_pendant_chain(spark):
    from sentiment_analysis_data_engineering_spark.operators.graph import kcore_peel

    # triangle 1-2-3 with a tail 3-4-5: the 2-core is the triangle,
    # but ONLY after two rounds (removing 5 drops 4's degree to 1)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "u long, v long"
    )
    after1 = _core(kcore_peel(edges, k=2, rounds=1))
    assert set(after1) == {1, 2, 3, 4}  # 5 gone, 4 not yet
    after2 = _core(kcore_peel(edges, k=2, rounds=2))
    assert after2 == {1: 2, 2: 2, 3: 2}
    # converged: round 3 changes nothing
    assert _core(kcore_peel(edges, k=2, rounds=3)) == after2


def test_kcore_zero_rounds_is_input_degrees(spark):
    from sentiment_analysis_data_engineering_spark.operators.graph import kcore_peel

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "u long, v long"
    )
    assert _core(kcore_peel(edges, k=99, rounds=0)) == {1: 2, 2: 2, 3: 3, 4: 1}


def test_kcore_everything_peels(spark):
    from sentiment_analysis_data_engineering_spark.operators.graph import kcore_peel

    edges = spark.createDataFrame([(1, 2), (2, 3)], "u long, v long")
    assert kcore_peel(edges, k=2, rounds=3).count() == 0


def test_kcore_telemetry_pins_rounds_and_convergence(spark):
    from sentiment_analysis_data_engineering_spark.operators.graph import kcore_peel

    # triangle + 2-tail: fixed point needs exactly 2 peel rounds
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "u long, v long"
    )
    done = kcore_peel(edges, k=2, rounds=5)
    rows = done.collect()
    assert {(r.peel_rounds, r.converged) for r in rows} == {(2, True)}
    # budget exhausted mid-peel: 1 round executed, NOT converged
    part = kcore_peel(edges, k=2, rounds=1).collect()
    assert {(r.peel_rounds, r.converged) for r in part} == {(1, False)}
    # zero budget on a non-core input: 0 rounds, not converged
    z = kcore_peel(edges, k=2, rounds=0).collect()
    assert {(r.peel_rounds, r.converged) for r in z} == {(0, False)}
    # zero budget on an input that already IS the k-core: converged
    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "u long, v long"
    )
    t = kcore_peel(tri, k=2, rounds=0).collect()
    assert {(r.peel_rounds, r.converged) for r in t} == {(0, True)}


def test_kcore_rejects_bad_args(spark):
    from sentiment_analysis_data_engineering_spark.operators.graph import kcore_peel

    edges = spark.createDataFrame([(1, 2)], "u long, v long")
    with pytest.raises(ValueError, match="k must"):
        kcore_peel(edges, k=-1, rounds=1)
    with pytest.raises(ValueError, match="rounds"):
        kcore_peel(edges, k=1, rounds=-1)
