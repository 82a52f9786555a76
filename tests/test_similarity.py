"""Similarity search: exact top-k correctness + LSH recall."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sentiment_analysis_data_engineering_spark.operators import similarity as sim


@pytest.fixture(scope="module")
def vectors(spark):
    # two tight clusters + one outlier, 4-dim
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),
        (2, [0.98, 0.15, 0.0, 0.0]),
        (10, [0.0, 0.0, 1.0, 0.0]),
        (11, [0.0, 0.1, 0.99, 0.0]),
        (20, [0.0, 0.0, 0.0, -1.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_exact_neighbors(vectors):
    out = sim.cosine_topk(
        vectors.filter(F.col("vec_id") == 0), vectors, k=2
    ).collect()
    got = [(r.neighbor_id, r.rank) for r in sorted(out, key=lambda r: r.rank)]
    assert got == [(1, 1), (2, 2)]


def test_cosine_topk_excludes_self(vectors):
    out = sim.cosine_topk(vectors, vectors, k=3).collect()
    assert all(r.query_id != r.neighbor_id for r in out)


def test_cosine_topk_k_bound(vectors):
    out = sim.cosine_topk(vectors, vectors, k=2)
    counts = out.groupBy("query_id").count().collect()
    assert all(r["count"] <= 2 for r in counts)


def test_lsh_recall_on_fixture_embeddings(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.cosine_topk(queries, emb, k=sim.TOP_K).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in sim.lsh_cosine_topk(queries, emb, dim=64).collect()
    }
    recall = len(exact & approx) / len(exact)
    # 6-band (2-bit) multiprobe on 12 planes: generous buckets, high recall
    assert recall >= 0.6, f"LSH recall too low: {recall}"


def test_ivf_recall_on_fixture_embeddings(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(sim, "N_CELLS", 8)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.cosine_topk(queries, emb, k=sim.TOP_K).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in sim.ivf_cosine_topk(queries, emb).collect()
    }
    recall = len(exact & approx) / len(exact)
    # probing half the cells of a sampled quantizer: recall is high
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_ivf_deterministic(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    a = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.ivf_cosine_topk(queries, emb).collect()
    )
    b = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.ivf_cosine_topk(queries, emb).collect()
    )
    assert a == b and a


def test_kmeans_clusters_assigns_every_vector(spark, sf_dir):
    from pyspark.sql import functions as F
    from sentiment_analysis_data_engineering_spark.operators import similarity as sim
    from sentiment_analysis_data_engineering_spark.plans.registry import load_tables

    (emb,) = load_tables(spark, sf_dir, "embeddings")
    out = sim.kmeans_clusters(emb)
    assert out.count() == emb.count()                 # total assignment
    n_clusters = out.select("cluster").distinct().count()
    assert 2 <= n_clusters <= 8                       # nondegenerate
    # assignment is a function of the vector: same call → same result
    again = sim.kmeans_clusters(emb)
    a = {r.vec_id: r.cluster for r in out.collect()}
    b = {r.vec_id: r.cluster for r in again.collect()}
    assert a == b


def test_semantic_dedup_fit_sample_scales_with_k(spark, sf_dir, monkeypatch):
    from sentiment_analysis_data_engineering_spark.operators import similarity as sim
    from sentiment_analysis_data_engineering_spark.plans.registry import load_tables

    (emb,) = load_tables(spark, sf_dir, "embeddings")
    # a sample FLOOR below 32*k must not cap the distinct-center
    # count: semantic_dedup auto-raises it, so a large k with a small
    # floor still conserves every vector
    monkeypatch.setattr(sim, "FIT_SAMPLE_ROWS", 8)
    monkeypatch.setattr(sim, "SEMDEDUP_THRESHOLD", 0.95)
    out = sim.semantic_dedup(emb, k=16)
    assert out.count() == emb.count()


def _collect_vectors(df):
    rows = df.select("vec_id", "embedding").orderBy("vec_id").collect()
    return [r.vec_id for r in rows], np.array([r.embedding for r in rows], dtype=np.float64)


def _ref_signatures(V, num_planes):
    """Bit p of each row's long is [v·h_p >= 0], with h_p read straight
    from ``_plane_component``."""
    H = np.array(
        [[sim._plane_component(p, d) for d in range(V.shape[1])] for p in range(num_planes)]
    )
    return [
        sum(1 << p for p, bit in enumerate(row) if bit) for row in (V @ H.T) >= 0.0
    ]


def _ref_cosine(a, b):
    """The engine's cosine arithmetic: element-order folds, NULL when a
    norm is 0, rounded HALF_UP at 6 dp."""
    from decimal import ROUND_HALF_UP, Decimal

    dot = na = nb = 0.0
    for x, y in zip(a.tolist(), b.tolist()):
        dot += x * y
        na += x * x
        nb += y * y
    na, nb = na ** 0.5, nb ** 0.5
    if not (na > 0 and nb > 0):
        return None
    return float(Decimal(repr(dot / (na * nb))).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _ref_topk(ids, V, qn, candidates, k):
    """{(query, rank): (neighbour, cosine)}: exact re-rank of each
    query's candidate set, cosine desc then neighbour id, NULLs last."""
    out = {}
    for qi in range(qn):
        scored = [
            (_ref_cosine(V[qi], V[ci]), ids[ci])
            for ci in candidates(qi) if ids[ci] != ids[qi]
        ]
        scored.sort(key=lambda t: (t[0] is None, -(t[0] or 0.0), t[1]))
        for r, (cos, nid) in enumerate(scored[:k], 1):
            out[(ids[qi], r)] = (nid, cos)
    return out


def test_signatures_arrow_matches_expression_form(spark):
    # the arrow matmul pass must produce the sign-bit definition's
    # packed long bit for bit, on real data
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ids, V = _collect_vectors(emb)
    want = dict(zip(ids, _ref_signatures(V, 12)))
    got = {
        r._id: r._sig
        for r in sim.signatures_arrow(emb, num_planes=12, dim=64).collect()
    }
    assert got == want and len(set(want.values())) > 1


def test_lsh_ivf_engines_agree(spark, monkeypatch):
    # LSH band candidates and IVF cell probes, each re-ranked exactly,
    # against a numpy reference of the same candidate rule
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    ids, V = _collect_vectors(emb)
    qn = sum(i < 5 for i in ids)
    assert ids[:qn] == list(range(qn))

    def lsh(num_planes, bands):
        bits = num_planes // bands
        keys = [
            {(b, (s >> (b * bits)) & ((1 << bits) - 1)) for b in range(bands)}
            for s in _ref_signatures(V, num_planes)
        ]
        return lambda qi: [ci for ci in range(len(ids)) if keys[qi] & keys[ci]]

    def ivf(n_centroids, n_probe):
        cents = np.array([v / (sum(x * x for x in v.tolist()) ** 0.5 or 1.0)
                          for v in V[:n_centroids]])
        S = V @ cents.T
        cell = S.argmax(axis=1)
        probes = np.argsort(-S, axis=1, kind="stable")[:, :n_probe]
        return lambda qi: np.flatnonzero(np.isin(cell, probes[qi])).tolist()

    for fn, cells, candidates in (
        (sim.lsh_cosine_topk, {}, lsh(12, 6)),
        (sim.ivf_cosine_topk, {"N_CELLS": 8, "N_PROBE": 3}, ivf(8, 3)),
        # more probes than cells: each query probes every cell
        (sim.ivf_cosine_topk, {"N_CELLS": 2, "N_PROBE": 4}, ivf(2, 4)),
    ):
        for name, value in cells.items():
            monkeypatch.setattr(sim, name, value)
        want = _ref_topk(ids, V, qn, candidates, sim.TOP_K)
        got = {
            (r.query_id, r.rank): (r.neighbor_id, r.cosine)
            for r in fn(q, emb).collect()
        }
        assert {key: n for key, (n, _) in got.items()} == {
            key: n for key, (n, _) in want.items()
        }, fn.__name__
        assert all(abs(got[key][1] - c) <= 1e-6 for key, (_, c) in want.items()), fn.__name__


def test_quantize_int8_stats_bounds_and_zero_vector(spark):
    from sentiment_analysis_data_engineering_spark.operators.similarity import (
        quantize_int8_stats,
    )

    rows = [
        (1, [1.0, -0.5, 0.25, 0.0], "a"),
        (2, [0.0, 0.0, 0.0, 0.0], "z"),   # all-zero: scale 0 -> rmse 0
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label string")
    out = {r.grp: r for r in quantize_int8_stats(df).collect()}
    # int8 max-abs quantization error is bounded by scale/2 per element
    assert 0.0 <= out["a"].max_rmse <= (1.0 / 127.0) / 2 + 1e-12
    assert out["z"].avg_rmse == 0.0 and out["z"].max_rmse == 0.0
    assert out["a"].n_vecs == 1 and out["z"].n_vecs == 1


def test_quantize_int8_stats_exact_levels_lossless(spark):
    from sentiment_analysis_data_engineering_spark.operators.similarity import (
        quantize_int8_stats,
    )

    # values already on the int8 grid (scale = 1/127) round-trip exactly
    vec = [127.0 / 127.0, -64.0 / 127.0, 1.0 / 127.0, 0.0]
    df = spark.createDataFrame(
        [(1, vec, 0)], "vec_id long, embedding array<float>, label int")
    got = quantize_int8_stats(df).first()
    assert got.grp == 0 and got.max_rmse == 0.0


def test_semantic_dedup_two_tight_clusters(spark, monkeypatch):
    monkeypatch.setattr(sim, "SEMDEDUP_THRESHOLD", 0.9)
    # cluster around e1: ids 1,2,3 pairwise cosine ~1 -> keep only 1;
    # cluster around e2: ids 10,11 identical -> keep only 10;
    # id 20 points elsewhere (cosine < threshold with everything) ->
    # kept wherever kmeans puts it
    def v(axis, eps=0.0):
        out = [0.0] * 8
        out[axis] = 1.0
        out[(axis + 4) % 8] = eps
        return out

    rows = [
        (1, v(0)), (2, v(0, 0.01)), (3, v(0, 0.02)),
        (10, v(1)), (11, v(1)),
        (20, v(2)),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: r.keep
        for r in sim.semantic_dedup(df, k=2).collect()
    }
    assert out == {1: True, 2: False, 3: False, 10: True, 11: False, 20: True}


def test_semantic_dedup_oversized_cluster_guard(spark, monkeypatch):
    # with MAX_CLUSTER_SIZE below the cluster population, members are
    # excluded from pairing and ALL kept
    monkeypatch.setattr(sim, "MAX_CLUSTER_SIZE", 3)
    monkeypatch.setattr(sim, "SEMDEDUP_THRESHOLD", 0.5)
    rows = [(i, [1.0, 0.0]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = sim.semantic_dedup(df, k=2)
    assert all(r.keep for r in out.collect())
    assert out.count() == 6


def test_pq_recall_on_fixture_embeddings(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.cosine_topk(queries, emb, k=sim.TOP_K).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in sim.pq_cosine_topk(queries, emb, n_rerank=96).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"PQ recall too low: {recall}"


def test_pq_full_rerank_equals_exact(spark, sf_dir, monkeypatch):
    """With n_rerank >= corpus size the exact re-rank sees every
    candidate, so PQ must return the exact top-k ID-for-ID — pins the
    ADC table indexing (a wrong codeword offset silently degrades
    recall but cannot survive this equality)."""
    monkeypatch.setattr(sim, "PQ_CODES", 16)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    n = emb.count()
    exact = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.cosine_topk(queries, emb, k=sim.TOP_K).collect()
    )
    approx = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.pq_cosine_topk(queries, emb, n_rerank=n).collect()
    )
    assert exact == approx


def test_pq_deterministic(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    a = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.pq_cosine_topk(queries, emb).collect()
    )
    b = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.pq_cosine_topk(queries, emb).collect()
    )
    assert a == b and a


def test_pq_rejects_indivisible_subspaces(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(sim, "PQ_M", 7)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="not divisible"):
        sim.pq_cosine_topk(emb.limit(5), emb).collect()


def test_ivfpq_recall_on_fixture_embeddings(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.cosine_topk(queries, emb, k=sim.TOP_K).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in sim.ivfpq_cosine_topk(queries, emb).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF-PQ recall too low: {recall}"


def test_ivfpq_all_cells_full_rerank_equals_exact(spark, sf_dir, monkeypatch):
    """Probing EVERY cell with n_rerank >= corpus removes both
    approximations, so IVF-PQ must return the exact top-k — pins the
    residual table indexing and the cell-join plumbing at once."""
    monkeypatch.setattr(sim, "N_CELLS", 8)
    monkeypatch.setattr(sim, "N_PROBE", 8)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    n = emb.count()
    exact = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.cosine_topk(queries, emb, k=sim.TOP_K).collect()
    )
    approx = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.ivfpq_cosine_topk(queries, emb, n_rerank=n).collect()
    )
    assert exact == approx


def test_ivfpq_deterministic(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    a = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.ivfpq_cosine_topk(queries, emb).collect()
    )
    b = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.ivfpq_cosine_topk(queries, emb).collect()
    )
    assert a == b and a


def _ce_ref(q, c):
    # pure-Python reference of the cross-encoder stand-in: sequential
    # softsign fold, the same order both engines use
    acc = 0.0
    for d, (x, y) in enumerate(zip(q, c)):
        p = x * y * sim._ce_weight(d)
        acc += p / (1.0 + abs(p))
    return acc


def test_crossencoder_rerank_matches_python_reference(spark, vectors, monkeypatch):
    monkeypatch.setattr(sim, "CE_DIM", 4)
    monkeypatch.setattr(sim, "TOP_K", 3)  # 3 of each query's 5 candidates
    # candidates = all non-self pairs; the reranker's scores must match
    # the pure-Python fold exactly (rounded to the output's 6dp)
    ids = [r.vec_id for r in vectors.select("vec_id").collect()]
    vecs = {r.vec_id: [float(x) for x in r.embedding]
            for r in vectors.collect()}
    cand = spark.createDataFrame(
        [(q, c) for q in ids for c in ids if q != c],
        "query_id long, neighbor_id long",
    )
    out = sim.crossencoder_rerank_topk(cand, vectors, vectors).collect()
    assert all(r.rank <= 3 for r in out)
    got = {(r.query_id, r.neighbor_id): r.ce_score for r in out}
    for (q, c), s in got.items():
        assert s == round(_ce_ref(vecs[q], vecs[c]), 6), (q, c)
    # per-query top-k by the reference score, same tie-break
    for q in ids:
        ref_rank = sorted(
            ((-_ce_ref(vecs[q], vecs[c]), c) for c in ids if c != q)
        )[:3]
        want = {c for _, c in ref_rank}
        have = {c for (qq, c) in got if qq == q}
        assert have == want, q


def test_crossencoder_rerank_subset_and_jvm_agreement(spark, vectors, monkeypatch):
    monkeypatch.setattr(sim, "CE_DIM", 4)
    # restrict candidates to a 2-neighbor slate per query: the reranker
    # may only reorder that slate, and the Arrow scorer must agree with
    # the JVM expression bit-for-bit (equality WITHOUT rounding slack)
    cand = spark.createDataFrame(
        [(0, 10), (0, 20), (1, 2), (1, 11)],
        "query_id long, neighbor_id long",
    )
    out = sim.crossencoder_rerank_topk(cand, vectors, vectors)
    dv = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    qv = vectors.select(F.col("vec_id").alias("query_id"), dv.alias("_qv"))
    cv = vectors.select(
        F.col("vec_id").alias("neighbor_id"), dv.alias("_cv")
    )
    checked = (
        out.join(qv, "query_id")
        .join(cv, "neighbor_id")
        .withColumn(
            "_jvm",
            F.round(
                sim.crossencoder_score_expr(
                    F.col("_qv"), F.col("_cv"), dim=4
                ),
                6,
            ),
        )
        .collect()
    )
    assert len(checked) == 4
    pairs = {(r.query_id, r.neighbor_id) for r in checked}
    assert pairs == {(0, 10), (0, 20), (1, 2), (1, 11)}
    for r in checked:
        assert r.ce_score == r._jvm, (r.query_id, r.neighbor_id)


def test_crossencoder_weights_deterministic_and_bounded():
    w = [sim._ce_weight(d) for d in range(64)]
    assert w == [sim._ce_weight(d) for d in range(64)]
    assert all(0.5 <= x < 1.5 for x in w)
    assert len(set(w)) > 32  # spread, not collapsed


# ---------------------------------------------------------------------------
# Persisted + incrementally-maintained IVF-PQ index
# ---------------------------------------------------------------------------


def test_ivfpq_index_probe_equals_adhoc_query(spark, sf_dir, tmp_path, monkeypatch):
    """An index built from the corpus and probed is the SAME arithmetic
    as the ad-hoc ivfpq_cosine_topk (shared train/encode/qtab stages):
    identical (query, neighbor, rank) sets, bit-for-bit, once both fit
    from the same sample draw (the persisted index trains hash-ordered
    — see _sample_normalized — so the ad-hoc fit is made to draw by
    hash here)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "idx")
    stats = sim.ivfpq_write_index(emb, path)
    assert stats["n_indexed"] == emb.count()
    probe = sorted(
        (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 12))
        for r in sim.ivfpq_probe_index(spark, path, queries, emb).collect()
    )
    train = sim._ivfpq_train_model
    monkeypatch.setattr(
        sim, "_ivfpq_train_model",
        lambda *a, **kw: train(*a, **kw, sample_order="hash"),
    )
    adhoc = sorted(
        (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 12))
        for r in sim.ivfpq_cosine_topk(queries, emb).collect()
    )
    assert probe == adhoc and probe


def test_ivfpq_index_fresh_session_probe(spark, sf_dir, tmp_path):
    """The persisted artifacts carry EVERYTHING: a probe from a fresh
    session (new session state, nothing cached from the build) returns
    identical results."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(emb, path)
    same = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.ivfpq_probe_index(spark, path, queries, emb).collect()
    )
    fresh = spark.newSession()
    emb2 = fresh.read.parquet(f"{sf_dir}/embeddings.parquet")
    q2 = emb2.filter(F.col("vec_id") < 3)
    other = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.ivfpq_probe_index(fresh, path, q2, emb2).collect()
    )
    assert same == other and same


def test_ivfpq_index_merge_idempotent_and_complete(spark, sf_dir, tmp_path):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "idx")
    stats = sim.ivfpq_write_index(base, path)
    assert stats["n_indexed"] == base.count()
    m1 = sim.ivfpq_merge_index(spark, path, delta)
    assert m1["n_batch"] == delta.count()
    assert m1["n_added"] == delta.count() and m1["n_already"] == 0
    # idempotence: re-merging the same batch adds nothing
    m2 = sim.ivfpq_merge_index(spark, path, delta)
    assert m2["n_added"] == 0 and m2["n_already"] == delta.count()
    # completeness: every id indexed exactly once
    codes = sim.ivfpq_codes(spark, path)
    agg = codes.agg(
        F.count("*").alias("n"),
        F.countDistinct("neighbor_id").alias("nd"),
    ).first()
    assert agg.n == agg.nd == emb.count()


def test_ivfpq_index_merge_dedups_within_batch(spark, sf_dir, tmp_path):
    """A batch carrying the SAME id twice must land exactly one index
    row: the index anti-join alone only rejects ids the index already
    holds, so intra-batch duplicates would both pass it and break the
    count == countDistinct completeness invariant (r8 advice item 1)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(base, path)
    doubled = delta.unionAll(delta)  # every batch id duplicated
    m = sim.ivfpq_merge_index(spark, path, doubled)
    n_delta = delta.count()
    assert m["n_batch"] == n_delta  # distinct ids presented
    assert m["n_added"] == n_delta and m["n_already"] == 0
    agg = (
        sim.ivfpq_codes(spark, path)
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("neighbor_id").alias("nd"),
        )
        .first()
    )
    assert agg.n == agg.nd == emb.count()


def test_ivfpq_index_merged_vectors_fully_reachable(spark, sf_dir, tmp_path):
    """Probing EVERY cell with full re-rank depth removes both
    approximations, so the post-merge index must return the EXACT
    top-k over the full corpus — regardless of the model having been
    trained on the pre-merge base. Proves merged vectors are encoded,
    stored, and scored identically to built ones."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    queries = emb.filter(F.col("vec_id") < 3)
    n = emb.count()
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(base, path, n_cells=8)
    sim.ivfpq_merge_index(spark, path, delta)
    exact = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.cosine_topk(queries, emb, k=sim.TOP_K).collect()
    )
    probe = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.ivfpq_probe_index(
            spark, path, queries, emb, n_probe=8, n_rerank=n
        ).collect()
    )
    assert probe == exact


def test_ivfpq_delete_ids_removes_and_probe_excludes(spark, sf_dir, tmp_path):
    """Post-delete, the victim ids are gone from the codes table and a
    probe can never return them; non-victims are untouched."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(emb, path)
    victims = emb.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    n_victims = victims.count()
    n_all = emb.count()
    d = sim.ivfpq_delete_ids(spark, path, victims)
    assert d["n_deleted"] == n_victims > 0
    codes = sim.ivfpq_codes(spark, path)
    assert codes.count() == n_all - n_victims
    assert (
        codes.join(F.broadcast(victims), codes.neighbor_id == victims.vec_id)
        .count()
        == 0
    )
    queries = emb.filter(F.col("vec_id") < 3)
    probe = sim.ivfpq_probe_index(
        spark, path, queries, emb, n_probe=16, n_rerank=n_all
    )
    assert (
        probe.join(
            F.broadcast(victims), probe.neighbor_id == victims.vec_id
        ).count()
        == 0
    )
    # idempotent: deleting the same (now absent) ids rewrites nothing
    d2 = sim.ivfpq_delete_ids(spark, path, victims)
    assert d2 == {"n_deleted": 0, "n_cells_rewritten": 0, "n_cells_emptied": 0}


def test_ivfpq_delete_ids_accepts_python_list(spark, sf_dir, tmp_path):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(emb, path)
    some = [r.vec_id for r in emb.select("vec_id").limit(4).collect()]
    d = sim.ivfpq_delete_ids(spark, path, some)
    assert d["n_deleted"] == 4
    assert sim.ivfpq_codes(spark, path).count() == emb.count() - 4


def test_ivfpq_delete_ids_emptied_cell_directory_removed(spark, tmp_path):
    """Deleting EVERY row of a cell must take the cell out of what the
    index serves and remove its directory: no entry of the new version
    serves it, and the commit deletes the cell directory the build
    wrote, so stale files can never resurrect the deleted ids."""
    import pyspark.sql.functions as sf

    rows = [(i, [float((i * 7 + d) % 13) for d in range(16)]) for i in range(64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(df, path, n_cells=4, m=4, n_codes=8)
    codes = sim.ivfpq_codes(spark, path)
    one_cell = codes.select("cell").first().cell
    cell_ids = [
        r.neighbor_id
        for r in codes.filter(sf.col("cell") == one_cell).collect()
    ]
    d = sim.ivfpq_delete_ids(spark, path, cell_ids)
    assert d["n_deleted"] == len(cell_ids) and d["n_cells_emptied"] >= 1
    import glob

    assert one_cell not in sim.ivfpq_cell_file_counts(spark, path)
    assert not glob.glob(f"{path}/*/codes/cell={one_cell}")
    after = sim.ivfpq_codes(spark, path)
    assert after.count() == 64 - len(cell_ids)
    assert after.filter(sf.col("cell") == one_cell).count() == 0


def test_ivfpq_reembed_changed_vectors(spark, sf_dir, tmp_path):
    """Re-embed = delete + insert under the frozen model: changed
    vectors get NEW encodings (a plain merge would keep the stale
    ones), counts are conserved, and a full-width full-rerank probe
    ranks by the NEW geometry. Re-running converges to the same
    state."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_all = emb.count()
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(emb, path)
    # change a deterministic subset: negate every component
    changed = emb.filter(F.col("vec_id") % 7 == 3).select(
        "vec_id",
        F.transform("embedding", lambda x: -x).alias("embedding"),
    )
    n_changed = changed.count()
    r1 = sim.ivfpq_reembed(spark, path, changed)
    assert r1 == {
        "n_batch": n_changed,
        "n_deleted": n_changed,
        "n_inserted": n_changed,
    }
    codes1 = sim.ivfpq_codes(spark, path)
    agg = codes1.agg(
        F.count("*").alias("n"), F.countDistinct("neighbor_id").alias("nd")
    ).first()
    assert agg.n == agg.nd == n_all  # count conservation
    state1 = sorted(
        (r.neighbor_id, r.cell, tuple(r.codes)) for r in codes1.collect()
    )
    # a merge of the same changed batch is a NO-OP (ids present) —
    # proving merge alone cannot express re-embedding
    m = sim.ivfpq_merge_index(spark, path, changed)
    assert m["n_added"] == 0
    # convergence: second reembed lands the identical on-disk state
    sim.ivfpq_reembed(spark, path, changed)
    state2 = sorted(
        (r.neighbor_id, r.cell, tuple(r.codes))
        for r in sim.ivfpq_codes(spark, path).collect()
    )
    assert state2 == state1
    # the index now serves the NEW geometry: full-probe full-rerank
    # against a corpus holding the changed vectors == exact scan
    merged_corpus = (
        emb.select("vec_id", "embedding")
        .filter(F.col("vec_id") % 7 != 3)
        .unionByName(changed)
    )
    queries = merged_corpus.filter(F.col("vec_id") < 3)
    exact = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.cosine_topk(queries, merged_corpus, k=sim.TOP_K).collect()
    )
    probe = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.ivfpq_probe_index(
            spark, path, queries, merged_corpus,
            n_probe=16, n_rerank=n_all,
        ).collect()
    )
    assert probe == exact


def test_ivfpq_drift_audit_exact_and_partition_invariant(spark, sf_dir, tmp_path):
    """The audit's error sum is integer-quantized PER ROW before
    aggregation, so it must be bit-identical across arbitrary
    repartitionings (float means would not be)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(emb, path)
    a1 = sorted(
        tuple(r) for r in sim.ivfpq_drift_audit(spark, path, emb).collect()
    )
    a2 = sorted(
        tuple(r)
        for r in sim.ivfpq_drift_audit(
            spark, path, emb.repartition(7, "embedding")
        ).collect()
    )
    assert a1 == a2
    (row,) = a1
    seg, n, occ, mx, qe = row
    assert seg == "all" and n == emb.count() and qe > 0
    assert 1 <= occ <= 16 and mx >= 1


def test_ivfpq_drift_audit_detects_stale_encoding(spark, sf_dir, tmp_path):
    """Auditing the STORED codes is the point: change vectors WITHOUT
    re-embedding and the audit's reconstruction error inflates; after
    ivfpq_reembed it drops back. A re-encode-based check would miss
    the stale state entirely."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(emb, path)
    changed_all = emb.select(
        "vec_id",
        F.when(
            F.col("vec_id") % 3 == 0,
            F.transform("embedding", lambda x: -x),
        ).otherwise(F.col("embedding")).alias("embedding"),
    )

    def qerr():
        (r,) = sim.ivfpq_drift_audit(spark, path, changed_all).collect()
        return r.sum_qerr_micro

    stale = qerr()
    changed = changed_all.filter(F.col("vec_id") % 3 == 0)
    sim.ivfpq_reembed(spark, path, changed)
    fresh = qerr()
    # a negated unit vector reconstructs at distance ~4 under the old
    # code; re-embedding restores normal quantization error
    assert stale > 2 * fresh > 0


def test_ivfpq_index_probe_prunes_cell_directories(spark, sf_dir, tmp_path):
    """The codes table is partitioned by cell, so a probed-cell filter
    prunes at the file-listing level: reading 2 cells touches strictly
    fewer files than the full index."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(emb, path)
    codes = sim.ivfpq_codes(spark, path)
    cells = sorted(r.cell for r in codes.select("cell").distinct().collect())
    assert len(cells) > 2

    def files_scanned(df):
        return df.select(F.input_file_name()).distinct().count()

    total = files_scanned(codes)
    pruned = files_scanned(codes.filter(F.col("cell").isin(cells[:2])))
    assert 0 < pruned < total
    # the cell-clustered write keeps the layout tight: one file per
    # cell directory, so the probe reads exactly its probed cells
    assert total == len(cells) and pruned == 2


def test_ivfpq_index_empty_merge_and_probe(spark, sf_dir, tmp_path):
    """Degenerate inputs stay total: an empty merge batch is a no-op
    with zeroed stats that commits no version and leaves no file
    behind, an empty query set probes to an empty frame — no
    isin([])/emptiness traps."""
    import os

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(emb, path)
    version, dirs = sim._snapshot(spark, path)[0], sorted(os.listdir(path))
    before = sorted(sim.ivfpq_codes(spark, path).inputFiles())
    empty = emb.filter(F.col("vec_id") < 0)
    assert sim.ivfpq_merge_index(spark, path, empty) == {
        "n_batch": 0, "n_added": 0, "n_already": 0, "n_id_conflicts": 0,
    }
    assert sorted(sim.ivfpq_codes(spark, path).inputFiles()) == before
    assert sim._snapshot(spark, path)[0] == version
    assert sorted(os.listdir(path)) == dirs
    assert sim.ivfpq_probe_index(spark, path, empty, emb).count() == 0


def test_ivfpq_index_compaction(spark, sf_dir, tmp_path):
    """Compaction law: after a merge fragments cell partitions (two
    files per touched cell), compaction restores one file per cell,
    changes NO content, leaves probe results identical, and is
    idempotent."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    queries = emb.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(base, path)
    sim.ivfpq_merge_index(spark, path, delta)

    def snapshot():
        codes = sim.ivfpq_codes(spark, path)
        rows = sorted(
            (r.neighbor_id, int(r.cell), tuple(r.codes)) for r in codes.collect()
        )
        per_cell = {
            r.cell: r.nf
            for r in codes.withColumn("_f", F.input_file_name())
            .groupBy("cell")
            .agg(F.countDistinct("_f").alias("nf"))
            .collect()
        }
        return rows, per_cell

    before_rows, before_files = snapshot()
    assert max(before_files.values()) > 1  # the merge really fragmented
    probe_before = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.ivfpq_probe_index(spark, path, queries, emb).collect()
    )

    stats = sim.ivfpq_compact_index(spark, path)
    assert stats["n_cells_compacted"] == sum(
        1 for nf in before_files.values() if nf > 1
    )
    after_rows, after_files = snapshot()
    assert after_rows == before_rows            # content law: untouched
    assert set(after_files.values()) == {1}     # one file per cell
    probe_after = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.ivfpq_probe_index(spark, path, queries, emb).collect()
    )
    assert probe_after == probe_before
    # idempotence: nothing left to compact
    assert sim.ivfpq_compact_index(spark, path) == {
        "n_cells_compacted": 0, "n_rows_rewritten": 0,
    }


def test_ivfpq_merge_conflicting_ids_deterministic_and_counted(
    spark, sf_dir, tmp_path
):
    """A batch carrying the same id with two DIFFERENT vectors is a
    malformed upstream (r9 advice item 4): the merge must (a) COUNT it
    in n_id_conflicts so the defect is observable, and (b) resolve it
    DETERMINISTICALLY — two merges of the same malformed batch under
    different partitionings land bit-identical codes."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    base = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    flipped = delta.select(
        "vec_id", F.transform("embedding", lambda x: -x).alias("embedding")
    )
    malformed = delta.unionByName(flipped)  # every delta id conflicts
    n_delta = delta.count()

    def build_and_merge(path, batch):
        sim.ivfpq_write_index(base, path)
        return sim.ivfpq_merge_index(spark, path, batch)

    m1 = build_and_merge(str(tmp_path / "a"), malformed)
    assert m1["n_id_conflicts"] == n_delta
    assert m1["n_batch"] == m1["n_added"] == n_delta
    # same malformed batch, scrambled partitioning: identical pick
    m2 = build_and_merge(
        str(tmp_path / "b"), malformed.repartition(7, "embedding")
    )
    assert m2["n_id_conflicts"] == n_delta

    def codes_of(path):
        return sorted(
            (r.neighbor_id, int(r.cell), tuple(r.codes))
            for r in sim.ivfpq_codes(spark, path).collect()
        )

    assert codes_of(str(tmp_path / "a")) == codes_of(str(tmp_path / "b"))
    # a well-formed batch reports zero conflicts
    m3 = build_and_merge(str(tmp_path / "c"), delta)
    assert m3["n_id_conflicts"] == 0


# ---------------------------------------------------------------------------
# Commit protocol laws: one create-exclusive log entry per version
# ---------------------------------------------------------------------------


def _served_rows(spark, path):
    return sorted(
        (r.neighbor_id, int(r.cell), tuple(r.codes))
        for r in sim.ivfpq_codes(spark, path).collect()
    )


def _served_state(spark, path, queries, corpus):
    """Everything a reader of the index can observe: the version, the
    codes, the model and a probe's answers."""
    C, books, meta = sim.ivfpq_read_model(spark, path)
    probe = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.ivfpq_probe_index(
            spark, path, queries, corpus
        ).collect()
    )
    return (
        sim._snapshot(spark, path)[0], _served_rows(spark, path),
        C.tolist(), [b.tolist() for b in books], meta, probe,
    )


def _fragmented_index(spark, sf_dir, path):
    """A build of 3/5 of the fixture plus one merge of another 1/5, so
    every verb has work left: the last 1/5 to merge, two entries per
    touched cell to compact, ids to delete, a corpus to rebuild from."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    sim.ivfpq_write_index(emb.filter(F.col("vec_id") % 5 > 1), path)
    sim.ivfpq_merge_index(spark, path, emb.filter(F.col("vec_id") % 5 == 1))
    return emb


_VERBS = {
    "write": lambda spark, path, emb: sim.ivfpq_write_index(
        emb, path, n_cells=8
    ),
    "merge": lambda spark, path, emb: sim.ivfpq_merge_index(
        spark, path, emb.filter(F.col("vec_id") % 5 == 0)
    ),
    "compact": lambda spark, path, emb: sim.ivfpq_compact_index(spark, path),
    "delete": lambda spark, path, emb: sim.ivfpq_delete_ids(
        spark, path, emb.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    ),
}


@pytest.mark.parametrize("verb", sorted(_VERBS))
def test_crash_before_commit_keeps_prior_version(
    spark, sf_dir, tmp_path, monkeypatch, verb
):
    """A verb killed after its data write and before its commit leaves
    the prior version serving: same version, digest-equal codes, model
    and probe answers. Its output sits in a dir nothing reads, and the
    next commit deletes it."""
    import os

    path = str(tmp_path / "idx")
    emb = _fragmented_index(spark, sf_dir, path)
    queries = emb.filter(F.col("vec_id") < 3)
    before = _served_state(spark, path, queries, emb)
    dirs = set(os.listdir(path))

    def crash(*a, **k):
        raise RuntimeError("injected crash before commit")

    monkeypatch.setattr(sim, "_commit", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        _VERBS[verb](spark, path, emb)
    monkeypatch.undo()
    (orphan,) = set(os.listdir(path)) - dirs
    assert _served_state(spark, path, queries, emb) == before

    _VERBS[verb](spark, path, emb)  # the rerun commits and sweeps
    assert sim._snapshot(spark, path)[0] == before[0] + 1
    assert orphan not in os.listdir(path)
    sim.evict_model_cache(path)


@pytest.mark.parametrize("verb", sorted(_VERBS))
def test_reader_never_sees_uncommitted_dir(
    spark, sf_dir, tmp_path, monkeypatch, verb
):
    """Readers read what the newest log entry names and nothing else:
    at the verb's commit point, with its output fully written, the
    codes and model a reader gets hold no file of that output; right
    after the commit they do."""
    path = str(tmp_path / "idx")
    emb = _fragmented_index(spark, sf_dir, path)
    model0 = sim._snapshot(spark, path)[1]["model"]
    real = sim._commit
    seen: list = []

    def read_then_commit(spark_, path_, n, manifest, own):
        files = sim.ivfpq_codes(spark, path).inputFiles()
        seen.append(any(f"/{own}/" in f for f in files))
        seen.append(sim._snapshot(spark, path)[1]["model"])
        real(spark_, path_, n, manifest, own)
        files = sim.ivfpq_codes(spark, path).inputFiles()
        seen.append(any(f"/{own}/" in f for f in files))

    monkeypatch.setattr(sim, "_commit", read_then_commit)
    _VERBS[verb](spark, path, emb)
    monkeypatch.undo()
    assert seen == [False, model0, True]
    sim.evict_model_cache(path)


def test_two_writers_on_one_base_exactly_one_commits(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Two merges of one batch, both reading the same version: each
    passes its anti-join, but only the first create of the next log
    entry succeeds. The second raises IndexConflictError and its output
    is deleted, so the batch lands exactly once."""
    import os

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(emb.filter(F.col("vec_id") % 5 != 0), path)
    n0 = sim._snapshot(spark, path)[0]
    real = sim._commit
    rival: list = []

    def rival_commits_first(*args):
        if not rival:
            rival.append(None)
            rival[0] = sim.ivfpq_merge_index(spark, path, delta)
        real(*args)

    monkeypatch.setattr(sim, "_commit", rival_commits_first)
    with pytest.raises(sim.IndexConflictError, match="another writer"):
        sim.ivfpq_merge_index(spark, path, delta)
    monkeypatch.undo()
    assert rival[0]["n_added"] == delta.count()
    n, manifest = sim._snapshot(spark, path)
    assert n == n0 + 1
    agg = sim.ivfpq_codes(spark, path).agg(
        F.count("*").alias("n"), F.countDistinct("neighbor_id").alias("nd")
    ).first()
    assert agg.n == agg.nd == emb.count()
    # the loser's dir is gone; only what the manifest names is left
    assert set(os.listdir(path)) == {"_log", manifest["model"], *manifest["codes"]}
    sim.evict_model_cache(path)


def test_stale_writer_cannot_commit_and_is_swept(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A writer that dies between its data write and its commit leaves
    a dir no version names; the next commit by any writer deletes it.
    Resumed after that commit, the stale writer cannot commit: its log
    entry already exists."""
    import os

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(emb.filter(F.col("vec_id") % 5 != 0), path)
    stale: list = []

    def die(*args):
        stale.append(args)
        raise RuntimeError("writer died before its commit")

    monkeypatch.setattr(sim, "_commit", die)
    with pytest.raises(RuntimeError, match="died"):
        sim.ivfpq_merge_index(spark, path, emb.filter(F.col("vec_id") % 5 == 0))
    monkeypatch.undo()
    own = stale[0][-1]
    assert os.path.isdir(f"{path}/{own}")

    sim.ivfpq_delete_ids(spark, path, [1])  # another writer commits
    assert not os.path.exists(f"{path}/{own}")
    after = (sim._snapshot(spark, path), _served_rows(spark, path))
    with pytest.raises(sim.IndexConflictError):
        sim._commit(*stale[0])
    assert (sim._snapshot(spark, path), _served_rows(spark, path)) == after
    sim.evict_model_cache(path)


def test_racing_commits_on_one_version_have_one_winner(spark, tmp_path):
    """8 writers race ``_commit`` on the same version of one index, in
    100 trials on a local path, where Hadoop's ``create(overwrite=false)``
    checks and then creates: every trial has exactly one winner, the
    other 7 raise IndexConflictError, the entry holds the winner's
    manifest and only the winner's dir is left."""
    import os
    import threading
    from concurrent.futures import ThreadPoolExecutor

    n_writers = 8

    def trial(path: str):
        barrier = threading.Barrier(n_writers)

        def writer(i: int):
            own = f"v1-w{i}"
            os.makedirs(f"{path}/{own}")
            barrier.wait(timeout=60)
            try:
                sim._commit(spark, path, 1, {"model": own, "codes": {}}, own)
            except sim.IndexConflictError:
                return None
            return own

        return [w for w in pool.map(writer, range(n_writers)) if w]

    with ThreadPoolExecutor(n_writers) as pool:
        for t in range(100):
            path = str(tmp_path / f"idx{t}")
            won = trial(path)
            assert len(won) == 1, (t, won)
            assert sim._snapshot(spark, path) == (1, {"model": won[0], "codes": {}})
            assert sorted(os.listdir(path)) == ["_log", won[0]]
            assert os.listdir(f"{path}/_log") == [f"{1:020d}.json"]


def test_ivfpq_drift_audit_surfaces_unaudited_rows(spark, sf_dir, tmp_path):
    """Index rows whose id is missing from the supplied corpus must
    surface as the __unaudited__ segment (exact count, zero error) —
    never silently vanish from the audit (r9 advice item 1). A corpus
    that covers the index emits no such row."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(emb, path)

    full = {r.segment: r for r in sim.ivfpq_drift_audit(spark, path, emb).collect()}
    assert set(full) == {"all"} and full["all"].n_vectors == emb.count()

    partial_corpus = emb.filter(F.col("vec_id") % 3 != 0)
    n_missing = emb.count() - partial_corpus.count()
    part = {
        r.segment: r
        for r in sim.ivfpq_drift_audit(spark, path, partial_corpus).collect()
    }
    assert set(part) == {"all", "__unaudited__"}
    assert part["all"].n_vectors == partial_corpus.count()
    assert part["__unaudited__"].n_vectors == n_missing
    assert part["__unaudited__"].sum_qerr_micro == 0
    # matched-row error sums are unaffected by the orphans' presence:
    # the full audit restricted to the partial ids must equal the
    # partial audit's matched segment
    sub = {
        r.segment: r
        for r in sim.ivfpq_drift_audit(
            spark, path,
            emb.withColumn(
                "segment",
                F.when(F.col("vec_id") % 3 != 0, "all").otherwise("other"),
            ),
            segment_col="segment",
        ).collect()
    }
    assert sub["all"].sum_qerr_micro == part["all"].sum_qerr_micro


# ---------------------------------------------------------------------------
# Model cache and the clustered-fixture recall gates
# ---------------------------------------------------------------------------


def test_probe_model_cache_hits_and_invalidates(spark, sf_dir, tmp_path):
    """Serving-path model cache: the second probe against an unchanged
    index reads NO model parquet (a hit on the version's model dir)
    and returns identical results; a rebuild commits a new model dir,
    so the next read decodes the NEW model."""
    from sentiment_analysis_data_engineering_spark.operators.dedup import release_pinned

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(emb, path, n_cells=16)
    queries = emb.filter(F.col("vec_id") < 3)

    h0, m0 = sim.MODEL_CACHE_STATS["hits"], sim.MODEL_CACHE_STATS["misses"]
    r1 = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.ivfpq_probe_index(spark, path, queries, emb).collect()
    )
    release_pinned()
    assert sim.MODEL_CACHE_STATS["misses"] == m0 + 1  # first read decodes
    r2 = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.ivfpq_probe_index(spark, path, queries, emb).collect()
    )
    release_pinned()
    assert sim.MODEL_CACHE_STATS["hits"] == h0 + 1  # second probe: no jobs
    assert sim.MODEL_CACHE_STATS["misses"] == m0 + 1
    assert r1 == r2

    # a retrain commits a new model dir — a new key, so the next read
    # sees the new model shape
    sim.ivfpq_write_index(emb, path, n_cells=8)
    _, _, meta = sim.ivfpq_read_model(spark, path)
    assert meta["n_cells"] == 8
    assert sim.MODEL_CACHE_STATS["misses"] == m0 + 2


def test_clustered_fixture_recall_gates(spark, sf_dir):
    """The discriminative recall law (r10 verdict item 3): on the
    planted-cluster fixture the IVF-PQ index must demonstrably HELP —
    all 16 planted cells recovered, mean recall@5 >= 0.9 at n_probe=8,
    and >= 0.8 already at n_probe=2 (pruning informative, not
    uniform). The registered driver row computes the same gates; this
    law pins them at the pytest SF too."""
    from sentiment_analysis_data_engineering_spark.plans.extension_queries import (
        ann_clustered_recall,
    )

    row = ann_clustered_recall(spark, sf_dir).first()
    assert row.structure_found_ok
    assert row.pruning_informative_ok
    assert row.recall_floor_ok
    assert row.n_results == 5 * row.n_queries


def test_model_cache_lru_cap_and_eviction(spark, sf_dir, tmp_path, monkeypatch):
    """The serving-path model cache is a bounded LRU: one entry past the
    cap evicts the least-recently-served index; re-reading the evicted
    index is a fresh miss; a survivor still hits. evict_model_cache
    drops an index's entries outright (temp-dir fixtures call it on
    teardown)."""
    import shutil as sh

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    p0 = str(tmp_path / "idx0")
    sim.ivfpq_write_index(emb, p0, n_cells=4)
    # identical artifact copies under distinct paths — distinct cache keys
    paths = [p0]
    for i in (1, 2, 3):
        p = str(tmp_path / f"idx{i}")
        sh.copytree(p0, p)
        paths.append(p)

    monkeypatch.setattr(sim, "MODEL_CACHE_MAX", 3)
    sim._MODEL_CACHE.clear()
    e0 = sim.MODEL_CACHE_STATS["evictions"]

    def cached():  # keys are model dirs: the index path + "/v{n}-..."
        return [k.rsplit("/", 1)[0] for k in sim._MODEL_CACHE]

    for p in paths[:3]:
        sim.ivfpq_read_model(spark, p)
    assert cached() == paths[:3]
    sim.ivfpq_read_model(spark, paths[0])  # hit: idx0 becomes most-recent
    assert cached()[-1] == paths[0]

    sim.ivfpq_read_model(spark, paths[3])  # 4th distinct path: evicts idx1
    assert sim.MODEL_CACHE_STATS["evictions"] == e0 + 1
    assert paths[1] not in cached()
    assert len(sim._MODEL_CACHE) == 3

    m0 = sim.MODEL_CACHE_STATS["misses"]
    h0 = sim.MODEL_CACHE_STATS["hits"]
    sim.ivfpq_read_model(spark, paths[1])  # evicted: a fresh miss
    assert sim.MODEL_CACHE_STATS["misses"] == m0 + 1
    sim.ivfpq_read_model(spark, paths[0])  # survivor: still a hit
    assert sim.MODEL_CACHE_STATS["hits"] == h0 + 1

    sim.evict_model_cache(paths[0])
    assert paths[0] not in cached()
    sim._MODEL_CACHE.clear()


def test_read_model_missing_index_is_legible(spark, tmp_path):
    """ivfpq_read_model on a path with no index fails with a clear
    'no IVF-PQ index at …' error naming the expected layout (r11
    advice low 4), not a raw Py4J listing exception."""
    with pytest.raises(FileNotFoundError, match="no IVF-PQ index at"):
        sim.ivfpq_read_model(spark, str(tmp_path / "nowhere"))


def test_clustered_fixture_recall_all_families(spark, sf_dir):
    """The discriminative recall law for the non-persisted ANN
    families (r11 verdict item 2): on the planted-cluster fixture,
    LSH / IVF-Flat / PQ at their standard registry parameters must
    each reach mean recall@5 >= 0.9 vs the exact scan (measured 1.0
    at all three SFs). The registered driver row computes the same
    gates; this law pins them at the pytest SF too."""
    from sentiment_analysis_data_engineering_spark.plans.extension_queries import (
        ann_clustered_recall_families,
    )

    row = ann_clustered_recall_families(spark, sf_dir).first()
    assert row.lsh_recall_ok
    assert row.ivf_recall_ok
    assert row.pq_recall_ok
    assert row.n_exact == 5 * row.n_queries


def test_model_cache_concurrent_readers_survive_eviction(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The cache's get→LRU-touch and insert→evict compound ops are
    atomic under concurrency: with the cap forced to 1 so every other
    read evicts, parallel reader threads over two paths must never
    crash (an unguarded move_to_end after a cross-thread eviction
    raises KeyError) and every thread must decode the same model."""
    import shutil as sh
    import threading

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    p0 = str(tmp_path / "idx0")
    sim.ivfpq_write_index(emb, p0, n_cells=4)
    p1 = str(tmp_path / "idx1")
    sh.copytree(p0, p1)

    monkeypatch.setattr(sim, "MODEL_CACHE_MAX", 1)
    sim._MODEL_CACHE.clear()
    base = sim.ivfpq_read_model(spark, p0)[2]  # meta dict
    errs: list[BaseException] = []

    def reader(path):
        try:
            for _ in range(8):
                _, _, meta = sim.ivfpq_read_model(spark, path)
                assert meta == base
        except BaseException as e:  # noqa: BLE001 — collected for the main thread
            errs.append(e)

    threads = [
        threading.Thread(target=reader, args=(p,))
        for p in (p0, p1, p0, p1)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
    assert not errs, errs
    assert len(sim._MODEL_CACHE) <= 1
    sim._MODEL_CACHE.clear()


def test_index_verb_job_counts_stay_folded(spark, sf_dir, tmp_path):
    """The job-folding law: every maintenance verb's driver-sequential
    Spark-job budget is pinned, so a future change cannot silently
    reintroduce the count/collect round-trips the Observation folds
    removed. A first merge runs 5 actions — the model's 2 collects, the
    encode checkpoint, the write and the validation read-back; a
    replayed batch runs 2 (cached model, nothing written, no
    read-back). Counts are DAG-scheduler job ids, which include AQE
    stage materializations, hence the slack above the action count.
    Measured on local[4]: write 6, merge 10, replay 6, compact 4,
    delete 10, rebuild 8; the caps sit ~25% above."""
    from sentiment_analysis_data_engineering_spark.operators.observe import (
        spark_job_count,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "idx")

    def jobs(fn):
        before = spark_job_count(spark)
        fn()
        return spark_job_count(spark) - before

    assert jobs(lambda: sim.ivfpq_write_index(base, path)) <= 8
    # first merge pays the model read (2 collect jobs) + the write;
    # every artifact read-back has a declared schema, so none of these
    # verbs pays a schema-inference job
    assert jobs(lambda: sim.ivfpq_merge_index(spark, path, delta)) <= 13
    # replayed batch: cached model, no rows staged, no read-back
    assert jobs(lambda: sim.ivfpq_merge_index(spark, path, delta)) <= 8
    assert jobs(lambda: sim.ivfpq_compact_index(spark, path)) <= 5
    assert (
        jobs(lambda: sim.ivfpq_delete_ids(spark, path, delta.select("vec_id")))
        <= 13
    )
    # retrain = rebuild over a committed version: adds the read-back
    # validation
    assert jobs(lambda: sim.ivfpq_write_index(emb, path)) <= 10
    q = emb.filter(F.col("vec_id") < 5)
    probe = sim.ivfpq_probe_index(spark, path, q, emb)
    sim.evict_model_cache(path)
    from sentiment_analysis_data_engineering_spark.operators.dedup import (
        release_pinned,
    )

    release_pinned()
