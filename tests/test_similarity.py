"""Similarity search: exact top-k correctness + LSH recall."""

from __future__ import annotations

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
        for r in sim.cosine_topk(queries, emb, k=3).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in sim.lsh_cosine_topk(
            queries, emb, k=3, num_planes=12, bands=6, dim=64
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    # 6-band (2-bit) multiprobe on 12 planes: generous buckets, high recall
    assert recall >= 0.6, f"LSH recall too low: {recall}"


def test_ivf_recall_on_fixture_embeddings(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.cosine_topk(queries, emb, k=3).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in sim.ivf_cosine_topk(
            queries, emb, k=3, n_centroids=8, n_probe=4
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    # probing half the cells of a sampled quantizer: recall is high
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_ivf_deterministic(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    a = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.ivf_cosine_topk(queries, emb, k=3).collect()
    )
    b = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.ivf_cosine_topk(queries, emb, k=3).collect()
    )
    assert a == b and a


def test_hyperplane_signature_deterministic(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(20)
    sig = sim.hyperplane_signature("embedding", num_planes=8, dim=64)
    a = [r.s for r in emb.select(sig.alias("s")).collect()]
    b = [r.s for r in emb.select(sig.alias("s")).collect()]
    assert a == b


def test_kmeans_clusters_assigns_every_vector(spark, sf_dir):
    from pyspark.sql import functions as F
    from sentiment_analysis_data_engineering_spark.operators import similarity as sim
    from sentiment_analysis_data_engineering_spark.plans.registry import load_tables

    (emb,) = load_tables(spark, sf_dir, "embeddings")
    out = sim.kmeans_clusters(emb, k=8, seed=7, max_iter=5)
    assert out.count() == emb.count()                 # total assignment
    n_clusters = out.select("cluster").distinct().count()
    assert 2 <= n_clusters <= 8                       # nondegenerate
    # assignment is a function of the vector: same call → same result
    again = sim.kmeans_clusters(emb, k=8, seed=7, max_iter=5)
    a = {r.vec_id: r.cluster for r in out.collect()}
    b = {r.vec_id: r.cluster for r in again.collect()}
    assert a == b


def test_kmeans_fit_sample_smaller_than_k_rejected(spark, sf_dir):
    import pytest
    from sentiment_analysis_data_engineering_spark.operators import similarity as sim
    from sentiment_analysis_data_engineering_spark.plans.registry import load_tables

    (emb,) = load_tables(spark, sf_dir, "embeddings")
    # a sample smaller than k cannot yield k distinct centers; <=0
    # would hand MLlib an empty fit frame — both rejected eagerly
    with pytest.raises(ValueError, match="fit_sample_rows"):
        sim.kmeans_clusters(emb, k=8, fit_sample_rows=7)
    with pytest.raises(ValueError, match="fit_sample_rows"):
        sim.kmeans_clusters(emb, k=8, fit_sample_rows=0)
    # boundary k == fit_sample_rows is legal and assigns every vector
    out = sim.kmeans_clusters(emb, k=4, seed=7, max_iter=3, fit_sample_rows=4)
    assert out.count() == emb.count()


def test_semantic_dedup_fit_sample_scales_with_k(spark, sf_dir):
    from sentiment_analysis_data_engineering_spark.operators import similarity as sim
    from sentiment_analysis_data_engineering_spark.plans.registry import load_tables

    (emb,) = load_tables(spark, sf_dir, "embeddings")
    # a caller-supplied sample FLOOR below 32*k must not cap the
    # distinct-center count: semantic_dedup auto-raises it, so a large
    # k with a small floor still conserves every vector (would raise
    # in kmeans_clusters if passed through unscaled)
    out = sim.semantic_dedup(
        emb, k=16, threshold=0.95, seed=7, fit_sample_rows=8
    )
    assert out.count() == emb.count()


def test_signatures_arrow_matches_expression_form(spark):
    # the arrow matmul pass must produce the SAME packed long as the
    # literal-folded expression sketch, bit for bit, on real data
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    arrow = sim.signatures_arrow(
        emb, "embedding", "vec_id", num_planes=12, dim=64
    )
    sql = emb.select(
        F.col("vec_id").alias("_id"),
        sim.hyperplane_signature("embedding", num_planes=12, dim=64).alias("_sig"),
    )
    assert arrow.exceptAll(sql).isEmpty() and sql.exceptAll(arrow).isEmpty()


def test_lsh_ivf_engines_agree(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    for fn, kw in (
        (sim.lsh_cosine_topk, dict(k=3, num_planes=12, bands=6, dim=64)),
        (sim.ivf_cosine_topk, dict(k=3, n_centroids=8, n_probe=3)),
        # more probes than cells: each query probes every cell
        (sim.ivf_cosine_topk, dict(k=3, n_centroids=2, n_probe=4)),
    ):
        a = fn(q, emb, vec_col="embedding", id_col="vec_id", engine="arrow", **kw)
        s = fn(q, emb, vec_col="embedding", id_col="vec_id", engine="sql", **kw)
        assert a.exceptAll(s).isEmpty() and s.exceptAll(a).isEmpty(), fn.__name__


def test_quantize_int8_stats_bounds_and_zero_vector(spark):
    from sentiment_analysis_data_engineering_spark.operators.similarity import (
        quantize_int8_stats,
    )

    rows = [
        (1, [1.0, -0.5, 0.25, 0.0], "a"),
        (2, [0.0, 0.0, 0.0, 0.0], "z"),   # all-zero: scale 0 -> rmse 0
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label string")
    out = {r.grp: r for r in quantize_int8_stats(
        df, vec_col="embedding", id_col="vec_id", group_col="label").collect()}
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
        [(1, vec)], "vec_id long, embedding array<float>")
    got = quantize_int8_stats(df, vec_col="embedding", id_col="vec_id").first()
    assert got.grp == "all" and got.max_rmse == 0.0


def test_semantic_dedup_two_tight_clusters(spark):
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
        for r in sim.semantic_dedup(
            df, vec_col="embedding", id_col="vec_id",
            k=2, threshold=0.9, seed=7,
        ).collect()
    }
    assert out == {1: True, 2: False, 3: False, 10: True, 11: False, 20: True}


def test_semantic_dedup_oversized_cluster_guard(spark):
    # with max_cluster_size below the cluster population, members are
    # excluded from pairing and ALL kept
    rows = [(i, [1.0, 0.0]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = sim.semantic_dedup(
        df, vec_col="embedding", id_col="vec_id",
        k=2, threshold=0.5, seed=7, max_cluster_size=3,
    )
    assert all(r.keep for r in out.collect())
    assert out.count() == 6


def test_pq_recall_on_fixture_embeddings(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.cosine_topk(queries, emb, k=3).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in sim.pq_cosine_topk(
            queries, emb, k=3, m=8, n_codes=64, n_rerank=96
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"PQ recall too low: {recall}"


def test_pq_full_rerank_equals_exact(spark, sf_dir):
    """With n_rerank >= corpus size the exact re-rank sees every
    candidate, so PQ must return the exact top-k ID-for-ID — pins the
    ADC table indexing (a wrong codeword offset silently degrades
    recall but cannot survive this equality)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    n = emb.count()
    exact = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.cosine_topk(queries, emb, k=3).collect()
    )
    approx = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.pq_cosine_topk(
            queries, emb, k=3, m=8, n_codes=16, n_rerank=n
        ).collect()
    )
    assert exact == approx


def test_pq_deterministic(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    a = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.pq_cosine_topk(queries, emb, k=3).collect()
    )
    b = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.pq_cosine_topk(queries, emb, k=3).collect()
    )
    assert a == b and a


def test_pq_rejects_indivisible_subspaces(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="not divisible"):
        sim.pq_cosine_topk(emb.limit(5), emb, m=7).collect()


def test_ivfpq_recall_on_fixture_embeddings(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.cosine_topk(queries, emb, k=3).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in sim.ivfpq_cosine_topk(queries, emb, k=3).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF-PQ recall too low: {recall}"


def test_ivfpq_all_cells_full_rerank_equals_exact(spark, sf_dir):
    """Probing EVERY cell with n_rerank >= corpus removes both
    approximations, so IVF-PQ must return the exact top-k — pins the
    residual table indexing and the cell-join plumbing at once."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    n = emb.count()
    exact = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.cosine_topk(queries, emb, k=3).collect()
    )
    approx = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.ivfpq_cosine_topk(
            queries, emb, k=3, n_cells=8, n_probe=8, n_rerank=n
        ).collect()
    )
    assert exact == approx


def test_ivfpq_deterministic(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    a = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.ivfpq_cosine_topk(queries, emb, k=3).collect()
    )
    b = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.ivfpq_cosine_topk(queries, emb, k=3).collect()
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


def test_crossencoder_rerank_matches_python_reference(spark, vectors):
    # candidates = all non-self pairs; the reranker's scores must match
    # the pure-Python fold exactly (rounded to the output's 6dp)
    ids = [r.vec_id for r in vectors.select("vec_id").collect()]
    vecs = {r.vec_id: [float(x) for x in r.embedding]
            for r in vectors.collect()}
    cand = spark.createDataFrame(
        [(q, c) for q in ids for c in ids if q != c],
        "query_id long, neighbor_id long",
    )
    out = sim.crossencoder_rerank_topk(
        cand, vectors, vectors, k=3, dim=4
    ).collect()
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


def test_crossencoder_rerank_subset_and_jvm_agreement(spark, vectors):
    # restrict candidates to a 2-neighbor slate per query: the reranker
    # may only reorder that slate, and the Arrow scorer must agree with
    # the JVM expression bit-for-bit (equality WITHOUT rounding slack)
    cand = spark.createDataFrame(
        [(0, 10), (0, 20), (1, 2), (1, 11)],
        "query_id long, neighbor_id long",
    )
    out = sim.crossencoder_rerank_topk(cand, vectors, vectors, k=5, dim=4)
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


def test_ivfpq_index_probe_equals_adhoc_query(spark, sf_dir, tmp_path):
    """An index built from the corpus and probed is the SAME arithmetic
    as the ad-hoc ivfpq_cosine_topk (shared train/encode/qtab stages):
    identical (query, neighbor, rank) sets, bit-for-bit, once both fit
    from the same sample draw (the persisted index trains hash-ordered
    — see _sample_normalized — so the ad-hoc side passes
    sample_order="hash" here)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "idx")
    stats = sim.ivfpq_write_index(emb, path)
    assert stats["n_indexed"] == emb.count()
    probe = sorted(
        (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 12))
        for r in sim.ivfpq_probe_index(spark, path, queries, emb, k=3).collect()
    )
    adhoc = sorted(
        (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 12))
        for r in sim.ivfpq_cosine_topk(
            queries, emb, k=3, sample_order="hash"
        ).collect()
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
        for r in sim.ivfpq_probe_index(spark, path, queries, emb, k=3).collect()
    )
    fresh = spark.newSession()
    emb2 = fresh.read.parquet(f"{sf_dir}/embeddings.parquet")
    q2 = emb2.filter(F.col("vec_id") < 3)
    other = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.ivfpq_probe_index(fresh, path, q2, emb2, k=3).collect()
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
    codes = spark.read.parquet(f"{path}/codes")
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
        spark.read.parquet(f"{path}/codes")
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
        for r in sim.cosine_topk(queries, emb, k=3).collect()
    )
    probe = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.ivfpq_probe_index(
            spark, path, queries, emb, k=3, n_probe=8, n_rerank=n
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
    codes = spark.read.parquet(f"{path}/codes")
    assert codes.count() == n_all - n_victims
    assert (
        codes.join(F.broadcast(victims), codes.neighbor_id == victims.vec_id)
        .count()
        == 0
    )
    queries = emb.filter(F.col("vec_id") < 3)
    probe = sim.ivfpq_probe_index(
        spark, path, queries, emb, k=5, n_probe=16, n_rerank=n_all
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
    assert spark.read.parquet(f"{path}/codes").count() == emb.count() - 4


def test_ivfpq_delete_ids_emptied_cell_directory_removed(spark, tmp_path):
    """Deleting EVERY row of a cell must remove the cell's directory:
    dynamic partition overwrite only replaces partitions present in
    the output, so without the explicit remove the stale files would
    resurrect the deleted ids."""
    import pyspark.sql.functions as sf

    rows = [(i, [float((i * 7 + d) % 13) for d in range(16)]) for i in range(64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(df, path, n_cells=4, m=4, n_codes=8)
    codes = spark.read.parquet(f"{path}/codes")
    one_cell = codes.select("cell").first().cell
    cell_ids = [
        r.neighbor_id
        for r in codes.filter(sf.col("cell") == one_cell).collect()
    ]
    d = sim.ivfpq_delete_ids(spark, path, cell_ids)
    assert d["n_deleted"] == len(cell_ids) and d["n_cells_emptied"] >= 1
    import os

    assert not os.path.exists(f"{path}/codes/cell={one_cell}")
    after = spark.read.parquet(f"{path}/codes")
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
    codes1 = spark.read.parquet(f"{path}/codes")
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
        for r in spark.read.parquet(f"{path}/codes").collect()
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
        for r in sim.cosine_topk(queries, merged_corpus, k=3).collect()
    )
    probe = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.ivfpq_probe_index(
            spark, path, queries, merged_corpus,
            k=3, n_probe=16, n_rerank=n_all,
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
    codes = spark.read.parquet(f"{path}/codes")
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
    with zeroed stats (and never touches the index files), an empty
    query set probes to an empty frame — no isin([])/emptiness traps."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(emb, path)
    before = sorted(spark.read.parquet(f"{path}/codes").inputFiles())
    empty = emb.filter(F.col("vec_id") < 0)
    assert sim.ivfpq_merge_index(spark, path, empty) == {
        "n_batch": 0, "n_added": 0, "n_already": 0, "n_id_conflicts": 0,
    }
    assert sorted(spark.read.parquet(f"{path}/codes").inputFiles()) == before
    assert sim.ivfpq_probe_index(spark, path, empty, emb, k=3).count() == 0


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
        codes = spark.read.parquet(f"{path}/codes")
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
        for r in sim.ivfpq_probe_index(spark, path, queries, emb, k=3).collect()
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
        for r in sim.ivfpq_probe_index(spark, path, queries, emb, k=3).collect()
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
            for r in spark.read.parquet(f"{path}/codes").collect()
        )

    assert codes_of(str(tmp_path / "a")) == codes_of(str(tmp_path / "b"))
    # a well-formed batch reports zero conflicts
    m3 = build_and_merge(str(tmp_path / "c"), delta)
    assert m3["n_id_conflicts"] == 0


def test_ivfpq_compact_crash_before_swap_preserves_index(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Crash-injection law (r9 verdict item 2): kill compaction AFTER
    the staging write but BEFORE the swap — the live index must serve
    the OLD cells byte-intact, and the next maintenance verb heals the
    leftover staging so a rerun completes cleanly."""
    import os

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    queries = emb.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(base, path)
    sim.ivfpq_merge_index(spark, path, delta)

    def snapshot():
        return sorted(
            (r.neighbor_id, int(r.cell), tuple(r.codes))
            for r in spark.read.parquet(f"{path}/codes").collect()
        )

    before = snapshot()
    probe_before = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.ivfpq_probe_index(spark, path, queries, emb, k=3).collect()
    )

    def boom(*a, **k):
        raise RuntimeError("injected crash between stage and swap")

    monkeypatch.setattr(sim, "_swap_staged_cells", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        sim.ivfpq_compact_index(spark, path)
    monkeypatch.undo()

    # live index byte-identical; staged bytes are sitting unswapped
    assert snapshot() == before
    assert os.path.exists(f"{path}/codes_staging")
    probe_mid = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.ivfpq_probe_index(spark, path, queries, emb, k=3).collect()
    )
    assert probe_mid == probe_before

    # rerun: recovery discards the stale staging, compaction completes
    stats = sim.ivfpq_compact_index(spark, path)
    assert stats["n_cells_compacted"] > 0
    assert snapshot() == before
    assert not os.path.exists(f"{path}/codes_staging")
    assert not os.path.exists(f"{path}/codes_trash")


def test_ivfpq_recover_rolls_back_mid_swap_cell(spark, sf_dir, tmp_path):
    """Crash INSIDE the per-cell swap window (live renamed to trash,
    replacement not yet installed): recovery must roll that cell back
    from codes_trash, restoring the pre-verb state exactly — no crash
    point loses rows."""
    import os
    import shutil as sh

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(emb, path)

    def snapshot():
        return sorted(
            (r.neighbor_id, int(r.cell), tuple(r.codes))
            for r in spark.read.parquet(f"{path}/codes").collect()
        )

    before = snapshot()
    cell = int(
        spark.read.parquet(f"{path}/codes").select("cell").first().cell
    )
    # hand-craft the one-rename-wide crash state
    os.makedirs(f"{path}/codes_trash", exist_ok=True)
    sh.move(f"{path}/codes/cell={cell}", f"{path}/codes_trash/cell={cell}")
    os.makedirs(f"{path}/codes_staging/cell={cell}", exist_ok=True)
    assert len(snapshot()) < len(before)  # the cell really is missing

    rec = sim.ivfpq_recover_index(spark, path)
    assert rec["n_cells_rolled_back"] == 1
    assert rec["n_staging_discarded"] == 1
    assert snapshot() == before
    assert not os.path.exists(f"{path}/codes_trash")
    assert not os.path.exists(f"{path}/codes_staging")


def test_ivfpq_merge_heals_interrupted_swap_before_dedup(
    spark, sf_dir, tmp_path
):
    """Merge must recover an interrupted swap BEFORE its anti-join: a
    rolled-back-able missing cell would otherwise be invisible to the
    dedup probe and its ids re-appended — duplicated once healed."""
    import os
    import shutil as sh

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(emb, path)
    cell = int(
        spark.read.parquet(f"{path}/codes").select("cell").first().cell
    )
    os.makedirs(f"{path}/codes_trash", exist_ok=True)
    sh.move(f"{path}/codes/cell={cell}", f"{path}/codes_trash/cell={cell}")

    # re-merge the WHOLE corpus against the damaged index: with the
    # heal in place every id is already present, so nothing is added
    m = sim.ivfpq_merge_index(spark, path, emb.select("vec_id", "embedding"))
    assert m["n_added"] == 0 and m["n_already"] == emb.count()
    agg = spark.read.parquet(f"{path}/codes").agg(
        F.count("*").alias("n"), F.countDistinct("neighbor_id").alias("nd")
    ).first()
    assert agg.n == agg.nd == emb.count()


def test_ivfpq_delete_crash_before_swap_preserves_index(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Same crash-injection law for delete: a kill between the staging
    write and the swap leaves every victim still served; the rerun
    completes the delete."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(emb, path)
    victims = emb.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    n_victims = victims.count()
    n_all = emb.count()

    def boom(*a, **k):
        raise RuntimeError("injected crash between stage and swap")

    monkeypatch.setattr(sim, "_swap_staged_cells", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        sim.ivfpq_delete_ids(spark, path, victims)
    monkeypatch.undo()
    assert spark.read.parquet(f"{path}/codes").count() == n_all  # intact

    d = sim.ivfpq_delete_ids(spark, path, victims)  # rerun completes
    assert d["n_deleted"] == n_victims
    codes = spark.read.parquet(f"{path}/codes")
    assert codes.count() == n_all - n_victims
    assert codes.join(
        F.broadcast(victims), codes.neighbor_id == victims.vec_id
    ).count() == 0


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


def test_ivfpq_drift_audit_sample_mod_replays_exact_subsample(
    spark, sf_dir, tmp_path
):
    """The sampled audit IS the exact audit over the deterministic
    xxhash64(id)%mod==0 subsample — bit-identical, every run (the law
    behind using it as the cheap streaming retrain-trigger check)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(emb, path)
    mod = 3
    sampled = sorted(
        tuple(r)
        for r in sim.ivfpq_drift_audit(
            spark, path, emb, sample_mod=mod
        ).collect()
    )
    # independent replay: filter the corpus to the sampled ids, audit
    # exactly, and drop index rows outside the sample the same way
    keep = F.pmod(F.xxhash64(F.col("vec_id")), F.lit(mod)) == 0
    subset = emb.filter(keep)
    n_sample = subset.count()
    assert 0 < n_sample < emb.count()
    exact_on_subset = {
        r.segment: r
        for r in sim.ivfpq_drift_audit(spark, path, subset).collect()
    }["all"]  # the full audit of a partial corpus also reports orphans
    by_seg = {t[0]: t for t in sampled}
    assert by_seg["all"][1] == n_sample
    assert by_seg["all"][4] == exact_on_subset.sum_qerr_micro
    # unmatched index rows were excluded by the codes-side filter, not
    # dumped into __unaudited__ — the sample is symmetric on both sides
    assert set(by_seg) == {"all"}
    # determinism: a second run is bit-identical
    again = sorted(
        tuple(r)
        for r in sim.ivfpq_drift_audit(
            spark, path, emb, sample_mod=mod
        ).collect()
    )
    assert again == sampled


def test_ivfpq_rebuild_crash_before_swap_preserves_model(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Retraining over an EXISTING index is staged + swapped like the
    cell maintenance verbs (r10): a kill after the staged rebuild but
    before the swap leaves the OLD model and codes serving
    byte-identically, and the rerun completes."""
    import os

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    base = emb.filter(F.col("vec_id") % 5 != 0)
    queries = emb.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(base, path)

    def model_snapshot():
        C, books, meta = sim.ivfpq_read_model(spark, path)
        return C.tolist(), [b.tolist() for b in books], meta

    def probe():
        return sorted(
            (r.query_id, r.neighbor_id, r.rank)
            for r in sim.ivfpq_probe_index(
                spark, path, queries, emb, k=3
            ).collect()
        )

    old_model = model_snapshot()
    old_probe = probe()

    def boom(*a, **k):
        raise RuntimeError("injected crash between rebuild stage and swap")

    monkeypatch.setattr(sim, "_swap_rebuild", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        sim.ivfpq_write_index(emb, path)  # retrain over the live index
    monkeypatch.undo()

    # the staged bytes sit unswapped — until the first read arrives
    assert os.path.exists(f"{path}/_rebuild_staging")
    assert model_snapshot() == old_model  # old model fully intact
    assert probe() == old_probe
    # r11: the read itself healed the crash — stale staging discarded
    # (reads no longer wait for the next maintenance writer)
    assert not os.path.exists(f"{path}/_rebuild_staging")

    # rerun: recovery discards any stale stage, the rebuild completes
    stats = sim.ivfpq_write_index(emb, path)
    assert stats["n_indexed"] == emb.count()
    assert not os.path.exists(f"{path}/_rebuild_staging")
    assert not os.path.exists(f"{path}/_rebuild_trash")
    codes = spark.read.parquet(f"{path}/codes")
    assert codes.count() == emb.count()


def test_ivfpq_rebuild_mid_swap_rolls_back_whole_model(
    spark, sf_dir, tmp_path
):
    """A crash INSIDE the rebuild swap (some artifacts moved to trash,
    some not) must roll back to the COMPLETE old model — never a mix
    of new centroids with old codebooks."""
    import os
    import shutil as sh

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    base = emb.filter(F.col("vec_id") % 5 != 0)
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(base, path)
    C0, B0, meta0 = sim.ivfpq_read_model(spark, path)

    # hand-craft the mid-swap state: centroids moved to trash, a
    # different staged centroids installed live, codes untouched
    os.makedirs(f"{path}/_rebuild_trash", exist_ok=True)
    sh.move(f"{path}/centroids", f"{path}/_rebuild_trash/centroids")
    os.makedirs(f"{path}/_rebuild_staging", exist_ok=True)
    spark.createDataFrame(
        [(i, [0.0] * meta0["dim"]) for i in range(meta0["n_cells"])],
        "cell long, vec array<double>",
    ).write.parquet(f"{path}/centroids")

    rec = sim.ivfpq_recover_index(spark, path)
    assert rec["n_rebuild_rolled_back"] >= 1
    C1, B1, meta1 = sim.ivfpq_read_model(spark, path)
    assert C1.tolist() == C0.tolist() and meta1 == meta0
    assert [b.tolist() for b in B1] == [b.tolist() for b in B0]
    assert not os.path.exists(f"{path}/_rebuild_trash")
    assert not os.path.exists(f"{path}/_rebuild_staging")


# ---------------------------------------------------------------------------
# Single-writer lock (r10 verdict item 1) + read-side heal + model cache
# ---------------------------------------------------------------------------


def _make_lock(path: str, *, age_sec: float = 0.0) -> str:
    """Fabricate ANOTHER process's lock file (bypassing _HELD_LOCKS),
    optionally back-dated so the lease logic sees it as stale."""
    import json
    import os
    import time

    lock = f"{path}/_index_write_lock"
    os.makedirs(path, exist_ok=True)
    with open(lock, "w") as f:
        json.dump({"host": "other-host", "pid": 99999}, f)
    if age_sec:
        t = time.time() - age_sec
        os.utime(lock, (t, t))
    return lock


def test_index_lock_blocks_second_writer(spark, sf_dir, tmp_path):
    """The single-writer invariant is ENFORCED, not documented: every
    maintenance verb fails loudly when another writer's live lock is
    present — two concurrent maintainers can no longer interleave
    recover/stage/swap into silent corruption."""
    import os

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(emb.filter(F.col("vec_id") % 5 != 0), path)
    assert not os.path.exists(f"{path}/_index_write_lock")  # released

    _make_lock(path)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    with pytest.raises(sim.IndexWriteLockError, match="single-writer"):
        sim.ivfpq_merge_index(spark, path, delta)
    with pytest.raises(sim.IndexWriteLockError):
        sim.ivfpq_compact_index(spark, path)
    with pytest.raises(sim.IndexWriteLockError):
        sim.ivfpq_delete_ids(spark, path, [0])
    with pytest.raises(sim.IndexWriteLockError):
        sim.ivfpq_write_index(emb, path)  # rebuild is a writer too
    # the blocked verbs changed nothing — the foreign lock is intact
    # and the index still serves the base rows only
    assert os.path.exists(f"{path}/_index_write_lock")
    n = spark.read.parquet(f"{path}/codes").count()
    assert n == emb.filter(F.col("vec_id") % 5 != 0).count()


def test_index_lock_stale_lease_is_broken_and_healed(
    spark, sf_dir, tmp_path
):
    """Crash-with-held-lock recovers via the lease: a lock older than
    INDEX_LOCK_LEASE_SEC is presumed a crashed writer's — the next
    verb breaks it, heals the crash remnants on entry, completes, and
    releases cleanly."""
    import os
    import shutil as sh

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(emb, path)
    before = sorted(
        (r.neighbor_id, int(r.cell), tuple(r.codes))
        for r in spark.read.parquet(f"{path}/codes").collect()
    )
    # crashed writer: mid-swap cell in trash + a held (but stale) lock
    cell = int(
        spark.read.parquet(f"{path}/codes").select("cell").first().cell
    )
    os.makedirs(f"{path}/codes_trash", exist_ok=True)
    sh.move(f"{path}/codes/cell={cell}", f"{path}/codes_trash/cell={cell}")
    _make_lock(path, age_sec=sim.INDEX_LOCK_LEASE_SEC + 60)

    m = sim.ivfpq_merge_index(spark, path, emb)  # breaks the stale lease
    assert m["n_added"] == 0  # entry recovery restored the cell first
    after = sorted(
        (r.neighbor_id, int(r.cell), tuple(r.codes))
        for r in spark.read.parquet(f"{path}/codes").collect()
    )
    assert after == before
    assert not os.path.exists(f"{path}/codes_trash")
    assert not os.path.exists(f"{path}/_index_write_lock")


def test_index_lock_released_on_error_and_reentrant(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The lock must release on ANY exit — including a crash inside
    the verb — and composed verbs (reembed = delete + merge) must run
    under ONE reentrant lock instead of deadlocking on themselves."""
    import os

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(emb.filter(F.col("vec_id") % 5 != 0), path)
    sim.ivfpq_merge_index(
        spark, path, emb.filter(F.col("vec_id") % 5 == 0)
    )

    def boom(*a, **k):
        raise RuntimeError("injected crash inside the locked verb")

    monkeypatch.setattr(sim, "_swap_staged_cells", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        sim.ivfpq_compact_index(spark, path)
    monkeypatch.undo()
    assert not os.path.exists(f"{path}/_index_write_lock")  # released
    assert not any(p == path for (_, p) in sim._HELD_LOCKS)

    # reentrancy: reembed (delete + merge under one lock) completes
    changed = emb.filter(F.col("vec_id") % 7 == 1)
    r = sim.ivfpq_reembed(spark, path, changed)
    assert r["n_deleted"] == r["n_inserted"] == changed.count()
    assert not os.path.exists(f"{path}/_index_write_lock")


def test_reader_heals_interrupted_swap(spark, sf_dir, tmp_path):
    """Read paths self-heal a CRASHED writer's interrupted swap (r10
    advice item 1): a probe arriving after the crash — with no further
    maintenance writer ever scheduled — restores the rolled-back cell
    instead of silently serving the mid-swap mix forever."""
    import os
    import shutil as sh

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(emb, path)
    n_all = emb.count()
    cell = int(
        spark.read.parquet(f"{path}/codes").select("cell").first().cell
    )
    os.makedirs(f"{path}/codes_trash", exist_ok=True)
    sh.move(f"{path}/codes/cell={cell}", f"{path}/codes_trash/cell={cell}")
    assert spark.read.parquet(f"{path}/codes").count() < n_all

    queries = emb.filter(F.col("vec_id") < 3)
    out = sim.ivfpq_probe_index(spark, path, queries, emb, k=3)
    assert out.count() > 0  # the read itself succeeded...
    # ...and healed the index as a side effect: cell restored, trash
    # gone, no lock left behind
    assert spark.read.parquet(f"{path}/codes").count() == n_all
    assert not os.path.exists(f"{path}/codes_trash")
    assert not os.path.exists(f"{path}/_index_write_lock")


def test_reader_backs_off_under_live_writer_lock(spark, sf_dir, tmp_path):
    """A LIVE lock means the swap remnants belong to a writer mid-verb,
    not a crash — readers must NOT 'heal' (that would race the writer's
    own renames); they read as-is, bounded by the writer's commit."""
    import os
    import shutil as sh

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(emb, path)
    cell = int(
        spark.read.parquet(f"{path}/codes").select("cell").first().cell
    )
    os.makedirs(f"{path}/codes_trash", exist_ok=True)
    sh.move(f"{path}/codes/cell={cell}", f"{path}/codes_trash/cell={cell}")
    _make_lock(path)  # fresh: a live writer owns these remnants

    sim.ivfpq_read_model(spark, path)  # must not mutate
    assert os.path.exists(f"{path}/codes_trash/cell={cell}")
    assert os.path.exists(f"{path}/_index_write_lock")
    # once the 'writer' dies and its lease expires, the next read heals
    _make_lock(path, age_sec=sim.INDEX_LOCK_LEASE_SEC + 60)
    sim.ivfpq_read_model(spark, path)
    assert not os.path.exists(f"{path}/codes_trash")
    assert spark.read.parquet(f"{path}/codes").count() == emb.count()


def test_probe_model_cache_hits_and_invalidates(spark, sf_dir, tmp_path):
    """Serving-path model cache (r10 verdict item 5): the second probe
    against an unchanged index reads NO model parquet (cache hit on
    the mtime/length fingerprint) and returns identical results; a
    rebuild invalidates — the next read decodes the NEW model."""
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
        for r in sim.ivfpq_probe_index(spark, path, queries, emb, k=3).collect()
    )
    release_pinned()
    assert sim.MODEL_CACHE_STATS["misses"] == m0 + 1  # first read decodes
    r2 = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim.ivfpq_probe_index(spark, path, queries, emb, k=3).collect()
    )
    release_pinned()
    assert sim.MODEL_CACHE_STATS["hits"] == h0 + 1  # second probe: no jobs
    assert sim.MODEL_CACHE_STATS["misses"] == m0 + 1
    assert r1 == r2

    # a retrain (staged rebuild + swap) must invalidate: the fingerprint
    # changes with the swapped-in files, and the next read sees the new
    # model shape
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


def test_index_lock_ownership_is_per_thread(spark, sf_dir, tmp_path):
    """Lock ownership is keyed by THREAD, not just path (r11 advice
    medium): while one driver thread holds the write lock — exactly
    the foreachBatch-merge-on-the-stream-thread shape — a maintenance
    verb on ANOTHER thread must contend and raise, never alias the
    holder's ownership 'reentrantly'. The holder itself stays
    reentrant."""
    import os
    import threading

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(emb, path)

    assert sim._try_acquire_index_lock(spark, path)  # this thread holds
    try:
        # same thread: reentrant — the composed-verb contract
        with sim.index_write_lock(spark, path):
            pass
        assert os.path.exists(f"{path}/_index_write_lock")  # still held

        errs: list[BaseException] = []

        def contender():
            try:
                with sim.index_write_lock(spark, path):
                    errs.append(AssertionError("second thread aliased the lock"))
            except sim.IndexWriteLockError as e:
                errs.append(e)

        t = threading.Thread(target=contender)
        t.start()
        t.join(30)
        assert len(errs) == 1 and isinstance(errs[0], sim.IndexWriteLockError)
        # the contender's failed attempt must not have released our lock
        assert os.path.exists(f"{path}/_index_write_lock")
        assert sim._this_thread_holds(path)
    finally:
        sim._release_index_lock(spark, path)
    assert not os.path.exists(f"{path}/_index_write_lock")


def test_index_lock_release_verifies_token(spark, sf_dir, tmp_path):
    """A verb that outlived its lease must not delete its SUCCESSOR's
    lock on release (r11 advice low 2): release compares the on-disk
    payload token against the one written at acquire time and leaves a
    mismatched (foreign) lock untouched."""
    import json
    import os

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(emb, path)

    assert sim._try_acquire_index_lock(spark, path)
    # simulate: our lease expired, a successor broke it and installed
    # its own lock (different token) while we were still running
    lock = f"{path}/_index_write_lock"
    with open(lock, "w") as f:
        json.dump({"host": "successor", "pid": 4242, "token": "theirs"}, f)

    sim._release_index_lock(spark, path)  # must be a no-op on disk
    assert os.path.exists(lock)
    with open(lock) as f:
        assert json.load(f)["token"] == "theirs"
    assert not sim._this_thread_holds(path)  # our in-memory claim is gone
    os.remove(lock)


def test_model_cache_lru_cap_and_eviction(spark, sf_dir, tmp_path, monkeypatch):
    """The serving-path model cache is a bounded LRU (r11 verdict item
    3): one entry past the cap evicts the least-recently-served path;
    re-reading the evicted path is a fresh miss; a survivor still
    hits. evict_model_cache drops a named entry outright (temp-dir
    fixtures call it on teardown)."""
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

    for p in paths[:3]:
        sim.ivfpq_read_model(spark, p)
    assert [k for k in sim._MODEL_CACHE] == paths[:3]
    sim.ivfpq_read_model(spark, paths[0])  # hit: idx0 becomes most-recent
    assert [k for k in sim._MODEL_CACHE][-1] == paths[0]

    sim.ivfpq_read_model(spark, paths[3])  # 4th distinct path: evicts idx1
    assert sim.MODEL_CACHE_STATS["evictions"] == e0 + 1
    assert paths[1] not in sim._MODEL_CACHE
    assert len(sim._MODEL_CACHE) == 3

    m0 = sim.MODEL_CACHE_STATS["misses"]
    h0 = sim.MODEL_CACHE_STATS["hits"]
    sim.ivfpq_read_model(spark, paths[1])  # evicted: a fresh miss
    assert sim.MODEL_CACHE_STATS["misses"] == m0 + 1
    sim.ivfpq_read_model(spark, paths[0])  # survivor: still a hit
    assert sim.MODEL_CACHE_STATS["hits"] == h0 + 1

    sim.evict_model_cache(paths[0])
    assert paths[0] not in sim._MODEL_CACHE
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


def test_zombie_writer_fenced_at_commit_point(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Commit-point fence law (r12 verdict item 1): a writer whose
    lock is forcibly broken MID-VERB (its lease expired and a
    successor installed its own lock while the verb was still
    running) must raise IndexWriteLockError at its next commit point
    — BEFORE any live-index rename — and leave the index recoverable:
    the live codes are byte-identical, the orphaned staging is
    discarded by the next verb's recovery, and a rerun completes."""
    import json
    import os

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(base, path)
    sim.ivfpq_merge_index(spark, path, delta)  # fragment cells

    lock = f"{path}/_index_write_lock"
    real_counts = sim.ivfpq_cell_file_counts
    successor_token: list[str] = []

    def break_lease_then_count(spark_, p):
        # the successor: a second writer on ANOTHER thread treats the
        # running verb's lease as expired (lease_sec=0), breaks its
        # lock through the real tombstone path and installs its own —
        # exactly the zombie scenario
        import threading

        def successor():
            assert sim._try_acquire_index_lock(spark_, p, lease_sec=0.0)
            successor_token.append(
                sim._HELD_LOCKS.pop((threading.get_ident(), p))
            )

        t = threading.Thread(target=successor)
        t.start()
        t.join(60)
        return real_counts(spark_, p)

    monkeypatch.setattr(sim, "ivfpq_cell_file_counts", break_lease_then_count)
    before = sorted(
        (r.neighbor_id, int(r.cell))
        for r in spark.read.parquet(f"{path}/codes").collect()
    )
    with pytest.raises(sim.IndexWriteLockError, match="lease lost mid-verb"):
        sim.ivfpq_compact_index(spark, path)
    monkeypatch.setattr(sim, "ivfpq_cell_file_counts", real_counts)

    # the zombie aborted BEFORE any rename: live codes untouched, the
    # successor's lock intact (token-verified release left it alone)
    after = sorted(
        (r.neighbor_id, int(r.cell))
        for r in spark.read.parquet(f"{path}/codes").collect()
    )
    assert after == before
    with open(lock) as f:
        assert json.load(f)["token"] == successor_token[0]
    assert not sim._this_thread_holds(path)

    # recoverable: once the successor is done (lock gone), a rerun
    # discards the zombie's staging and compacts to one file per cell
    fs, jpath = sim._hadoop_fs(spark, path)
    fs.delete(jpath(lock), False)
    stats = sim.ivfpq_compact_index(spark, path)
    assert stats["n_cells_compacted"] > 0
    assert not os.path.exists(f"{path}/codes_staging")
    assert set(
        sim.ivfpq_cell_file_counts(spark, path).values()
    ) == {1}
    assert sorted(
        (r.neighbor_id, int(r.cell))
        for r in spark.read.parquet(f"{path}/codes").collect()
    ) == before


def test_release_claims_lock_atomically_and_restores_foreign(
    spark, sf_dir, tmp_path
):
    """Release claims the lock file by ATOMIC RENAME before inspecting
    it (r12 advice low 1 — the read-token-then-delete pair had a
    window where a breaker could install a successor's lock between
    the two steps): a matching token drops the claimed tombstone, a
    foreign token is renamed straight back, and no `.release-*`
    tombstone ever lingers on either path."""
    import json
    import os

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(emb, path)
    lock = f"{path}/_index_write_lock"

    def tombstones():
        return [
            n for n in os.listdir(path)
            if n.startswith("_index_write_lock.release-")
        ]

    # ours: claim → match → gone, no tombstone left
    assert sim._try_acquire_index_lock(spark, path)
    sim._release_index_lock(spark, path)
    assert not os.path.exists(lock)
    assert tombstones() == []

    # foreign: claim → mismatch → restored in place, no tombstone left
    import threading

    assert sim._try_acquire_index_lock(spark, path)
    successor_token: list[str] = []

    def successor():  # breaks our lease and installs its own lock
        assert sim._try_acquire_index_lock(spark, path, lease_sec=0.0)
        successor_token.append(
            sim._HELD_LOCKS.pop((threading.get_ident(), path))
        )

    t = threading.Thread(target=successor)
    t.start()
    t.join(60)
    sim._release_index_lock(spark, path)
    assert os.path.exists(lock)
    with open(lock) as f:
        assert json.load(f)["token"] == successor_token[0]
    assert tombstones() == []
    fs, jpath = sim._hadoop_fs(spark, path)
    fs.delete(jpath(lock), False)


def test_lock_mutexes_are_per_index_path():
    """The in-process acquire/release serialization is keyed per index
    path (r12 advice low 3): a slow storage RPC under one index's
    mutex must not block lock traffic on another index, so distinct
    paths must get distinct mutex objects — and repeat lookups the
    SAME object, or the mutex would not serialize anything."""
    a1 = sim._path_mutex("/idx/a")
    a2 = sim._path_mutex("/idx/a")
    b = sim._path_mutex("/idx/b")
    assert a1 is a2
    assert a1 is not b
    # and one path's held mutex leaves the other's acquirable
    with a1:
        assert b.acquire(timeout=1)
        b.release()


def test_midswap_lease_break_aborts_within_recheck_interval(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Loop-interior fence law (r13): a lease broken in the MIDDLE of
    a wide cell-swap batch — after the head fence already passed — is
    caught at the next ``FENCE_RECHECK_CELLS`` re-check instead of the
    zombie finishing the whole batch; the partial swap it leaves is
    the same per-cell old-or-new state a crash leaves, so recovery +
    rerun restore one-file-per-cell with byte-identical rows."""
    import json
    import os
    import threading

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(base, path)
    sim.ivfpq_merge_index(spark, path, delta)  # fragment many cells
    assert (
        sum(n > 1 for n in sim.ivfpq_cell_file_counts(spark, path).values())
        >= 2
    ), "law needs at least two fragmented cells to break mid-swap"
    before = sorted(
        (r.neighbor_id, int(r.cell))
        for r in spark.read.parquet(f"{path}/codes").collect()
    )

    monkeypatch.setattr(sim, "FENCE_RECHECK_CELLS", 1)
    lock = f"{path}/_index_write_lock"
    real_rename = sim._must_rename
    renames: list = []
    successor_token: list[str] = []

    def rename_then_break(fs, src, dst):
        real_rename(fs, src, dst)
        renames.append(str(src))
        if len(renames) == 2:  # first cell fully swapped (trash+live)
            def successor():
                assert sim._try_acquire_index_lock(spark, path, lease_sec=0.0)
                successor_token.append(
                    sim._HELD_LOCKS.pop((threading.get_ident(), path))
                )

            t = threading.Thread(target=successor)
            t.start()
            t.join(60)

    monkeypatch.setattr(sim, "_must_rename", rename_then_break)
    with pytest.raises(sim.IndexWriteLockError, match="lease lost mid-verb"):
        sim.ivfpq_compact_index(spark, path)
    monkeypatch.setattr(sim, "_must_rename", real_rename)

    # the i=1 re-check caught it: exactly one cell's pair of swap
    # renames ran (release's atomic-claim restore of the successor's
    # lock also routes through _must_rename — excluded by path), the
    # rest of the batch never committed, and the successor's lock
    # survived the zombie's release untouched
    assert [r for r in renames if "/codes" in r] == renames[:2]
    assert len([r for r in renames if "/codes" in r]) == 2
    with open(lock) as f:
        assert json.load(f)["token"] == successor_token[0]
    assert not sim._this_thread_holds(path)
    # compaction stages identical rows, so even the half-swapped view
    # is row-identical — mid-swap probes were never wrong
    assert sorted(
        (r.neighbor_id, int(r.cell))
        for r in spark.read.parquet(f"{path}/codes").collect()
    ) == before

    # recoverable: lock clears, recovery rolls the lone swapped cell
    # back from trash and discards staging, rerun compacts everything
    fs, jpath = sim._hadoop_fs(spark, path)
    fs.delete(jpath(lock), False)
    stats = sim.ivfpq_compact_index(spark, path)
    assert stats["n_cells_compacted"] >= 2
    assert not os.path.exists(f"{path}/codes_staging")
    assert not os.path.exists(f"{path}/codes_trash")
    assert set(sim.ivfpq_cell_file_counts(spark, path).values()) == {1}
    assert sorted(
        (r.neighbor_id, int(r.cell))
        for r in spark.read.parquet(f"{path}/codes").collect()
    ) == before


def test_fence_retry_absorbs_transient_missing_lock(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Fence false-positive tolerance (r13 review): ONE failed or
    empty token read must not kill a healthy verb — a transient RPC
    hiccup or another holder's momentary release-claim makes a single
    read come back None. The fence retries a missing token and passes
    when it reappears; a PERSISTENTLY missing lock and a STABLE
    foreign token still abort, each naming its evidence class."""
    import json
    import os
    import threading

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(emb, path)
    lock = f"{path}/_index_write_lock"
    aside = f"{path}/_index_write_lock.aside"
    monkeypatch.setattr(sim, "FENCE_RETRY_SLEEP_SEC", 0.2)

    assert sim._try_acquire_index_lock(spark, path)
    try:
        # transient: the lock vanishes for one read, then reappears
        os.rename(lock, aside)
        t = threading.Timer(0.1, lambda: os.rename(aside, lock))
        t.start()
        sim._fence_commit(spark, path)  # must NOT raise
        t.join()
        assert os.path.exists(lock)

        # persistently missing: aborts, naming the evidence
        os.remove(lock)
        with pytest.raises(
            sim.IndexWriteLockError, match="missing/unreadable"
        ):
            sim._fence_commit(spark, path)

        # stable foreign token: aborts fast, naming the evidence
        # (drop the checksum sidecar of the removed lock, or Hadoop's
        # LocalFileSystem rejects the hand-written replacement as a
        # checksum mismatch and this reads as unreadable instead)
        crc = f"{path}/._index_write_lock.crc"
        if os.path.exists(crc):
            os.remove(crc)
        with open(lock, "w") as f:
            json.dump({"token": "someone-elses-token"}, f)
        with pytest.raises(sim.IndexWriteLockError, match="read twice"):
            sim._fence_commit(spark, path)
    finally:
        sim._HELD_LOCKS.pop(sim._lock_key(path), None)
        if os.path.exists(lock):
            os.remove(lock)


def test_zombie_release_never_touches_successor_lock(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Release pre-reads the token before claiming (r13 review): on
    the common zombie-exit path the successor's live lock must never
    be renamed at all — the r12 claim-every-lock release made a
    HEALTHY successor's lock vanish for the duration of two remote
    renames, long enough for its fence to misfire or a third acquirer
    to displace it. Zero rename calls against a foreign lock."""
    import json
    import threading

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(emb, path)
    lock = f"{path}/_index_write_lock"

    assert sim._try_acquire_index_lock(spark, path)
    successor_token: list[str] = []

    def successor():  # breaks our lease and installs its own lock
        assert sim._try_acquire_index_lock(spark, path, lease_sec=0.0)
        successor_token.append(
            sim._HELD_LOCKS.pop((threading.get_ident(), path))
        )

    t = threading.Thread(target=successor)
    t.start()
    t.join(60)

    fs, jpath = sim._hadoop_fs(spark, path)
    real_rename = fs.rename
    rename_calls: list = []

    class CountingFs:
        def __getattr__(self, name):
            if name == "rename":
                def counted(src, dst):
                    rename_calls.append(str(src))
                    return real_rename(src, dst)
                return counted
            return getattr(fs, name)

    monkeypatch.setattr(
        sim, "_hadoop_fs", lambda s, p: (CountingFs(), jpath)
    )
    sim._release_index_lock(spark, path)
    assert rename_calls == []  # pre-read mismatch: left untouched
    with open(lock) as f:
        assert json.load(f)["token"] == successor_token[0]
    fs.delete(jpath(lock), False)


def test_merge_staged_append_crash_converges(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Staged-append commit law (r13 review): the merge batch lands in
    codes_append_staging and moves into live cells by per-file
    renames, so a crash mid-move leaves staged-only remnants plus a
    partial move — recovery discards the stage, and a RE-MERGE
    converges to exactly the full corpus because the anti-join
    re-admits only the still-missing ids."""
    import os

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    n_total = emb.count()
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(base, path)

    real_rename = sim._must_rename
    moves: list = []

    def crash_after_first_move(fs, src, dst):
        if "codes_append_staging" in str(src):
            if moves:
                raise IOError("injected crash mid-move")
            moves.append(str(src))
        real_rename(fs, src, dst)

    monkeypatch.setattr(sim, "_must_rename", crash_after_first_move)
    with pytest.raises(IOError, match="injected crash mid-move"):
        sim.ivfpq_merge_index(spark, path, delta)
    monkeypatch.setattr(sim, "_must_rename", real_rename)
    assert len(moves) == 1  # exactly one staged file made it live
    assert os.path.exists(f"{path}/codes_append_staging")

    # recovery discards the stage; re-merge adds exactly the missing
    stats = sim.ivfpq_recover_index(spark, path)
    assert stats["n_staging_discarded"] == 1
    assert not os.path.exists(f"{path}/codes_append_staging")
    sim.ivfpq_merge_index(spark, path, delta)
    codes = spark.read.parquet(f"{path}/codes")
    assert codes.count() == n_total
    assert codes.select("neighbor_id").distinct().count() == n_total


def test_recovery_sweeps_orphaned_lock_tombstones(
    spark, sf_dir, tmp_path
):
    """A crash between a release/stale-break's claim rename and its
    tombstone disposal strands a .release-*/.broken-* file forever
    (r13 review); recovery deletes any such file older than the
    lease and keeps fresh ones (a live claim in flight)."""
    import os
    import time

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(emb, path)
    old = f"{path}/_index_write_lock.release-deadbeef"
    fresh = f"{path}/_index_write_lock.broken-cafebabe"
    for p in (old, fresh):
        with open(p, "w") as f:
            f.write("{}")
    stale_ts = time.time() - sim.INDEX_LOCK_LEASE_SEC - 60
    os.utime(old, (stale_ts, stale_ts))
    sim.ivfpq_recover_index(spark, path)
    assert not os.path.exists(old)
    assert os.path.exists(fresh)
    os.remove(fresh)


def test_oversized_lock_payload_fails_loudly_but_release_survives(
    spark, sf_dir, tmp_path
):
    """The 1 MiB payload guard is a METADATA length check before any
    read (r13 review: the byte-loop cap alone left commons-io free to
    slurp a multi-GB corrupt file and silently resolve None), and
    release — which runs in finally blocks — swallows it best-effort
    instead of masking the verb's real exception."""
    import os

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(emb, path)
    lock = f"{path}/_index_write_lock"
    fs, jpath = sim._hadoop_fs(spark, path)

    with open(lock, "wb") as f:
        f.write(b"x" * ((1 << 20) + 1))
    with pytest.raises(sim._LockPayloadTooLargeError):
        sim._read_token_file(spark, fs, jpath(lock))

    # a holder releasing against the corrupt lock: no raise, lock left
    sim._HELD_LOCKS[sim._lock_key(path)] = "mytoken"
    sim._release_index_lock(spark, path)  # must not raise
    assert os.path.exists(lock)
    assert not sim._this_thread_holds(path)
    os.remove(lock)


def test_evict_model_cache_drops_path_mutex():
    """evict_model_cache bounds _PATH_MUTEXES the same way it bounds
    the model cache (r13 review): throwaway temp-dir paths must not
    accrete a Lock per path for the driver's lifetime."""
    p = "/idx/throwaway"
    sim._path_mutex(p)
    assert p in sim._PATH_MUTEXES
    sim.evict_model_cache(p)
    assert p not in sim._PATH_MUTEXES


def test_evict_model_cache_retains_mutex_in_use():
    """The r13-review convention ("only evict once no verb is in
    flight") is enforced, not just documented (r13 advice low 3): a
    held lease or a locked mutex RETAINS the _PATH_MUTEXES entry, so
    a misuse degrades to one leaked entry instead of two threads
    holding two different mutexes for the same path."""
    p = "/idx/in-use"

    # case 1: some thread holds the path's lease
    mutex = sim._path_mutex(p)
    sim._HELD_LOCKS[sim._lock_key(p)] = "tok"
    try:
        sim.evict_model_cache(p)
        assert sim._PATH_MUTEXES.get(p) is mutex  # retained, SAME object
    finally:
        sim._HELD_LOCKS.pop(sim._lock_key(p), None)

    # case 2: the mutex itself is locked (verb mid check/break/create)
    with mutex:
        sim.evict_model_cache(p)
        assert sim._PATH_MUTEXES.get(p) is mutex
    # idle again: eviction proceeds
    sim.evict_model_cache(p)
    assert p not in sim._PATH_MUTEXES


def test_recovery_counts_each_staging_area_discarded(
    spark, sf_dir, tmp_path
):
    """n_staging_discarded counts staging AREAS (r13 advice low 2): a
    crash that leaves BOTH codes_staging and codes_append_staging
    reports 2, not 1."""
    import os

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(emb, path)
    os.makedirs(f"{path}/codes_staging/cell=0", exist_ok=True)
    os.makedirs(f"{path}/codes_append_staging", exist_ok=True)
    rec = sim.ivfpq_recover_index(spark, path)
    assert rec["n_staging_discarded"] == 2
    assert not os.path.exists(f"{path}/codes_staging")
    assert not os.path.exists(f"{path}/codes_append_staging")


def test_tombstone_staleness_from_name_not_inherited_mtime(
    spark, sf_dir, tmp_path
):
    """Tombstones are created by RENAMING a lock file, and rename
    preserves the source's mtime — which is by definition lease-stale
    when a breaker tombstones it. The sweep therefore judges
    staleness from the creation time encoded in the tombstone NAME
    (r13 advice low 4): a FRESH tombstone whose mtime is ancient
    survives, a stale-named one with a fresh mtime goes."""
    import os
    import time

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "idx")
    sim.ivfpq_write_index(emb, path)
    now_ms = int(time.time() * 1000)
    stale_ms = now_ms - int((sim.INDEX_LOCK_LEASE_SEC + 60) * 1000)
    # a live breaker's tombstone: fresh NAME, inherited-ancient mtime
    live = f"{path}/_index_write_lock.broken-{now_ms}-aaaa"
    # crash garbage: stale NAME, fresh mtime (e.g. a backup-restore)
    dead = f"{path}/_index_write_lock.release-{stale_ms}-bbbb"
    for p in (live, dead):
        with open(p, "w") as f:
            f.write("{}")
    old = time.time() - sim.INDEX_LOCK_LEASE_SEC - 120
    os.utime(live, (old, old))  # rename-inherited mtime
    sim.ivfpq_recover_index(spark, path)
    assert os.path.exists(live)   # name says fresh -> kept
    assert not os.path.exists(dead)  # name says stale -> swept
    os.remove(live)


def test_fence_reports_unstable_foreign_token_evidence(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Token churn (A,B,C or A,None,A — contenders racing) is its own
    evidence class (r13 advice low 1): the abort message must not
    call readable-but-unstable foreign tokens 'missing/unreadable'."""
    import pytest as _pytest

    path = str(tmp_path / "idx")
    monkeypatch.setattr(sim, "FENCE_RETRY_SLEEP_SEC", 0.01)
    sim._HELD_LOCKS[sim._lock_key(path)] = "mine"
    seq = iter(["foreign-a", "foreign-b", "foreign-c", None, "foreign-d"])
    monkeypatch.setattr(
        sim, "_read_lock_token",
        lambda spark_, fs_, jp_, p_: next(seq, None),
    )
    monkeypatch.setattr(sim, "_hadoop_fs", lambda s_, p_: (None, None))
    try:
        with _pytest.raises(
            sim.IndexWriteLockError, match="unstable"
        ):
            sim._fence_commit(spark, path)
    finally:
        sim._HELD_LOCKS.pop(sim._lock_key(path), None)


def test_index_verb_job_counts_stay_folded(spark, sf_dir, tmp_path):
    """The r15 job-folding law (r14 verdict item 1): every maintenance
    verb's driver-sequential Spark-job budget is pinned, so a future
    change cannot silently reintroduce the count/collect round-trips
    the Observation folds removed (a merge ran 8 Python-side actions
    through r14; it now runs 3 — encode checkpoint, staged write,
    validation read-back). Counts are DAG-scheduler job ids, which
    include AQE stage materializations, hence the slack above the
    action count; the caps sit ~25% over the measured steady state."""
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
    # first merge pays the model read (2 collect jobs) + the append;
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
    # retrain = staged rebuild: adds the staging read-back validation
    assert jobs(lambda: sim.ivfpq_write_index(emb, path)) <= 10
    q = emb.filter(F.col("vec_id") < 5)
    probe = sim.ivfpq_probe_index(spark, path, q, emb, k=3)
    sim.evict_model_cache(path)
    from sentiment_analysis_data_engineering_spark.operators.dedup import (
        release_pinned,
    )

    release_pinned()
