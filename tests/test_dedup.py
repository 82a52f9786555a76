"""Dedup operators on a corpus with KNOWN duplicate structure."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sentiment_analysis_data_engineering_spark.operators import dedup as dd

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat "
    "watches from the warm windowsill every single morning"
)
NEAR = BASE.replace("warm", "cold")  # one-token change → high jaccard
OTHER = (
    "completely unrelated text about spark shuffles partitions and "
    "broadcast joins at terabyte scale with adaptive execution plans"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, BASE),
        (1, BASE),                      # exact dup of 0
        (2, "  " + BASE.upper() + " "), # normalized dup of 0
        (3, NEAR),                      # near dup of 0
        (4, OTHER),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups_normalized_copies(corpus):
    out = {r.keep_id: r.n_copies for r in dd.exact_dedup(corpus, "text", "doc_id").collect()}
    assert out[0] == 3   # 0, 1, 2 collapse
    assert out[3] == 1 and out[4] == 1


def test_ngram_jaccard_finds_near_dup(corpus):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.ngram_jaccard_pairs(corpus, "text", "doc_id").collect()
    }
    assert pairs[(0, 1)] == 1.0          # exact dup
    assert (0, 3) in pairs               # near dup above threshold
    assert 0.2 <= pairs[(0, 3)] < 1.0
    assert not any(4 in p for p in pairs)  # unrelated never pairs


def test_minhash_lsh_recall_vs_exact(corpus, monkeypatch):
    monkeypatch.setattr(dd, "JACCARD_THRESHOLD", 0.5)
    exact = {
        (r.id_a, r.id_b)
        for r in dd.ngram_jaccard_pairs(corpus, "text", "doc_id").collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in dd.minhash_lsh_pairs(corpus, "text", "doc_id").collect()
    }
    # banding at r=4,b=16 has ~0.5 jaccard threshold: pairs >= 0.5 must appear
    assert exact <= lsh or exact == lsh
    assert (0, 1) in lsh


def test_minhash_lsh_verified_never_false_positive(corpus):
    out = dd.minhash_lsh_pairs(corpus, "text", "doc_id").collect()
    for r in out:
        assert r.jaccard >= 0.2
        assert not (r.id_a == 4 or r.id_b == 4)


def test_simhash_near_dup(spark, corpus, monkeypatch):
    monkeypatch.setattr(dd, "MAX_HAMMING", 8)
    sh = {r.doc_id: r.simhash for r in dd.simhash(corpus, "text", "doc_id").collect()}
    assert sh[0] == sh[1]  # identical text → identical simhash
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dd.simhash_pairs(corpus, "text", "doc_id").collect()
    }
    assert pairs[(0, 1)] == 0
    assert (0, 3) in pairs           # near dup within hamming 8
    assert not any(4 in p for p in pairs)


def test_embedding_cosine_pairs(spark, monkeypatch):
    monkeypatch.setattr(dd, "COSINE_THRESHOLD", 0.95)
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.04, 0.0, 0.0]),   # ~same direction
        (2, [0.0, 1.0, 0.0, 0.0]),      # orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {
        (r.id_a, r.id_b): r.cosine
        for r in dd.embedding_cosine_pairs(df, "embedding", "vec_id").collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
    assert len(pairs) == 1


def _brute_force_pairs(df, threshold):
    """The replaced O(n²) theta-join form — kept here as the test-time
    verification baseline for the block-grid join."""
    from pyspark.sql import functions as F

    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = df.select(
        F.col("vec_id").alias("_id"), v.alias("_v"),
        F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)).alias("_n"),
    )
    a = base.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"),
                    F.col("_n").alias("_na"))
    b = base.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"),
                    F.col("_n").alias("_nb"))
    dot = F.aggregate(F.zip_with(F.col("_va"), F.col("_vb"), lambda x, y: x * y),
                      F.lit(0.0), lambda a, x: a + x)
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(dot / (F.col("_na") * F.col("_nb")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _clustered_vectors(n=60, dim=16, clusters=5, seed=3):
    import random

    rng = random.Random(seed)
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(clusters)]
    rows = []
    for i in range(n):
        c = centers[i % clusters]
        rows.append((i, [x + rng.gauss(0, 0.02) for x in c]))
    return rows


def test_embedding_cosine_exact_matches_brute_force(spark, monkeypatch):
    monkeypatch.setattr(dd, "COSINE_THRESHOLD", 0.3)
    df = spark.createDataFrame(
        _clustered_vectors(), "vec_id long, embedding array<float>"
    )
    expect = sorted(map(tuple, _brute_force_pairs(df, 0.3).collect()))
    got = sorted(map(tuple, dd.embedding_cosine_pairs(
        df, "embedding", "vec_id"
    ).collect()))
    assert got == expect and len(got) > 0


def test_embedding_cosine_exact_plan_has_no_nested_loop(spark, monkeypatch):
    monkeypatch.setattr(dd, "COSINE_THRESHOLD", 0.3)
    df = spark.createDataFrame(
        _clustered_vectors(n=20), "vec_id long, embedding array<float>"
    )
    out = dd.embedding_cosine_pairs(df, "embedding", "vec_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_word_ngrams_short_doc(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("a b c",)], "text string")
    out = df.select(dd.word_ngrams("text", 5).alias("g")).first().g
    assert out == ["a b c"]  # shorter than n → whole text is the shingle


def test_connected_components_two_chains(spark):
    # 1-2-3 chain, 10-11 pair, 20 singleton (no edges → absent)
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    comp = {r.id: r.comp for r in dd.connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_bridges_blocks(spark):
    # two blocks {1,2} and {2,3} share node 2 → one component
    edges = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    out = dd.connected_components(edges)
    comp = {r.id: r.comp for r in out.collect()}
    assert comp[3] == 1 and comp[6] == 5


def test_blocking_edges_star_shape(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(3, "x"), (7, "x"), (5, "x"), (9, "y")], "doc_id long, k string"
    )
    edges = dd.blocking_edges(df, "doc_id", F.col("k")).collect()
    got = {(r.id_a, r.id_b) for r in edges}
    # star around min id 3; singleton block y emits nothing
    assert got == {(3, 5), (3, 7)}


def test_hash_sample_deterministic_and_partition_stable(spark):
    from sentiment_analysis_data_engineering_spark.operators import sampling as sp

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    s1 = {r.doc_id for r in sp.hash_sample(df, "doc_id", 0.3, salt="a").collect()}
    s2 = {r.doc_id for r in sp.hash_sample(df.repartition(7), "doc_id", 0.3, salt="a").collect()}
    assert s1 == s2                       # partitioning never changes the sample
    assert 0.25 < len(s1) / 2000 < 0.35   # ~30%
    s3 = {r.doc_id for r in sp.hash_sample(df, "doc_id", 0.3, salt="b").collect()}
    assert s1 != s3                       # salt = independent redraw


def test_stratified_hash_sample_rates(spark):
    from pyspark.sql import functions as F
    from sentiment_analysis_data_engineering_spark.operators import sampling as sp

    df = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en").when(F.col("id") % 3 == 1, "de")
         .otherwise("zh").alias("lang"),
    )
    out = sp.stratified_hash_sample(df, "doc_id", "lang", {"en": 0.8, "de": 0.2})
    rates = {r.lang: r.c for r in out.groupBy("lang").agg(F.count("*").alias("c")).collect()}
    assert 0.7 < rates["en"] / 1000 < 0.9
    assert 0.12 < rates["de"] / 1000 < 0.28
    assert 0.05 < rates["zh"] / 1000 < 0.15  # unlisted strata keep 10%


# --------------------------------------------------------------------------
# Skew-guard rehearsal: degenerate mass-duplicate corpora must stay bounded
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def hot_corpus(spark):
    """300 byte-identical copies of one stop-shingle-heavy doc (the
    10x-skew rehearsal, scaled to test time) + a planted near-dup pair
    + unique filler docs."""
    hot = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, hot) for i in range(300)]
    rows += [
        (1000, "completely different text about distributed query engines ok"),
        (1001, "completely different text about distributed query engines yes"),
    ]
    rows += [(2000 + i, f"unique filler document number {i} with its own words {i*i}")
             for i in range(50)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_guard_bounds_hot_shingle_candidates(hot_corpus, monkeypatch):
    # cap 100 < 300 copies: every shingle of the hot doc exceeds the cap
    # and is dropped, so the 300²/2 hot-hot candidate pairs never form;
    # the planted near-dup pair must still surface.
    monkeypatch.setattr(dd, "MAX_BUCKET_SIZE", 100)
    pairs = dd.ngram_jaccard_pairs(hot_corpus, "text", "doc_id").collect()
    ids = {(r.id_a, r.id_b) for r in pairs}
    assert (1000, 1001) in ids
    assert not any(a < 300 and b < 300 for a, b in ids)
    # identical mass-duplicates are exact-dedup's job, and it stays O(n)
    exact = dd.exact_dedup(hot_corpus, "text", "doc_id").collect()
    hot_row = next(r for r in exact if r.n_copies == 300)
    assert hot_row.keep_id == 0


def test_lsh_bucket_guard_bounds_hot_bucket_candidates(hot_corpus, monkeypatch):
    # identical docs share every band bucket → one 300-doc bucket per
    # band; cap 100 drops those buckets, so no hot-hot pair survives
    # candidate generation, while the near-dup pair still pairs up.
    monkeypatch.setattr(dd, "MAX_BUCKET_SIZE", 100)
    pairs = dd.minhash_lsh_pairs(hot_corpus, "text", "doc_id").collect()
    ids = {(r.id_a, r.id_b) for r in pairs}
    assert (1000, 1001) in ids
    assert not any(a < 300 and b < 300 for a, b in ids)


def test_lsh_guard_off_finds_hot_pairs_with_bounded_cap(hot_corpus):
    # sanity inversion: with the cap ABOVE the hot-group size the hot
    # pairs DO form — proving the guard (not a tokenization artifact)
    # is what bounded the candidate space above.
    pairs = dd.minhash_lsh_pairs(
        hot_corpus.filter("doc_id < 20 or doc_id >= 1000"), "text", "doc_id"
    ).collect()
    ids = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in ids and (1000, 1001) in ids


def test_contamination_screen(spark):
    from pyspark.sql import functions as F

    # doc 0 = eval; doc 1 copies a 5-token window from it; doc 2 disjoint
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta"),
            (1, "intro alpha beta gamma delta epsilon outro"),
            (2, "one two three four five six seven"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in dd.contamination_screen(
            docs, "text", "doc_id", F.col("doc_id") == 0
        ).collect()
    }
    assert set(out) == {1, 2}  # eval doc excluded, clean doc present
    # doc 1 shares exactly the one complete 5-gram of the copied run
    assert out[1].contaminated and out[1].shared_shingles == 1
    assert not out[2].contaminated and out[2].shared_shingles == 0


def test_embedding_cosine_arrow_keeps_round_up_boundary_pairs(spark):
    import math

    # raw cosine 0.4 - 3e-7 rounds UP to 0.400000 at 6 dp, so the pair
    # is kept at threshold 0.4; the raw pre-filter in the Arrow cell
    # scorer must not drop it (regression: slack was 1e-9 < half an ulp
    # at 6 dp)
    c = 0.4 - 3e-7
    rows = [(0, [1.0, 0.0]), (1, [c, math.sqrt(1 - c * c)])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = sorted(
        (r.id_a, r.id_b, r.cosine)
        for r in dd.embedding_cosine_pairs(df, "embedding", "vec_id").collect()
    )
    assert out == [(0, 1, 0.4)]


def test_embedding_cosine_zero_vector_pairs_with_nothing(spark, monkeypatch):
    import math
    import warnings

    import numpy as np

    # a zero vector has no cosine with anything (0/0): it must neither
    # surface as a NULL/NaN row nor warn inside the cell scorer, at any
    # threshold — including one a 0 cosine would pass
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.04, 0.0]),
        (2, [0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for threshold in (0.95, -1.0):
        monkeypatch.setattr(dd, "COSINE_THRESHOLD", threshold)
        got = dd.embedding_cosine_pairs(df, "embedding", "vec_id").collect()
        assert [(r.id_a, r.id_b) for r in got] == [(0, 1)]
        assert all(r.cosine is not None and not math.isnan(r.cosine) for r in got)

    # the per-cell kernel masks the zero norm instead of dividing 0/0
    V = np.array([r[1] for r in rows])
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        C, live = dd._cell_cosines(V, V)
    assert not live[2].any() and not live[:, 2].any() and live[:2, :2].all()
    assert not np.isnan(C).any() and C[0, 1] > 0.99


def test_dedup_survivor_selection_invariants(spark):
    from pyspark.sql import functions as F

    import __spark_entry__ as e

    out = e.queries()["dedup_survivor_selection"](
        spark, "/root/testdata/sf0.001"
    )
    # exactly one survivor per component, and it has the component's
    # max quality
    agg = out.groupBy("component").agg(
        F.sum(F.col("keep").cast("int")).alias("n_keep"),
        F.max("quality").alias("maxq"),
        F.max(F.when(F.col("keep"), F.col("quality"))).alias("keptq"),
    )
    bad = agg.filter((F.col("n_keep") != 1) | (F.col("maxq") != F.col("keptq")))
    assert bad.isEmpty()
    # every document appears exactly once
    assert out.count() == out.select("doc_id").distinct().count() == 500


def test_template_doc_flags(spark):
    from sentiment_analysis_data_engineering_spark.operators.dedup import template_doc_flags

    template = "alpha beta gamma delta epsilon zeta"
    rows = [(i, template) for i in range(6)]          # 6 copies of a template
    rows.append((100, "one unique doc with its own words entirely"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in template_doc_flags(df, "text", "doc_id").collect()
    }
    assert len(out) == 7  # every doc reported, clean ones included
    for i in range(6):    # both 5-gram shingles shared by 6 >= 5 docs
        assert out[i].hot_shingles == out[i].n_shingles
        assert out[i].is_template
    assert out[100].hot_shingles == 0 and not out[100].is_template


def test_template_doc_flags_short_doc_whole_text_shingle(spark):
    from sentiment_analysis_data_engineering_spark.operators.dedup import template_doc_flags

    rows = [(i, "tiny doc") for i in range(5)] + [(9, "another tiny")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in template_doc_flags(df, "text", "doc_id").collect()}
    assert out[0].n_shingles == 1 and out[0].is_template
    assert not out[9].is_template


def test_minhash_probe_equals_monolithic_run_on_new_docs(spark, sf_dir, monkeypatch):
    """Incremental == monolithic: probing a new batch against an index
    built from the rest must produce exactly the full-corpus LSH pairs
    that touch a new doc (deterministic keyed hashes)."""
    from sentiment_analysis_data_engineering_spark.operators.dedup import (
        build_minhash_index,
        minhash_lsh_pairs,
        minhash_lsh_probe,
        release_pinned,
    )
    from sentiment_analysis_data_engineering_spark.plans.registry import load_tables

    (documents,) = load_tables(spark, sf_dir, "documents")
    new = documents.filter(F.col("doc_id") % 10 == 0)
    old = documents.filter(F.col("doc_id") % 10 != 0)

    # Jaccard 0 keeps every candidate pair through the verify
    monkeypatch.setattr(dd, "JACCARD_THRESHOLD", 0.0)
    full = {
        (r.id_a, r.id_b, r.n_bands)
        for r in minhash_lsh_pairs(documents, "text", "doc_id").collect()
        if r.id_a % 10 == 0 or r.id_b % 10 == 0
    }
    release_pinned()

    index = build_minhash_index(old, "text", "doc_id")
    probed = {
        (r.id_a, r.id_b, r.n_bands)
        for r in minhash_lsh_probe(new, index, "text", "doc_id").collect()
    }
    release_pinned()
    assert probed == full
    assert probed  # non-vacuous: the fixture corpus has near-dups


def test_minhash_index_built_in_pieces_equals_whole(spark, sf_dir):
    from sentiment_analysis_data_engineering_spark.operators.dedup import (
        build_minhash_index,
    )
    from sentiment_analysis_data_engineering_spark.plans.registry import load_tables

    (documents,) = load_tables(spark, sf_dir, "documents")
    docs = documents.limit(200)
    whole = build_minhash_index(docs, "text", "doc_id")
    parts = build_minhash_index(
        docs.filter(F.col("doc_id") % 2 == 0), "text", "doc_id"
    ).unionByName(
        build_minhash_index(docs.filter(F.col("doc_id") % 2 == 1), "text", "doc_id")
    )
    assert whole.exceptAll(parts).isEmpty() and parts.exceptAll(whole).isEmpty()


def test_epoch_shuffle_bijective_and_deterministic(spark):
    from pyspark.sql import functions as F
    from sentiment_analysis_data_engineering_spark.operators import sampling as sp

    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    out = sp.epoch_shuffle(df, "doc_id", epoch=0, n_shards=8)
    # bijectivity: every id gets a distinct position
    agg = out.agg(
        F.countDistinct("shuffle_pos").alias("npos"),
        F.count("*").alias("n"),
        F.min("shard").alias("smin"),
        F.max("shard").alias("smax"),
    ).first()
    assert agg.npos == agg.n == 5000
    assert agg.smin >= 0 and agg.smax <= 7
    # determinism + partition independence: identical placement on re-run
    again = {
        r.doc_id: (r.shuffle_pos, r.shard)
        for r in sp.epoch_shuffle(
            df.repartition(13), "doc_id", epoch=0, n_shards=8
        ).collect()
    }
    first = {r.doc_id: (r.shuffle_pos, r.shard) for r in out.collect()}
    assert first == again


def test_epoch_shuffle_epochs_differ_and_match_python(spark):
    from sentiment_analysis_data_engineering_spark.operators import sampling as sp
    from sentiment_analysis_data_engineering_spark.operators.sampling import (
        epoch_shuffle_params,
    )

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    e0 = {r.doc_id: r.shuffle_pos
          for r in sp.epoch_shuffle(df, "doc_id", epoch=0, n_shards=4).collect()}
    e1 = {r.doc_id: r.shuffle_pos
          for r in sp.epoch_shuffle(df, "doc_id", epoch=1, n_shards=4).collect()}
    assert e0 != e1  # epochs permute differently
    # bit-exact against the pure-Python affine map
    for epoch, got in ((0, e0), (1, e1)):
        a, b = epoch_shuffle_params(epoch)
        for i in (0, 1, 17, 499):
            assert got[i] == (a * i + b) % (1 << 31)


def test_epoch_shuffle_rejects_bad_shards(spark):
    import pytest as _pytest
    from sentiment_analysis_data_engineering_spark.operators import sampling as sp

    df = spark.range(3).withColumnRenamed("id", "doc_id")
    with _pytest.raises(ValueError):
        sp.epoch_shuffle(df, "doc_id", epoch=0, n_shards=0)


def test_epoch_shuffle_out_of_range_id_fails_loudly(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F
    from sentiment_analysis_data_engineering_spark.operators import sampling as sp

    # without hash_ids the [0, 2^31) precondition is ENFORCED, not a
    # caller-beware footnote: plain % would have emitted a negative
    # shard for these rows instead of failing
    for bad in (-1, 1 << 31, (1 << 40) + 7):
        df = spark.createDataFrame([(bad,)], "doc_id long")
        with _pytest.raises(Exception, match="epoch_shuffle"):
            sp.epoch_shuffle(df, "doc_id", epoch=0, n_shards=8).collect()
    # boundary ids are fine and land in-range
    ok = spark.createDataFrame([(0,), ((1 << 31) - 1,)], "doc_id long")
    rows = sp.epoch_shuffle(ok, "doc_id", epoch=0, n_shards=8).collect()
    assert all(0 <= r.shuffle_pos < (1 << 31) and 0 <= r.shard < 8 for r in rows)


def test_cluster_aware_split_no_straddle_and_rehoming(spark):
    """Law test for the cluster-aware split construction: near-dup
    cluster members always land in ONE split (the rep's), and a member
    whose naive per-doc split differs is rehomed, not leaked."""
    from pyspark.sql import functions as F
    from sentiment_analysis_data_engineering_spark.operators import sampling as sp

    # ids 0..399 as singletons plus one 5-member cluster rep'd by 1000
    ids = list(range(400)) + [1000, 1001, 1002, 1003, 1004]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    rep = F.when(F.col("doc_id") >= 1000, F.lit(1000)).otherwise(F.col("doc_id"))

    def split_of(col):
        b = sp.hash_bucket(col, "split")
        return (
            F.when(b < 9000, F.lit("train"))
            .when(b < 9500, F.lit("val"))
            .otherwise(F.lit("test"))
        )

    out = df.select(
        "doc_id",
        split_of(rep).alias("split"),
        split_of(F.col("doc_id")).alias("naive"),
    )
    cluster = {r.doc_id: (r.split, r.naive) for r in out.collect() if r.doc_id >= 1000}
    # all 5 cluster members share the rep's split regardless of naive
    splits = {s for s, _ in cluster.values()}
    assert len(splits) == 1
    assert splits == {cluster[1000][0]}
    # the rep itself is never rehomed (rep == own id)
    assert cluster[1000][0] == cluster[1000][1]
    # the naive assignment over 405 docs uses all three splits (sanity
    # that the rehoming law above isn't vacuous for every corpus)
    naives = {r.naive for r in out.collect()}
    assert naives == {"train", "val", "test"}


def test_connected_components_pointer_doubling_on_long_chain(spark):
    """The r15 pointer-doubling law: a PATH graph (the worst case for
    plain min-label propagation — diameter rounds) converges in
    O(log diameter) rounds with the per-round shortcut, and the labels
    are still exactly the component minima. A 64-node path needed 63
    propagation rounds before; the law pins a generous log-scale bound
    so the doubling can never silently regress to linear."""
    import math

    from sentiment_analysis_data_engineering_spark.operators import dedup as dd

    n = 64
    edges = [(i, i + 1) for i in range(n - 1)]  # one path: 0-1-...-63
    edges += [(1000, 1001)]                      # plus a trivial pair
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r.comp for r in dd.connected_components(df, max_iter=60).collect()}
    assert got == {**{i: 0 for i in range(n)}, 1000: 1000, 1001: 1000}
    # doubling: 2(d+1)-hop spread per round -> bound ~log2(diameter)+2
    assert dd.LAST_CC_ROUNDS <= math.ceil(math.log2(n)) + 3, dd.LAST_CC_ROUNDS
