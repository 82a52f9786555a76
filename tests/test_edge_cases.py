"""Edge-case robustness: empty frames, null/empty text, unicode.

Operators must degrade to empty/null results — never throw — because a
100 TB run WILL contain every degenerate row shape somewhere.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sentiment_analysis_data_engineering_spark.operators import dedup as dd
from sentiment_analysis_data_engineering_spark.operators import text as tx
from sentiment_analysis_data_engineering_spark.operators.packing import pack_sequences
from sentiment_analysis_data_engineering_spark.operators.sampling import hash_sample


@pytest.fixture(scope="module")
def weird(spark):
    rows = [
        (1, None),                       # null text
        (2, ""),                         # empty
        (3, "   "),                      # whitespace only
        (4, "héllo wörld ünïcode ≠ ascii and more tokens here ok"),
        (5, "héllo wörld ünïcode ≠ ascii and more tokens here ok"),  # dup of 4
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_text_ops_survive_nulls(weird):
    out = weird.select(
        "doc_id",
        tx.token_count("text").alias("n"),
        tx.quality_score("text").alias("q"),
        tx.lang_id("text").alias("lang"),
        tx.fingerprint_md5("text").alias("fp"),
        tx.clean_text("text").alias("clean"),
        tx.mask_pii("text").alias("masked"),
    ).collect()
    by_id = {r.doc_id: r for r in out}
    assert by_id[1].n is None and by_id[1].fp is None     # null propagates
    assert by_id[4].fp == by_id[5].fp                     # unicode dups agree


def test_exact_dedup_groups_unicode_and_keeps_nulls_separate(weird):
    out = dd.exact_dedup(weird, "text", "doc_id")
    groups = {r.keep_id: r.n_copies for r in out.collect()}
    assert groups.get(4) == 2              # unicode dup pair collapses
    # empty and whitespace-only normalize to the same "" fingerprint
    assert groups.get(2) == 2


def test_minhash_lsh_on_degenerate_corpus(weird):
    # must not throw. Content-free texts (null, empty, whitespace-only)
    # have NO shingles and drop out of near-dedup entirely — they must
    # not pair with each other as jaccard-1.0 "duplicates" via a shared
    # constant signature (exact_dedup is the tool that groups empties).
    pairs = dd.minhash_lsh_pairs(weird, "text", "doc_id", verify_threshold=0.2)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(4, 5)}


def test_empty_frame_through_pipeline(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert dd.exact_dedup(empty, "text", "doc_id").count() == 0
    assert dd.minhash_lsh_pairs(empty, "text", "doc_id").count() == 0
    assert dd.connected_components(
        spark.createDataFrame([], "id_a long, id_b long")
    ).count() == 0
    assert hash_sample(empty, "doc_id", 0.5).count() == 0
    docs = empty.withColumn("n_tokens", F.lit(1).cast("long"))
    assert pack_sequences(docs, "doc_id", "n_tokens", budget=10).count() == 0


def test_tfidf_ignores_empty_docs(weird):
    out = tx.tfidf_top_terms(weird, "text", "doc_id", k=2)
    ids = {r.doc_id for r in out.collect()}
    assert 1 not in ids and 2 not in ids and 3 not in ids
    assert {4, 5} <= ids


# --------------------------------------------------------------------------
# Guard rails added after the round-1 review
# --------------------------------------------------------------------------


def test_salted_join_rejects_outer_how(spark):
    from sentiment_analysis_data_engineering_spark.operators.skew import salted_join

    df = spark.createDataFrame([(1, "a")], "k long, v string")
    for how in ("right", "full", "full_outer", "right_outer"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(df, df, ["k"], how=how)


def test_salt_spreads_identical_duplicate_rows(spark):
    from sentiment_analysis_data_engineering_spark.operators.skew import _salt_col

    # the archetypal hot key: one row repeated — a pure content hash
    # would put every copy in ONE salt bucket
    df = spark.createDataFrame([("hot", 1)] * 500, "k string, v long")
    n = df.select(_salt_col(df, 16).alias("s")).distinct().count()
    assert n > 8


def test_salt_survives_map_columns(spark):
    from sentiment_analysis_data_engineering_spark.operators.skew import salted_sum_count

    df = spark.createDataFrame(
        [("a", 1, {"x": "y"})] * 10, "k string, v long, m map<string,string>"
    )
    out = salted_sum_count(df, ["k"], ["v"]).collect()
    assert out[0].n == 10 and out[0].sum_v == 10


def test_connected_components_raises_on_non_convergence(spark):
    chain = [(i, i + 1) for i in range(25)]
    df = spark.createDataFrame(chain, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dd.connected_components(df, max_iter=3)


def test_release_pinned_frees_storage(spark, weird):
    dd.release_pinned()  # drain pins left by earlier tests
    dd.ngram_jaccard_pairs(weird, "text", "doc_id").count()
    assert dd.release_pinned() >= 1
    assert dd.release_pinned() == 0


def test_release_pinned_refused_inside_scope(spark, weird):
    """The global drain inside an active pinned_scope would release
    frames the scope owns — including lineage-truncated checkpoints
    that CANNOT recompute. The misordering must fail loudly at the
    release site, not as a distant job failure (r9 advice item 3)."""
    dd.release_pinned()
    with dd.pinned_scope():
        pairs = dd.ngram_jaccard_pairs(weird, "text", "doc_id")
        pairs.count()  # materialize inside the scope, per contract
        with pytest.raises(RuntimeError, match="active pinned_scope"):
            dd.release_pinned()
    # scope exit drained its own pins; the registry is usable again
    assert dd.release_pinned() == 0
    # nesting: the guard holds at every depth and unwinds cleanly
    with dd.pinned_scope():
        with dd.pinned_scope():
            with pytest.raises(RuntimeError, match="active pinned_scope"):
                dd.release_pinned()
        with pytest.raises(RuntimeError, match="active pinned_scope"):
            dd.release_pinned()
    assert dd.release_pinned() == 0


def test_register_pinned_tagged_and_released(spark):
    """register_pinned tags frames non-recomputable in the registry
    (the misuse-detection bookkeeping) and release_pinned still frees
    them outside any scope."""
    df = spark.range(5).localCheckpoint(eager=True)
    dd.release_pinned()
    out = dd.register_pinned(df)
    assert out is df
    assert dd._PINNED[-1] == (df, False)  # tagged: cannot recompute
    assert dd.release_pinned() == 1


def test_template_doc_flags_survives_nulls_and_empty(spark, weird):
    out = dd.template_doc_flags(weird, "text", "doc_id", hot_min_docs=2)
    got = {r.doc_id: r for r in out.collect()}
    assert set(got) == {1, 2, 3, 4, 5}          # every row reported, nulls too
    assert got[4].is_template and got[5].is_template  # dup pair crosses bar=2
    empty = weird.filter("doc_id < 0")
    assert dd.template_doc_flags(empty, "text", "doc_id").count() == 0


def test_unigram_logprob_empty_and_null_docs_absent_not_crashing(weird):
    out = tx.unigram_logprob_score(weird, "text", "doc_id")
    ids = {r.doc_id for r in out.collect()}
    assert ids == {4, 5}  # token-less docs have no defined score
    for r in out.collect():
        assert r.avg_logprob < 0


def test_ewma_empty_frame(spark):
    from sentiment_analysis_data_engineering_spark.operators.temporal import ewma_last

    df = spark.createDataFrame(
        [], "id long, user long, ts timestamp, v double")
    assert ewma_last(df, key_col="user", ts_col="ts", value_col="v",
                     tiebreak_col="id").count() == 0


def test_quantize_int8_empty_frame(spark):
    from sentiment_analysis_data_engineering_spark.operators.similarity import (
        quantize_int8_stats,
    )

    df = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert quantize_int8_stats(df, vec_col="embedding", id_col="vec_id").count() == 0


def test_sketch_ops_on_empty_frames(spark):
    from sentiment_analysis_data_engineering_spark.operators.sketches import (
        bloom_build,
        bloom_prune,
        cms_build,
        cms_estimate,
        heavy_hitters_exact,
    )

    empty = spark.createDataFrame([], "k long")
    assert heavy_hitters_exact(empty, "k", k=10).count() == 0
    assert cms_build(empty, "k").count() == 0
    sk = cms_build(empty, "k")
    keys = spark.createDataFrame([(1,)], "k long")
    assert cms_estimate(sk, keys, "k").count() == 0  # no cells -> no estimates
    bloom = bloom_build(empty, "k", m_bits=1 << 14)
    assert bloom["n_keys"] == 0
    # empty filter rejects everything non-null, keeps nulls
    probe = spark.createDataFrame([(5,), (None,)], "k long")
    assert [r.k for r in bloom_prune(probe, "k", bloom).collect()] == [None]


def test_linear_interpolate_single_observation(spark):
    from sentiment_analysis_data_engineering_spark.operators.temporal import (
        linear_interpolate,
    )

    df = spark.createDataFrame(
        [(1, 0, None), (1, 1, 5.0), (1, 2, None)], "k long, d long, v double"
    )
    got = {
        r.d: r.f
        for r in df.select(
            "d", linear_interpolate(df, "v", key_cols=["k"], order_col="d").alias("f")
        ).collect()
    }
    assert got == {0: None, 1: 5.0, 2: None}


def test_pagerank_self_loop_only_graph(spark):
    from sentiment_analysis_data_engineering_spark.operators.graph import (
        PR_SCALE,
        pagerank_fixed_point,
    )

    edges = spark.createDataFrame([(1, 1), (2, 2)], "src long, dst long")
    got = {r.node: r.pr_fixed for r in pagerank_fixed_point(edges).collect()}
    assert got == {1: PR_SCALE // 2, 2: PR_SCALE // 2}


def test_phonetic_blocking_with_soundex_feeds_levenshtein(spark):
    """Phonetic blocking (F.soundex) composed with the edit-distance
    refiner — the classic record-linkage pairing: variant spellings
    land in the same phonetic block, then only in-block pairs are
    scored."""
    from pyspark.sql import functions as F

    from sentiment_analysis_data_engineering_spark.operators.fuzzy import (
        fuzzy_match_pairs,
    )

    rows = [(1, "robert"), (2, "rupert"), (3, "rubin"), (4, "ashcraft"),
            (5, "ashcroft"), (6, "tymczak")]
    df = spark.createDataFrame(rows, "id long, name string")
    out = fuzzy_match_pairs(
        df, "name", "id",
        block_col=F.soundex(F.col("name")),
        max_distance=2,
    ).collect()
    got = {(r.id_a, r.id_b): r.distance for r in out}
    # soundex(robert)==soundex(rupert)==R163, rubin R150 (own block);
    # ashcraft/ashcroft A261
    assert got == {(1, 2): 2, (4, 5): 1}


def test_brown_single_observation(spark):
    """One observation: s1 = s2 = x, forecast = x (no trend evidence)."""
    from sentiment_analysis_data_engineering_spark.operators.temporal import (
        brown_double_smoothing,
    )

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 1, 42.0)],
        "user_id long, ts string, event_id long, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    (r,) = brown_double_smoothing(
        df, key_col="user_id", ts_col="ts", value_col="value",
        tiebreak_col="event_id",
    ).collect()
    assert (r.n_fit, r.s1, r.s2, r.forecast) == (1, 42.0, 42.0, 42.0)


def test_pq_zero_vector_query_survives(spark):
    """A zero query vector must not crash or hijack rankings (cosine
    NULL convention sorts it below every real neighbor)."""
    from sentiment_analysis_data_engineering_spark.operators import similarity as sim

    rows = [(0, [0.0] * 8)] + [
        (i, [float((i * j) % 5 - 2) for j in range(8)]) for i in range(1, 30)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = sim.pq_cosine_topk(
        df.filter(F.col("vec_id") < 2), df, k=3, m=4, n_codes=8, n_rerank=29
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    # the real query still gets k results
    assert len(by_q.get(1, [])) == 3


def test_wav_empty_sample_stream(spark):
    """Zero-sample WAV decodes to zeroed features, not a crash."""
    from sentiment_analysis_data_engineering_spark.operators import multimodal as mm

    payload = mm.encode_wav(8000, b"")
    df = spark.createDataFrame(
        [(1, bytearray(payload))], "media_id long, content binary"
    )
    (r,) = mm.decode_audio(df, strict=True).collect()
    assert (r.n_samples, r.duration_ms, r.rms, r.zero_crossings) == (0, 0, 0.0, 0)


def test_media_decoders_empty_frame(spark):
    """An empty media frame decodes to zero rows with each decoder's
    declared schema."""
    from sentiment_analysis_data_engineering_spark.operators import multimodal as mm

    media = spark.createDataFrame(
        [(1, bytearray(b"x"))], "media_id long, content binary"
    ).filter(F.col("media_id") < 0)
    for decode, cols in (
        (mm.decode_image, ["media_id", "height", "width", "mean_px"]),
        (mm.decode_audio, ["media_id", "sample_rate", "n_samples",
                           "duration_ms", "rms", "zero_crossings"]),
        (mm.decode_video_frames, ["media_id", "frame_idx", "height",
                                  "width", "mean_px"]),
    ):
        out = decode(media)
        assert out.columns == cols
        assert out.collect() == []


def test_ann_empty_query_frame(spark):
    """An empty query frame yields zero neighbours, not an error."""
    from sentiment_analysis_data_engineering_spark.operators import similarity as sim

    corpus = spark.createDataFrame(
        [(i, [float((i * j) % 5 - 2) for j in range(8)]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    queries = corpus.filter(F.col("vec_id") < 0)
    for out in (
        sim.ivf_cosine_topk(queries, corpus, k=3, n_centroids=4, n_probe=2),
        sim.pq_cosine_topk(queries, corpus, k=3, m=4, n_codes=4, n_rerank=8),
    ):
        assert out.columns == ["query_id", "neighbor_id", "cosine", "rank"]
        assert out.collect() == []
