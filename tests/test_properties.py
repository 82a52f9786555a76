"""Property-based invariants (hypothesis) for the operators whose
correctness is a LAW over all inputs, not a fixture fact."""

from __future__ import annotations

import math
from unittest import mock

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from sentiment_analysis_data_engineering_spark.operators import dedup as dd
from sentiment_analysis_data_engineering_spark.operators.packing import pack_sequences
from sentiment_analysis_data_engineering_spark.operators.sampling import hash_bucket

_slow = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    docs=st.lists(
        st.tuples(st.integers(0, 10_000), st.integers(1, 300)),
        min_size=1, max_size=60, unique_by=lambda t: t[0],
    ),
    budget=st.integers(16, 512),
)
@_slow
def test_packing_laws(spark, docs, budget):
    from sentiment_analysis_data_engineering_spark.operators import packing

    df = spark.createDataFrame(docs, "doc_id long, n_tokens long")
    with mock.patch.object(packing, "PACK_BUDGET", budget):
        out = pack_sequences(df, "doc_id", "n_tokens").collect()
    # law 1: bijection on doc ids
    assert sorted(r.doc_id for r in out) == sorted(d for d, _ in docs)
    # law 2: no multi-doc pack exceeds the budget
    packs: dict[int, list] = {}
    for r in out:
        packs.setdefault(r.pack_id, []).append(r)
    for members in packs.values():
        if len(members) > 1:
            assert sum(m.n_tokens for m in members) <= budget


@given(ids=st.lists(st.integers(0, 10**12), min_size=1, max_size=80,
                    unique=True))
@_slow
def test_hash_bucket_laws(spark, ids):
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    one = df.select("doc_id", hash_bucket("doc_id", "s").alias("b"))
    two = df.repartition(5).select(
        "doc_id", hash_bucket("doc_id", "s").alias("b")
    )
    a = {r.doc_id: r.b for r in one.collect()}
    b = {r.doc_id: r.b for r in two.collect()}
    # law: bucket is a pure function of (salt, id) — partitioning-free
    assert a == b
    assert all(0 <= v < 10_000 for v in a.values())


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1, max_size=40,
    )
)
@_slow
def test_connected_components_laws(spark, edges):
    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    # worst-case generated graph is a 31-node path (diameter 30): give
    # label propagation enough iterations to converge rather than raise
    comp = {r.id: r.comp for r in dd.connected_components(df, max_iter=40).collect()}
    # law 1: every endpoint is labeled
    nodes = {n for e in edges for n in e}
    assert set(comp) == nodes
    # law 2: both endpoints of every edge share a component
    for a, b in edges:
        assert comp[a] == comp[b]
    # law 3: the label is the component's minimum node id
    groups: dict[int, list] = {}
    for n, c in comp.items():
        groups.setdefault(c, []).append(n)
    for c, members in groups.items():
        assert c == min(members)


def test_mixture_weighted_sample_solver(spark):
    from sentiment_analysis_data_engineering_spark.operators.sampling import (
        hash_bucket,
        mixture_weighted_sample,
    )
    from pyspark.sql import functions as F

    # 3 strata: 100 / 100 / 10 rows
    rows = [(i, "a") for i in range(100)] + \
           [(100 + i, "b") for i in range(100)] + \
           [(200 + i, "c") for i in range(10)]
    df = spark.createDataFrame(rows, "id long, src string")
    out = mixture_weighted_sample(
        df, "id", "src", {"a": 0.5, "c": 0.5}, target_fraction=0.5
    )
    got = {r.src: r.cnt for r in out.groupBy("src").agg(F.count("*").alias("cnt")).collect()}
    # c: w*t*N/n = 0.5*0.5*210/10 = 5.25 -> capped at 1.0 -> all 10 kept
    assert got.get("c") == 10
    # a: fraction 0.5*0.5*210/100 = 0.525 -> threshold 5250 buckets;
    # b: unlisted weight 0.02*0.5*210/100 = 0.021 -> 210 buckets;
    # exact membership must equal the hash_bucket predicate
    for src, thr in (("a", 5250), ("b", 210)):
        expect = df.filter((F.col("src") == src) & (hash_bucket("id", "mix") < thr)).count()
        assert got.get(src, 0) == expect
    # determinism: same call -> identical set
    again = mixture_weighted_sample(
        df, "id", "src", {"a": 0.5, "c": 0.5}, target_fraction=0.5
    )
    assert out.exceptAll(again).isEmpty() and again.exceptAll(out).isEmpty()


@given(
    st.lists(st.floats(min_value=-1e6, max_value=1e6,
                       allow_nan=False, allow_infinity=False),
             min_size=1, max_size=40),
    st.floats(min_value=0.05, max_value=0.95),
)
@settings(max_examples=60, deadline=None)
def test_ewma_closed_form_matches_recursion(xs, alpha):
    """The closed form both engines evaluate (ewma_user_value and its
    DuckDB oracle) equals the textbook recursion s_i = a*x + (1-a)*s."""
    s = xs[0]
    for x in xs[1:]:
        s = alpha * x + (1.0 - alpha) * s
    n = len(xs)
    closed = (1.0 - alpha) ** (n - 1) * xs[0] + sum(
        alpha * (1.0 - alpha) ** (n - i) * xs[i - 1] for i in range(2, n + 1)
    )
    assert math.isclose(closed, s, rel_tol=1e-9, abs_tol=1e-6)


@given(
    batches=st.lists(
        st.lists(
            st.tuples(st.integers(1, 5), st.integers(0, 3)),  # (key, value)
            min_size=0, max_size=5, unique_by=lambda t: t[0],
        ),
        min_size=1, max_size=4,
    )
)
@settings(
    # 5 examples, not _slow's 8: each example replays a SEQUENTIAL
    # multi-batch chain (~10 driver jobs — by far the priciest example
    # body in this module) and the laws are additionally covered by
    # the deterministic scd2 tests (test_streaming replay/collapse,
    # the scd2_customer_history oracle row). Part of the r14 verdict
    # item-3 budget work: the suite must finish inside the driver's
    # VERIFY window.
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_scd2_sequential_laws(spark, batches):
    """SCD2 invariants over ANY sequence of change batches:
    1. exactly one open version per key ever seen;
    2. per key, versions chain: sorted valid_from ranges link
       valid_to -> next valid_from with the open one last;
    3. the open version carries the latest applied value;
    4. row count only grows (history is append-only in effect)."""
    from sentiment_analysis_data_engineering_spark.operators.incremental import scd2_apply

    hist = spark.createDataFrame(
        [], "k int, val int, valid_from string, valid_to string, is_current boolean"
    )
    last_val: dict[int, int] = {}
    prev_rows = 0
    for i, batch in enumerate(batches):
        if not batch:
            continue
        bdf = spark.createDataFrame(batch, "k int, val int")
        hist = scd2_apply(hist, bdf, ["k"], ["val"], batch_ts=f"b{i:04d}")
        n = hist.count()
        assert n >= prev_rows                       # law 4, per batch
        prev_rows = n
        for k, v in batch:
            last_val[k] = v
    rows = hist.collect()
    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r.k, []).append(r)
    for k, versions in by_key.items():
        opens = [r for r in versions if r.is_current]
        assert len(opens) == 1                      # law 1
        assert opens[0].valid_to is None
        assert opens[0].val == last_val[k]          # law 3
        chain = sorted(versions, key=lambda r: r.valid_from)
        for a, b in zip(chain, chain[1:]):
            assert a.valid_to == b.valid_from       # law 2
        assert chain[-1].is_current


@given(
    keys=st.lists(st.integers(0, 50), min_size=5, max_size=200),
    k=st.integers(2, 12),
)
@_slow
def test_misra_gries_superset_law(spark, keys, k):
    from sentiment_analysis_data_engineering_spark.operators.sketches import (
        misra_gries_candidates,
    )

    df = spark.createDataFrame([(x,) for x in keys], "k long").repartition(3)
    cands = {
        r.k
        for r in misra_gries_candidates(df, "k", k=k)
        .filter(~F.col("is_total"))
        .collect()
    }
    counts: dict[int, int] = {}
    for x in keys:
        counts[x] = counts.get(x, 0) + 1
    heavy = {x for x, c in counts.items() if c > len(keys) / (k + 1)}
    # law: every key above N/(k+1) is in the candidate set, ANY input
    assert heavy <= cands


@given(
    dim=st.lists(st.integers(0, 10**9), min_size=1, max_size=60, unique=True),
    probe=st.lists(st.integers(0, 10**9), min_size=1, max_size=60),
)
@_slow
def test_bloom_no_false_negative_law(spark, dim, probe):
    from sentiment_analysis_data_engineering_spark.operators.sketches import (
        bloom_build,
        bloom_prune,
    )

    d = spark.createDataFrame([(x,) for x in dim], "k long")
    bloom = bloom_build(d, "k")
    p = spark.createDataFrame([(x,) for x in probe], "k long")
    kept = [r.k for r in bloom_prune(p, "k", bloom).collect()]
    want_kept = [x for x in probe if x in set(dim)]
    # law: every probe row whose key IS in the dim survives (multiset)
    from collections import Counter

    assert not (Counter(want_kept) - Counter(kept))


@given(
    vals=st.lists(
        st.one_of(st.none(), st.integers(-1000, 1000)),
        min_size=1, max_size=30,
    )
)
@_slow
def test_linear_interpolate_laws(spark, vals):
    from sentiment_analysis_data_engineering_spark.operators.temporal import (
        linear_interpolate,
    )

    rows = [(1, i, float(v) if v is not None else None)
            for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k long, d long, v double")
    out = {
        r.d: r.f
        for r in df.select(
            "d",
            linear_interpolate(df, "v", key_cols=["k"], order_col="d").alias("f"),
        ).collect()
    }
    obs = [i for i, v in enumerate(vals) if v is not None]
    for i, v in enumerate(vals):
        if v is not None:
            assert out[i] == float(v)  # anchors pass through exactly
        elif not obs or i < obs[0] or i > obs[-1]:
            assert out[i] is None  # no extrapolation, ever
        else:
            lo = max(x for x in obs if x < i)
            hi = min(x for x in obs if x > i)
            a, b = float(vals[lo]), float(vals[hi])
            # law: interior fills stay within the bracketing anchors
            assert min(a, b) - 1e-9 <= out[i] <= max(a, b) + 1e-9


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        min_size=1, max_size=40,
    )
)
@_slow
def test_triangle_counts_matches_bruteforce(spark, edges):
    from itertools import combinations

    from sentiment_analysis_data_engineering_spark.operators.graph import triangle_counts

    clean = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    if not clean:
        return
    adj: dict[int, set] = {}
    for a, b in clean:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expect: dict[int, int] = {}
    for x, y, z in combinations(sorted(adj), 3):
        if y in adj[x] and z in adj[x] and z in adj[y]:
            for n in (x, y, z):
                expect[n] = expect.get(n, 0) + 1
    df = spark.createDataFrame(list(edges), "u long, v long")
    got = {r.node: (r.degree, r.triangles) for r in triangle_counts(df).collect()}
    assert got == {n: (len(adj[n]), t) for n, t in expect.items()}


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        min_size=1, max_size=40,
    ),
    k=st.integers(1, 5),
)
@_slow
def test_kcore_matches_python_peel(spark, edges, k):
    from sentiment_analysis_data_engineering_spark.operators.graph import kcore_peel

    clean = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    if not clean:
        return
    # synchronous peel to the fixed point in pure python
    pairs = set(clean)
    while True:
        deg: dict[int, int] = {}
        for a, b in pairs:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        alive = {n for n, d in deg.items() if d >= k}
        nxt = {(a, b) for a, b in pairs if a in alive and b in alive}
        if nxt == pairs:
            break
        pairs = nxt
    deg = {}
    for a, b in pairs:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    df = spark.createDataFrame(list(edges), "u long, v long")
    # 15 nodes -> <= 15 peel rounds always reaches the fixed point
    got = {r.node: r.core_degree for r in kcore_peel(df, k=k, rounds=15).collect()}
    assert got == deg


@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=12),
        min_size=1, max_size=12,
    )
)
@_slow
def test_bigram_pmi_matches_bruteforce(spark, texts):
    import math

    from sentiment_analysis_data_engineering_spark.operators import text
    from sentiment_analysis_data_engineering_spark.operators.text import bigram_pmi

    uni: dict[str, int] = {}
    bi: dict[tuple, int] = {}
    for t in texts:
        toks = [w for w in t.lower().split() if w]
        for w in toks:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(toks, toks[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1
    n = sum(uni.values())
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    with mock.patch.object(text, "PMI_MIN_COUNT", 1):
        rows = bigram_pmi(df, "text").collect()
    got = {(r.w1, r.w2): (r.pair_count, r.pmi) for r in rows}
    expect = {
        (a, b): (c, round(math.log(c * n / (uni[a] * uni[b])), 6))
        for (a, b), c in bi.items()
    }
    assert got == expect


@given(
    samples=st.lists(st.integers(-32768, 32767), min_size=1, max_size=400),
    rate=st.sampled_from([8000, 16000, 44100]),
)
@_slow
def test_wav_codec_roundtrip_law(samples, rate):
    """decode(encode(x)) == x for ANY int16 sample stream / rate —
    pure codec law, no Spark needed."""
    import numpy as np

    from sentiment_analysis_data_engineering_spark.operators import multimodal as mm

    s = np.array(samples, dtype="<i2")
    rate2, out = mm._decode_wav(mm.encode_wav(rate, s.tobytes()))
    assert rate2 == rate
    assert (out == s).all()


@given(
    w=st.integers(1, 12),
    h=st.integers(1, 9),
    n_frames=st.integers(1, 6),
    seed=st.integers(0, 2**31 - 1),
)
@_slow
def test_avi_codec_roundtrip_law(w, h, n_frames, seed):
    """decode(encode(frames)) == frames for ANY frame geometry —
    covers the row-padding/bottom-up/BGR transform at every width mod 4."""
    import numpy as np

    from sentiment_analysis_data_engineering_spark.operators import multimodal as mm

    rng = (seed + np.arange(n_frames * w * h * 3)) % 256
    frames = [
        rng[f * w * h * 3 : (f + 1) * w * h * 3].astype(np.uint8).tobytes()
        for f in range(n_frames)
    ]
    rw, rh, rfps, decoded = mm._decode_avi(mm.encode_avi(w, h, frames))
    assert (rw, rh, rfps, len(decoded)) == (w, h, 10, n_frames)
    for f, fb in enumerate(frames):
        expect = np.frombuffer(fb, dtype=np.uint8).reshape(h, w, 3) / 255.0
        assert np.allclose(decoded[f], expect)


@given(
    vecs=st.lists(
        st.lists(
            st.floats(-100.0, 100.0, allow_nan=False, allow_infinity=False,
                      width=32),
            min_size=6, max_size=6,
        ),
        min_size=2, max_size=10,
    ),
)
@_slow
def test_crossencoder_arrow_jvm_bitexact_law(spark, vecs):
    """LAW: the Arrow scorer and the JVM expression are the SAME
    IEEE-754 computation — sequential softsign fold over finite
    inputs — so their doubles are bit-identical for EVERY finite
    vector pair, not merely close. (Both engines cast float32 inputs
    to double exactly, multiply/divide/abs are correctly rounded, and
    both accumulate in d=0..dim-1 order.)"""
    from sentiment_analysis_data_engineering_spark.operators import (
        similarity as sim,
    )

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cand = spark.createDataFrame(
        [(a, b) for a, _ in rows for b, _ in rows if a != b],
        "query_id long, neighbor_id long",
    )
    with mock.patch.object(sim, "TOP_K", len(rows)), mock.patch.object(sim, "CE_DIM", 6):
        out = sim.crossencoder_rerank_topk(cand, df, df)
    dv = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    qv = df.select(F.col("vec_id").alias("query_id"), dv.alias("_qv"))
    cv = df.select(F.col("vec_id").alias("neighbor_id"), dv.alias("_cv"))
    checked = (
        out.join(qv, "query_id")
        .join(cv, "neighbor_id")
        .withColumn(
            "_jvm",
            F.round(
                sim.crossencoder_score_expr(F.col("_qv"), F.col("_cv"), dim=6),
                6,
            ),
        )
        .collect()
    )
    assert len(checked) == len(rows) * (len(rows) - 1)
    for r in checked:
        assert r.ce_score == r._jvm, (r.query_id, r.neighbor_id)


@given(
    words=st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=12),
        min_size=1, max_size=20, unique=True,
    ),
    pairs=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c", "d", "ab", "ba", "cd", "aa"]),
            st.sampled_from(["a", "b", "c", "d", "ab", "ba", "cd", "aa"]),
        ),
        min_size=0, max_size=12,
    ),
)
@_slow
def test_bpe_encode_matches_fold_law(spark, words, pairs):
    """LAW: encode_words (Arrow per-word scan) and apply_merges (JVM
    fold chain) implement identical greedy left-to-right merge
    semantics for ANY merge table over ANY non-empty words — including
    merge tables never produced by the trainer (unreachable symbols,
    duplicate pairs, merged-left chains)."""
    from sentiment_analysis_data_engineering_spark.operators.bpe import (
        apply_merges,
        encode_words,
    )

    merges = [(l, r, 1) for l, r in pairs]
    df = spark.createDataFrame([(w,) for w in words], "word string")
    enc = encode_words(df, merges)
    jvm = df.withColumn("jvm", F.split("word", ""))
    for i in range(0, len(merges), 60):
        jvm = jvm.withColumn(
            "jvm", apply_merges(F.col("jvm"), merges[i : i + 60])
        )
    got = {
        r.word: (r.tokens, r.jvm)
        for r in enc.join(jvm.select("word", "jvm"), "word").collect()
    }
    assert len(got) == len(words)
    for w, (tok, ref) in got.items():
        assert tok == ref, (w, merges)
        assert "".join(tok) == w
