"""operators/bpe.py vs a pure-Python reference BPE implementation.

The reference implements the textbook algorithm (count weighted
adjacent pairs over the word-frequency table, merge the argmax with
(count DESC, left, right) tie-break, greedy left-to-right pairing) —
the Spark trainer must reproduce its merge list EXACTLY.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sentiment_analysis_data_engineering_spark.operators.bpe import (
    apply_merges,
    bpe_train,
    word_frequencies,
)


def _ref_apply(syms: tuple[str, ...], left: str, right: str) -> tuple[str, ...]:
    """One merge, greedy left to right."""
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def _ref_bpe(word_freqs: dict[str, int], n_merges: int, min_count: int = 2):
    vocab = {tuple(w): f for w, f in word_freqs.items()}
    merges = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        (l, r), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if c < min_count:
            break
        merges.append((l, r, c))
        new_vocab = {}
        for syms, f in vocab.items():
            out = _ref_apply(syms, l, r)
            new_vocab[out] = new_vocab.get(out, 0) + f
        vocab = new_vocab
    return merges


WORDS = {
    "low": 5, "lower": 2, "lowest": 1, "newest": 6,
    "widest": 3, "wide": 2, "new": 4, "west": 1, "aaaa": 3,
}


def _wf(spark):
    return spark.createDataFrame(
        [(w, f) for w, f in WORDS.items()], "word string, freq long"
    )


def test_bpe_matches_reference_exactly(spark):
    got = bpe_train(_wf(spark), n_merges=10)
    want = _ref_bpe(WORDS, 10)
    assert got == want


def test_bpe_greedy_left_to_right_on_runs(spark):
    wf = spark.createDataFrame([("aaaa", 1), ("aaa", 1)], "word string, freq long")
    merges = bpe_train(wf, n_merges=1, min_count=1)
    assert merges[0][:2] == ("a", "a")
    seg = wf.select(
        "word", apply_merges(F.split("word", ""), merges).alias("s")
    )
    got = {r.word: list(r.s) for r in seg.collect()}
    assert got == {"aaaa": ["aa", "aa"], "aaa": ["aa", "a"]}


def test_bpe_reconstruction_and_min_count_stop(spark):
    wf = _wf(spark)
    merges = bpe_train(wf, n_merges=50, min_count=4)
    assert all(c >= 4 for _, _, c in merges)
    assert len(merges) < 50  # stopped early, not exhausted
    seg = wf.select(
        "word", apply_merges(F.split("word", ""), merges).alias("s")
    )
    assert seg.filter(F.array_join("s", "") != F.col("word")).count() == 0


def test_bpe_counts_non_increasing(spark):
    merges = bpe_train(_wf(spark), n_merges=10, min_count=1)
    counts = [c for _, _, c in merges]
    assert counts == sorted(counts, reverse=True)


def test_apply_merges_refuses_48_ranks(spark):
    # the per-rank chain stops at 47 ranks; larger tables go to encode_words
    import pytest

    merges = [(chr(97 + i % 26), chr(97 + i // 26), 1) for i in range(48)]
    apply_merges(F.split(F.lit("ab"), ""), merges[:47])
    with pytest.raises(ValueError, match="encode_words"):
        apply_merges(F.split(F.lit("ab"), ""), merges)


def test_word_frequencies_one_pass(spark):
    docs = spark.createDataFrame([(" a b  a ",), ("b a",)], "text string")
    got = {r.word: r.freq for r in word_frequencies(docs, "text").collect()}
    assert got == {"a": 3, "b": 2}


def test_encode_words_matches_jvm_fold(spark):
    # the Arrow-batched corpus encoder and the JVM fold chain are two
    # independent implementations of the same greedy semantics — they
    # must agree token for token, including the run case ("aaaa") and
    # chained merges whose left side is itself a merged symbol
    from sentiment_analysis_data_engineering_spark.operators.bpe import encode_words

    words = spark.createDataFrame(
        [("aaaa",), ("abab",), ("aab",), ("banana",), ("x",)],
        "word string",
    )
    merges = [("a", "a", 9), ("a", "b", 5), ("aa", "b", 3), ("n", "a", 2)]
    enc = encode_words(words, merges)
    jvm = words.select(
        "word", apply_merges(F.split("word", ""), merges).alias("tokens")
    )
    got = {r.word: r.tokens for r in enc.collect()}
    want = {r.word: r.tokens for r in jvm.collect()}
    assert got == want
    # concatenation reconstructs every word (BPE conservation)
    assert all("".join(t) == w for w, t in got.items())
    # spot-pin the greedy pairing itself, not just cross-agreement
    assert got["aaaa"] == ["aa", "aa"]
    assert got["aab"] == ["aab"]          # aa then (aa,b)
    assert got["banana"] == ["b", "a", "na", "na"]


def test_encode_words_production_rank_count(spark):
    # pin encode_words at a production-ish rank count (hundreds of
    # ranks, not the 8-merge query scale) against the Python reference.
    # The sf0.01 corpus vocabulary alone is 31 words and exhausts after
    # ~89 merges, so extend it with its own pairwise concatenations
    # (still corpus-derived and deterministic) to give the trainer
    # enough pair mass for 300 ranks. Merges come from the pure-Python
    # reference trainer — already pinned bit-equal to bpe_train by
    # test_bpe_matches_reference_exactly — so this test pays zero Spark
    # training jobs.
    from sentiment_analysis_data_engineering_spark.operators.bpe import encode_words

    from conftest import SF001

    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    base = {
        r.word: r.freq
        for r in word_frequencies(docs, "text").collect()
    }
    extended = dict(base)
    for a in sorted(base):
        for b in sorted(base):
            w = a + b
            extended[w] = extended.get(w, 0) + min(base[a], base[b])
    merges = _ref_bpe(extended, 300, min_count=2)
    assert len(merges) == 300  # enough pair mass; not exhausted early

    words = spark.createDataFrame(
        [(w,) for w in sorted(extended)], "word string"
    )
    rows = encode_words(words, merges).collect()
    assert len(rows) == len(extended)
    for r in rows:
        want = tuple(r.word)
        for left, right, _ in merges:
            want = _ref_apply(want, left, right)
        assert tuple(r.tokens) == want, r.word
        assert "".join(r.tokens) == r.word  # conservation at depth 300


def test_encode_words_empty_merge_table_is_char_split(spark):
    from sentiment_analysis_data_engineering_spark.operators.bpe import encode_words

    words = spark.createDataFrame([("abc",), ("z",), ("",)], "word string")
    got = {r.word: r.tokens for r in encode_words(words, []).collect()}
    # "" → [] (list("") semantics; unreachable from word_frequencies,
    # which filters empty words — the JVM fold's split-based [""] form
    # differs only on this unreachable input)
    assert got == {"abc": ["a", "b", "c"], "z": ["z"], "": []}
