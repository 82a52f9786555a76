"""Training-data curation round-out: cross-corpus span-level dedup,
per-source document caps, and token-length bucketing — the remaining
C4/RefinedWeb-style corpus operations not yet in the registry.

All three are oracle-checked over the ``documents`` fixture and follow
the registry conventions (identical aliases both sides, exact-integer
or fixed-round outputs, no raw timestamps).

Scale stances:
- span dedup is the same shingle-equi-join family as ``operators/
  dedup.py`` — one explode, one hash agg on span text, one count agg;
  candidate volume ∝ corpus spans, never pairs;
- the per-source cap is one window shuffle keyed by source (the C4
  "domain cap"); a skewed mega-source is a data-model property the
  salting helpers in ``operators/skew.py`` address;
- length bucketing is a pure-Column narrow scan + one grouped agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import load_tables, query

# --------------------------------------------------------------------------
# Cross-corpus span-level exact dedup (first-occurrence-wins)
# --------------------------------------------------------------------------

_SPAN_TOKENS = 8


@query(
    "span_dedup_stats",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents
    ),
    spans AS (
      SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
             array_to_string(t[u.i*{_SPAN_TOKENS}+1 : u.i*{_SPAN_TOKENS}+{_SPAN_TOKENS}], ' ')
               AS span
      FROM toks,
           unnest(range(CAST(ceil(len(t)/{_SPAN_TOKENS}.0) AS BIGINT))) AS u(i)
    ),
    winners AS (
      SELECT span, min(doc_id) AS w_doc FROM spans GROUP BY span
    ),
    kept AS (
      SELECT w_doc AS doc_id, CAST(count(*) AS BIGINT) AS n_kept
      FROM winners GROUP BY w_doc
    ),
    per_doc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
      FROM spans GROUP BY doc_id
    )
    SELECT p.doc_id, p.n_spans,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           round(coalesce(k.n_kept, 0) / p.n_spans, 4) AS keep_ratio
    FROM per_doc p LEFT JOIN kept k ON k.doc_id = p.doc_id
    """,
)
def span_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus span-level exact dedup (C4-style "discard repeated
    ≥N-token spans"): documents are cut into disjoint 8-token spans and
    each distinct span text is attributed to the document with the
    lowest doc_id containing it; every other occurrence corpus-wide is
    a duplicate. Output per doc: span count, surviving-span count,
    keep ratio.

    Plan: one explode (narrow), one hash agg on span text (map-side
    combining min — the only corpus-keyed shuffle), one count agg per
    doc, and a broadcast-sized join of the two per-doc frames. Span
    attribution is min(doc_id) — a commutative aggregate, not a
    window — so no global sort exists anywhere. At 100 TB this is the
    shingle-family shape of SCALE.md: cost ∝ total spans, never pairs."""
    from ..operators.text import doc_spans

    (documents,) = load_tables(spark, sf_dir, "documents")
    spans = doc_spans(documents, "text", "doc_id", span_tokens=_SPAN_TOKENS)
    winners = spans.groupBy("span").agg(F.min("doc_id").alias("w_doc"))
    kept = winners.groupBy(F.col("w_doc").alias("doc_id")).agg(
        F.count("*").alias("n_kept")
    )
    per_doc = spans.groupBy("doc_id").agg(F.count("*").alias("n_spans"))
    out = per_doc.join(kept, "doc_id", "left")
    return out.select(
        "doc_id",
        "n_spans",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        F.round(
            F.coalesce(F.col("n_kept"), F.lit(0)) / F.col("n_spans"), 4
        ).alias("keep_ratio"),
    )


@query(
    "span_dedup_multiwidth",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents
    ),
    wins AS (
      SELECT w.w, doc_id,
             array_to_string(t[g.i+1 : g.i+w.w], ' ') AS span
      FROM toks, (VALUES (8), (16), (32)) w(w),
           unnest(generate_series(0, len(t) - w.w)) AS g(i)
      WHERE len(t) >= w.w
    ),
    dup AS (
      SELECT w, span FROM wins GROUP BY w, span HAVING count(*) >= 2
    ),
    hit AS (
      SELECT DISTINCT wins.doc_id, wins.w
      FROM wins JOIN dup ON dup.w = wins.w AND dup.span = wins.span
    ),
    flag8 AS (SELECT DISTINCT doc_id FROM hit WHERE w = 8),
    allw AS (
      SELECT w.w, toks.doc_id,
             array_to_string(t[g.i+1 : g.i+w.w], ' ') AS span
      FROM toks JOIN flag8 USING (doc_id),
           unnest(generate_series(8, len(t))) AS w(w),
           unnest(generate_series(0, len(t) - w.w)) AS g(i)
    ),
    dupw AS (
      SELECT w, span FROM allw GROUP BY w, span HAVING count(*) >= 2
    ),
    exact AS (
      SELECT allw.doc_id, max(allw.w) AS e
      FROM allw JOIN dupw ON dupw.w = allw.w AND dupw.span = allw.span
      GROUP BY allw.doc_id
    )
    SELECT toks.doc_id, CAST(len(toks.t) AS BIGINT) AS n_tokens,
           CAST(coalesce(max(hit.w), 0) AS BIGINT) AS max_dup_width,
           CAST(coalesce(any_value(exact.e), 0) AS BIGINT) AS exact_dup_len
    FROM toks
    LEFT JOIN hit ON hit.doc_id = toks.doc_id
    LEFT JOIN exact ON exact.doc_id = toks.doc_id
    GROUP BY toks.doc_id, len(toks.t)
    """,
)
def span_dedup_multiwidth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication profiling — the Lee et al. 2021
    generalization of the fixed-width span dedup above
    (operators/text.py::longest_duplicated_span): per document, the
    largest w ∈ {8, 16, 32} such that some ROLLING w-token window
    occurs ≥ 2 times corpus-wide (rolling windows catch duplicated
    substrings at ANY alignment — the disjoint 8-token grid of
    span_dedup_stats misses a copied run that straddles its
    boundaries). ``max_dup_width`` brackets each doc's longest exact
    duplicate to a factor of 2; ``exact_dup_len`` (r9 verdict item 7)
    refines the bracket to the TRUE maximum duplicated-window length
    by binary search on width over the flagged docs only
    (operators/text.py::longest_duplicated_span_exact) — 0 still
    means "< 8", the policy floor.

    Plan: a multi-width CASCADE with EXACT pruning — a duplicated
    2w-window's w-prefix is itself duplicated, so each wider pass
    explodes windows only for docs flagged at the narrower width; the
    exact refinement continues the same argument down to single-token
    resolution in O(log max_doc_tokens) bisection passes (the
    partner-occurrence closure in the operator docstring is why
    flagged-docs-only generation stays exact). Every pass is explode →
    map-side-combining count on the window text → semi-join; no window
    function, no sort, no pairs, and the exploded volume decays
    geometrically up the ladder (duplicated content is the rare case).
    The DuckDB oracle brute-forces all three ladder widths AND every
    width 8..len(t) over the flagged docs with no pruning or bisection
    — agreement proves both the cascade and the search drop nothing.
    At 100 TB, group on xxhash64(window) instead of text (same plan,
    ~8-byte shuffle keys); text kept here for oracle parity."""
    from ..operators.text import longest_duplicated_span_exact

    (documents,) = load_tables(spark, sf_dir, "documents")
    return longest_duplicated_span_exact(
        documents, "text", "doc_id", widths=(8, 16, 32)
    )


@query(
    "span_dedup_rewrite",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents
    ),
    spans AS (
      SELECT doc_id, i AS pos,
             array_to_string(t[(i*{_SPAN_TOKENS}+1):(i*{_SPAN_TOKENS}+{_SPAN_TOKENS})], ' ') AS span
      FROM toks,
           unnest(generate_series(
             0, CAST(ceil(len(t)/{_SPAN_TOKENS}.0) AS BIGINT) - 1)) AS g(i)
    ),
    winners AS (
      SELECT span, min({{'d': doc_id, 'p': pos}}) AS w
      FROM spans GROUP BY span
    ),
    marked AS (
      SELECT s.doc_id, s.pos, s.span,
             (w.w = {{'d': s.doc_id, 'p': s.pos}}) AS keep
      FROM spans s JOIN winners w ON w.span = s.span
    )
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN keep THEN span END,
                               ' ' ORDER BY pos), '') AS text,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(coalesce(sum(CASE WHEN NOT keep THEN 1 END), 0) AS BIGINT)
             AS n_removed
    FROM marked GROUP BY doc_id
    """,
)
def span_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REWRITE half of span dedup (operators/text.py::
    remove_duplicate_spans): every repeated 8-token span keeps only its
    corpus-wide first occurrence (smallest (doc, position)) and each
    document is reassembled from its surviving spans — the Lee et al.
    "deduplicating training data" transform, where span_dedup_stats
    above only counts. Full rewritten TEXTS are hash-checked against
    the DuckDB replay, byte for byte. Same shingle-family plan: one
    span-keyed min-struct agg, one join back, one doc-keyed reassembly
    via collect_list + array_sort (commutative agg + in-row sort — no
    window, no global sort)."""
    from ..operators import text as tx

    (documents,) = load_tables(spark, sf_dir, "documents")
    return tx.remove_duplicate_spans(
        documents, "text", "doc_id", span_tokens=_SPAN_TOKENS
    )


# --------------------------------------------------------------------------
# Per-source document cap (C4/RefinedWeb "domain cap")
# --------------------------------------------------------------------------

_SOURCE_CAP = 15


@query(
    "source_capped_docs",
    oracle=f"""
    SELECT doc_id, source, rnk FROM (
      SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source
                                     ORDER BY n_chars DESC, doc_id ASC)
                  AS BIGINT) AS rnk
      FROM documents
    )
    WHERE rnk <= {_SOURCE_CAP}
    """,
)
def source_capped_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap: keep the top {_SOURCE_CAP} documents of
    each source, ranked by length with doc_id tie-break — the "domain
    cap" every web-scale corpus applies so no single domain dominates
    the training mixture.

    Plan: one window shuffle keyed by source; rank frames evaluate
    streaming within each partition, and the cap filter drops rows
    before anything downstream. At 100 TB the shuffle is keyed on the
    capping dimension (source/domain), which is exactly the key a
    later mixture-sampling stage reuses; a pathologically hot domain
    is what ``operators/skew.py`` salting is for (documented there)."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        documents.select(
            "doc_id", "source", F.row_number().over(w).cast("long").alias("rnk")
        )
        .filter(F.col("rnk") <= _SOURCE_CAP)
    )


# --------------------------------------------------------------------------
# Token-length bucketing (batching / packing histogram)
# --------------------------------------------------------------------------


@query(
    "token_length_buckets",
    oracle="""
    WITH n AS (
      SELECT lang,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS n_tokens
      FROM documents
    )
    SELECT lang,
           CAST(length(bin(n_tokens)) - 1 AS BIGINT) AS len_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM n
    GROUP BY lang, length(bin(n_tokens)) - 1
    """,
)
def token_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two token-length histogram per language — the length
    profile a batching/packing stage needs to size sequence buckets
    (``operators/packing.py`` consumes exactly this distribution).

    Bucket = floor(log2(n_tokens)), computed as binary-digit count
    minus one: an exact integer path in both engines, immune to the
    last-ulp wobble of float log2 at power-of-two boundaries. Plan:
    pure-Column narrow scan + one map-side-combining grouped agg —
    zero joins, zero windows; at 100 TB this runs at scan bandwidth
    with a (lang × ~14 buckets)-sized shuffle."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    n = documents.select(
        "lang",
        n_tokens.alias("n_tokens"),
    )
    return n.groupBy(
        "lang",
        (F.length(F.bin(F.col("n_tokens"))) - 1).cast("long").alias("len_bucket"),
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


# --------------------------------------------------------------------------
# Blocked fuzzy name matching (operators/fuzzy.py)
# --------------------------------------------------------------------------


@query(
    "fuzzy_part_name_pairs",
    oracle="""
    WITH names AS (
      SELECT p_name, min(p_partkey) AS name_id,
             split_part(p_name, ' ', 2) AS noun
      FROM part GROUP BY p_name
    ),
    guarded AS (
      -- mirror fuzzy_match_pairs' MAX_BLOCK_SIZE guard so the oracle
      -- and the engine agree even on a fixture with a degenerate block
      SELECT * FROM (
        SELECT n.*, count(*) OVER (PARTITION BY noun) AS bn FROM names n
      ) WHERE bn <= 1000
    )
    SELECT a.name_id AS id_a, b.name_id AS id_b,
           a.p_name AS text_a, b.p_name AS text_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS distance
    FROM guarded a JOIN guarded b
      ON a.noun = b.noun AND a.name_id < b.name_id
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def fuzzy_part_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy match over the part-name vocabulary:
    distinct names blocked on their noun token (the stable word in the
    'adjective noun' format), in-block pairs refined to Levenshtein
    distance ≤ 3 (operators/fuzzy.py::fuzzy_match_pairs — one keyed
    self-join, never a cross join; oversized blocks guarded). Name
    identity is min(p_partkey) per name so ids are deterministic.
    Both engines implement classic unit-cost Levenshtein, so the
    distance column matches exactly."""
    from ..operators import fuzzy as fz

    (part,) = load_tables(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(F.min("p_partkey").alias("name_id"))
    return fz.fuzzy_match_pairs(
        names,
        "p_name",
        "name_id",
        block_col=F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)),
        max_distance=3,
    )


# --------------------------------------------------------------------------
# Character-entropy quality signal
# --------------------------------------------------------------------------


@query(
    "char_entropy_report",
    oracle="""
    WITH chars AS (
      SELECT doc_id, unnest(string_split(text, '')) AS ch
      FROM documents
    ),
    freq AS (
      SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
      FROM chars GROUP BY doc_id, ch
    ),
    tot AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_distinct_chars
      FROM freq GROUP BY doc_id
    )
    SELECT f.doc_id,
           t.n AS n_chars,
           t.n_distinct_chars,
           round(-sum((f.c * 1.0 / t.n) * log2(f.c * 1.0 / t.n)), 4)
             AS char_entropy
    FROM freq f JOIN tot t ON t.doc_id = f.doc_id
    GROUP BY f.doc_id, t.n, t.n_distinct_chars
    """,
)
def char_entropy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon character entropy per document — the classic
    gibberish/encoding-junk detector (low entropy = repeated filler,
    near-log2(alphabet) = random bytes; natural language sits in a
    stable band). Output: per-doc char count, distinct-char count, and
    entropy in bits.

    Plan: one explode (narrow) then two hash aggregations — (doc, char)
    frequencies and per-doc totals — both keyed on doc_id, so the
    second agg and the join reuse the first shuffle's partitioning.
    Character alphabet is bounded (~100 symbols), so the frequency
    frame is ≤ alphabet × docs rows and everything combines map-side.
    At 100 TB this is the TF-IDF family shape with a constant-size
    vocabulary."""
    (documents,) = load_tables(spark, sf_dir, "documents")
    chars = documents.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("ch")
    )
    freq = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    tot = freq.groupBy("doc_id").agg(
        F.sum("c").alias("n"), F.count("*").alias("n_distinct_chars")
    )
    p = F.col("c") / F.col("n")
    return (
        freq.join(tot, "doc_id")
        .groupBy("doc_id", "n", "n_distinct_chars")
        .agg(F.round(-F.sum(p * F.log2(p)), 4).alias("char_entropy"))
        .select(
            "doc_id",
            F.col("n").alias("n_chars"),
            "n_distinct_chars",
            "char_entropy",
        )
    )


# --------------------------------------------------------------------------
# BPE merge training (operators/bpe.py)
# --------------------------------------------------------------------------

_BPE_MERGES = 8

#: (sf_dir, n_merges, min_count) -> trained merge table, memoized per
#: process: training is deterministic on the immutable fixture corpus
#: (ties break (count DESC, l, r)), and each of its n_merges iterations
#: is a driver-blocking argmax action — the trainer query and the
#: encode query would otherwise each pay the full iteration ladder for
#: the identical result. Caveat: the key assumes the fixture at sf_dir
#: is immutable for the process lifetime; a corpus mutated in place at
#: the same path would be served stale merges (key on (path, parquet
#: mtime) if fixtures ever become mutable).
_BPE_MERGE_CACHE: dict[tuple[str, int, int], list[tuple[str, str, int]]] = {}


def _trained_merges(
    words: DataFrame, sf_dir: str, n_merges: int, min_count: int
) -> list[tuple[str, str, int]]:
    """Train-or-recall the merge table for ``sf_dir``'s corpus.

    INVARIANT: ``words`` MUST be ``word_frequencies(documents, "text")``
    over the documents table at ``sf_dir`` — the memo key is only
    (sf_dir, n_merges, min_count), so a caller passing any other frame
    would silently receive merges trained on a different corpus on a
    cache hit. Both registered callers (bpe_merge_stats,
    bpe_encode_stats) derive it exactly that way; keep it so.
    """
    from ..operators.bpe import bpe_train

    key = (sf_dir, n_merges, min_count)
    if key not in _BPE_MERGE_CACHE:
        _BPE_MERGE_CACHE[key] = bpe_train(
            words, n_merges=n_merges, min_count=min_count
        )
    return _BPE_MERGE_CACHE[key]


@query(
    "bpe_merge_stats",
    oracle=r"""
    WITH toks AS (
      SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
      FROM documents
    ),
    words AS (
      SELECT word, CAST(count(*) AS BIGINT) AS freq
      FROM toks WHERE len(word) > 0 GROUP BY word
    ),
    pairs AS (
      SELECT substring(word, CAST(u.i AS INT), 1) AS l,
             substring(word, CAST(u.i AS INT) + 1, 1) AS r,
             CAST(sum(freq) AS BIGINT) AS c
      FROM words, unnest(range(1, len(word))) AS u(i)
      GROUP BY l, r
    ),
    top AS (
      -- mirror bpe_train's min_count stop: no pair with weighted
      -- count >= 2 means NO first merge exists
      SELECT l, r, c FROM pairs WHERE c >= 2 ORDER BY c DESC, l, r LIMIT 1
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM words) AS n_words,
           (SELECT l FROM top) AS first_left,
           (SELECT r FROM top) AS first_right,
           (SELECT c FROM top) AS first_count,
           TRUE AS n_merges_ok,
           TRUE AS monotonic_ok,
           TRUE AS reconstruct_ok
    """,
)
def bpe_merge_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge training over the corpus vocabulary
    (operators/bpe.py) reported through its checkable laws: the FIRST
    learned merge is the SQL-predictable argmax of weighted adjacent
    character pairs (hash-checked exactly, with the same deterministic
    tie-break), merge counts are non-increasing (new pairs can never
    outnumber the pair they contain — the BPE monotonicity law),
    segmenting the vocabulary with the learned merges reconstructs
    every word, and the merge count respects the budget. This is the
    kmeans/packing contract pattern: the iterative algorithm itself is
    not SQL-expressible, its invariants are.

    Scale: one corpus pass builds the (word, freq) vocabulary; all
    8 (_BPE_MERGES) training iterations run over vocabulary-bounded
    frames (pair counts shuffle ≤ |alphabet|² rows after map-side
    combine), each collecting exactly ONE argmax row — the bounded
    model-build action class."""
    from ..operators.bpe import apply_merges, word_frequencies

    (documents,) = load_tables(spark, sf_dir, "documents")
    words = word_frequencies(documents, "text")
    words = words.persist()
    try:
        merges = _trained_merges(words, sf_dir, _BPE_MERGES, 2)
        counts = [c for _, _, c in merges]
        seg = words.select(
            "word", apply_merges(F.split("word", ""), merges).alias("s")
        )
        stats = words.agg(F.count("*").alias("n_words")).crossJoin(
            F.broadcast(
                seg.agg(
                    (
                        F.sum(
                            (
                                F.array_join("s", "") != F.col("word")
                            ).cast("long")
                        )
                        == 0
                    ).alias("reconstruct_ok")
                )
            )
        )
        first = merges[0] if merges else (None, None, None)
        out = stats.select(
            "n_words",
            F.lit(first[0]).cast("string").alias("first_left"),
            F.lit(first[1]).cast("string").alias("first_right"),
            F.lit(first[2]).cast("long").alias("first_count"),
            F.lit(len(merges) <= _BPE_MERGES).alias("n_merges_ok"),
            F.lit(counts == sorted(counts, reverse=True)).alias(
                "monotonic_ok"
            ),
            "reconstruct_ok",
        )
        out = out.localCheckpoint(eager=True)
        from ..operators.dedup import register_pinned

        register_pinned(out)  # freed by the harness's release_pinned()
    finally:
        words.unpersist()
    return out


@query(
    "bpe_encode_stats",
    oracle=r"""
    WITH toks AS (
      SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
      FROM documents
    ),
    words AS (
      SELECT word, CAST(count(*) AS BIGINT) AS freq
      FROM toks WHERE len(word) > 0 GROUP BY word
    ),
    pairs AS (
      SELECT substring(word, CAST(u.i AS INT), 1) AS l,
             substring(word, CAST(u.i AS INT) + 1, 1) AS r,
             CAST(sum(freq) AS BIGINT) AS c
      FROM words, unnest(range(1, len(word))) AS u(i)
      GROUP BY l, r
    ),
    top AS (
      SELECT l, r FROM pairs WHERE c >= 2 ORDER BY c DESC, l, r LIMIT 1
    ),
    -- replay of the FIRST merge's greedy left-to-right application:
    -- replace() consumes non-overlapping occurrences left to right,
    -- exactly the fold's greedy pairing (incl. the l = r run case:
    -- 'aaa' loses one pair, not two), so chars_removed // 2 = merges
    -- performed in that word and len - merges = its token count
    enc1 AS (
      SELECT freq, len(word) AS nc,
             CASE WHEN (SELECT count(*) FROM top) = 0 THEN len(word)
                  ELSE len(word)
                       - (len(word) - len(replace(word,
                             (SELECT l FROM top) || (SELECT r FROM top),
                             ''))) // 2
             END AS t1
      FROM words
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM words) AS n_words,
           (SELECT CAST(sum(freq) AS BIGINT) FROM words) AS total_words,
           (SELECT CAST(count(*) AS BIGINT) FROM documents
             WHERE len(trim(text)) > 0) AS n_docs,
           CAST(sum(freq * nc) AS BIGINT) AS total_word_chars,
           CAST(sum(freq * t1) AS BIGINT) AS tokens_after_first_merge,
           TRUE AS reconstruct_ok,
           TRUE AS jvm_agree_ok,
           TRUE AS token_bounds_ok,
           TRUE AS doc_sum_matches_ok
    FROM enc1
    """,
)
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide BPE ENCODE with the trained merge table
    (operators/bpe.py::encode_words — the Arrow-batched apply that
    completes the tokenizer story bpe_merge_stats's trainer started),
    reported through conservation laws plus SQL-replayable values.

    The scale shape is the one a 100 TB tokenizing pipeline needs: the
    Python encode runs ONCE per DISTINCT vocabulary word (never per
    corpus occurrence), per-document token counts come from an
    equi-join of the exploded corpus against that encoded vocabulary,
    and the merge table rides the UDF closure as bounded driver state.

    Checked exactly by the oracle: vocabulary size, corpus word count,
    tokenized-doc count, weighted character total, and — the encode
    semantics probe — the corpus token count after the FIRST merge,
    which DuckDB replays independently via replace()'s greedy
    non-overlapping scan (flips if the greedy pairing ever drifts).
    Checked as laws (full merge table is not SQL-replayable):
    concatenating every word's tokens reconstructs the word; the
    pandas encode agrees token-for-token with the apply_merges JVM
    fold on the whole vocabulary (two independent implementations);
    the full-table token total is monotone (words <= tokens(full) <=
    tokens(first merge) <= chars); and the per-document token sum
    equals the vocabulary-weighted total (the join plumbing conserves
    occurrences)."""
    from ..operators.bpe import (
        apply_merges,
        encode_words,
        word_frequencies,
    )

    (documents,) = load_tables(spark, sf_dir, "documents")
    words = word_frequencies(documents, "text").persist()
    try:
        merges = _trained_merges(words, sf_dir, _BPE_MERGES, 2)
        # two encode passes over the vocabulary: the full table and the
        # first rank alone (the oracle's independently replayable one)
        enc = encode_words(words, merges).withColumnRenamed(
            "tokens", "toks_full"
        )
        enc = encode_words(enc, merges[:1]).withColumnRenamed(
            "tokens", "toks_first"
        )
        enc = enc.withColumn(
            "seg_jvm", apply_merges(F.split("word", ""), merges)
        )
        vocab_stats = enc.agg(
            F.count("*").alias("n_words"),
            F.sum("freq").alias("total_words"),
            F.sum(F.col("freq") * F.length("word")).alias(
                "total_word_chars"
            ),
            F.sum(F.col("freq") * F.size("toks_full")).alias("_tok_full"),
            F.sum(F.col("freq") * F.size("toks_first")).alias(
                "tokens_after_first_merge"
            ),
            (
                F.sum(
                    (F.array_join("toks_full", "") != F.col("word")).cast(
                        "long"
                    )
                )
                == 0
            ).alias("reconstruct_ok"),
            (
                F.sum(
                    (F.col("toks_full") != F.col("seg_jvm")).cast("long")
                )
                == 0
            ).alias("jvm_agree_ok"),
        )
        per_doc = (
            documents.select(
                "doc_id",
                F.explode(F.split(F.trim("text"), r"\s+")).alias("word"),
            )
            .filter(F.length("word") > 0)
            .join(
                enc.select("word", F.size("toks_full").alias("_nt")),
                "word",
            )
            .groupBy("doc_id")
            .agg(F.sum("_nt").alias("_doc_toks"))
        )
        doc_stats = per_doc.agg(
            F.count("*").alias("n_docs"),
            F.sum("_doc_toks").alias("_doc_tok_sum"),
        )
        out = (
            vocab_stats.crossJoin(F.broadcast(doc_stats))
            .select(
                "n_words",
                "total_words",
                "n_docs",
                "total_word_chars",
                "tokens_after_first_merge",
                "reconstruct_ok",
                "jvm_agree_ok",
                (
                    (F.col("total_words") <= F.col("_tok_full"))
                    & (
                        F.col("_tok_full")
                        <= F.col("tokens_after_first_merge")
                    )
                    & (
                        F.col("tokens_after_first_merge")
                        <= F.col("total_word_chars")
                    )
                ).alias("token_bounds_ok"),
                (F.col("_doc_tok_sum") == F.col("_tok_full")).alias(
                    "doc_sum_matches_ok"
                ),
            )
            .localCheckpoint(eager=True)
        )
        from ..operators.dedup import register_pinned

        register_pinned(out)  # freed by the harness's release_pinned()
    finally:
        words.unpersist()
    return out


# --------------------------------------------------------------------------
# Model-based quality filtering (hashed linear classifier)
# --------------------------------------------------------------------------


@query(
    "classifier_quality_filter",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             [t FOR t IN string_split_regex(lower(text), '[^a-z]+')
                IF t <> ''] AS ts
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang,
             CAST(len(ts) AS BIGINT) AS n_tokens,
             CAST(coalesce(list_sum(
               [((CAST(list_reduce([ascii(c) FOR c IN string_split(t, '')],
                                   (h, c2) -> (h * 31 + c2) % 4096)
                       AS BIGINT)
                  * 1103515245 + 12345) % 2001) - 1000
                FOR t IN ts]), 0) AS BIGINT) AS clf_score
      FROM toks
    )
    SELECT doc_id, lang, n_tokens, clf_score,
           clf_score > 0 AS accepted
    FROM scored
    """,
)
def classifier_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering — score every document under a
    hashed bag-of-words linear classifier and report the accept
    decision (the fastText/CCNet-style filter stage of a pretraining
    curation stack; public methodology).

    Plan shape: the whole inference pass is ONE narrow projection over
    the documents scan — `hashed_classifier_score` is a nested
    higher-order-function expression (token split → 31-polynomial char
    fold → LCG-derived integer weight → sum), so there is no explode,
    no shuffle, no Python, and no weight table to distribute. At 100 TB
    classifier filtering therefore runs at scan speed, and a
    `WHERE accepted` on top prunes every downstream stage. A learned
    weight vector swaps the weight expression for a constant-array
    `element_at` lookup (KBs) with the identical plan — exercised for
    real by `classifier_learned_weights_filter` below. All
    arithmetic is exact int64, so the DuckDB oracle reproduces scores
    bit-for-bit (same fold, same LCG — no floats anywhere).
    """
    from ..operators import text as tx

    (documents,) = load_tables(spark, sf_dir, "documents")
    score = tx.hashed_classifier_score("text")
    return documents.select(
        "doc_id",
        "lang",
        tx.classifier_token_count("text").alias("n_tokens"),
        score.alias("clf_score"),
        (score > F.lit(0)).alias("accepted"),
    )


@query(
    "classifier_learned_weights_filter",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             [t FOR t IN string_split_regex(lower(text), '[^a-z]+')
                IF t <> ''] AS ts
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang,
             CAST(len(ts) AS BIGINT) AS n_tokens,
             CAST(coalesce(list_sum(
               [((CAST(list_reduce([ascii(c) FOR c IN string_split(t, '')],
                                   (h, c2) -> (h * 31 + c2) % 4096)
                       AS BIGINT)
                  * 7919 + 13) % 401) - 200
                FOR t IN ts]), 0) AS BIGINT) AS clf_score
      FROM toks
    )
    SELECT doc_id, lang, n_tokens, clf_score,
           clf_score > 0 AS accepted
    FROM scored
    """,
)
def classifier_learned_weights_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering with an EXPLICIT learned weight
    vector — the production path `classifier_quality_filter`'s
    docstring promises, exercised end to end: a 4096-entry integer
    model (here a non-LCG deterministic stand-in, w(i) = ((i·7919 +
    13) mod 401) − 200, so the DuckDB oracle can replay it exactly;
    a real trained vector is the same Python list after fix-point
    quantization) ships as ONE dense array literal and every token
    scores by an O(1) `element_at` index
    (operators/text.py::hashed_classifier_score_learned).

    Plan shape: IDENTICAL to the LCG form — one narrow projection over
    the documents scan, no explode, no shuffle, no Python, no join
    (the plan-shape law in tests/test_text.py asserts no Exchange in
    either variant). At 100 TB swapping models in and out is therefore
    a plan-constant change: the weight array is a few KB riding the
    serialized plan to every task, and filtering still runs at scan
    speed. All arithmetic exact int64 — the oracle matches
    bit-for-bit.
    """
    from ..operators import text as tx

    weights = [((i * 7919 + 13) % 401) - 200 for i in range(4096)]
    (documents,) = load_tables(spark, sf_dir, "documents")
    score = tx.hashed_classifier_score_learned("text", weights)
    return documents.select(
        "doc_id",
        "lang",
        tx.classifier_token_count("text").alias("n_tokens"),
        score.alias("clf_score"),
        (score > F.lit(0)).alias("accepted"),
    )


def _trained_clf_oracle() -> str:
    """The DuckDB twin of the TRAINED model: the committed quantized
    weight vector inlined as a SQL list literal (≈13 KB of mostly
    zeros — the oracle is generated from the same artifact the Spark
    plan constant-folds, so the two engines score the identical
    model)."""
    from ..operators.clf_model import N_FEATURES, TRAINED_WEIGHTS

    w_sql = "[" + ", ".join(str(w) for w in TRAINED_WEIGHTS) + "]"
    return f"""
    WITH w AS (SELECT {w_sql} AS wv),
    toks AS (
      SELECT doc_id, lang,
             [t FOR t IN string_split_regex(lower(text), '[^a-z]+')
                IF t <> ''] AS ts
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang,
             CAST(len(ts) AS BIGINT) AS n_tokens,
             CAST(coalesce(list_sum(
               [wv[1 + CAST(list_reduce(
                          [ascii(c) FOR c IN string_split(t, '')],
                          (h, c2) -> (h * 31 + c2) % {N_FEATURES})
                        AS BIGINT)]
                FOR t IN ts]), 0) AS BIGINT) AS clf_score
      FROM toks, w
    )
    SELECT doc_id, lang, n_tokens, clf_score,
           clf_score > 0 AS accepted
    FROM scored
    """


@query("classifier_trained_model_filter", oracle=_trained_clf_oracle())
def classifier_trained_model_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering under weights that were actually
    TRAINED in-engine — closing the loop the two queries above open
    (`classifier_quality_filter` proves the scan-speed plan,
    `classifier_learned_weights_filter` proves the plan-constant model
    swap; this one swaps in a REAL model). The committed artifact
    (operators/clf_model.py, regenerated by tools/train_classifier.py)
    comes from MLlib LogisticRegression over hashed bag-of-words
    counts built with the SAME tokenizer + 31-polynomial feature hash
    the inference expression uses
    (operators/text.py::train_hashed_classifier), fix-point quantized
    round(1000·w) so scoring stays exact int64 — and the oracle inlines
    the identical vector as a SQL literal, so both engines score the
    same model bit-for-bit.

    Training is offline-once on a bounded labeled corpus (the
    deterministic fixture — the container has no external labeled
    data); deployment is a committed constant, exactly how production
    quality filters ship (fastText/CCNet methodology). The
    quantized-vs-float ranking-equivalence law and the no-Exchange
    plan-shape law ride in tests/test_text.py.

    Plan shape: identical to both siblings — ONE narrow projection
    over the documents scan; swapping the trained model in changed no
    physical plan, only the 13 KB array literal riding it."""
    from ..operators import text as tx
    from ..operators.clf_model import TRAINED_WEIGHTS

    (documents,) = load_tables(spark, sf_dir, "documents")
    score = tx.hashed_classifier_score_learned("text", TRAINED_WEIGHTS)
    return documents.select(
        "doc_id",
        "lang",
        tx.classifier_token_count("text").alias("n_tokens"),
        score.alias("clf_score"),
        (score > F.lit(0)).alias("accepted"),
    )


# --------------------------------------------------------------------------
# Deterministic epoch shuffle (training-order resharding)
# --------------------------------------------------------------------------

_SHUF_SHARDS = 8


@query(
    "epoch_shuffle_stats",
    oracle=f"""
    WITH epochs AS (SELECT * FROM (VALUES (0), (1)) e(epoch)),
    params AS (
      SELECT epoch,
             (2 * (((epoch + 1) * 2654435761) % 1073741824) + 1)
               % 2147483648 AS a,
             ((epoch + 1) * 40503 + 2531011) % 2147483648 AS b
      FROM epochs
    ),
    placed AS (
      SELECT p.epoch,
             (d.doc_id * p.a + p.b) % 2147483648 AS pos,
             d.n_chars
      FROM documents d CROSS JOIN params p
    )
    SELECT epoch,
           CAST(pos % {_SHUF_SHARDS} AS INTEGER) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT pos) AS BIGINT) AS n_distinct_pos,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(min(pos) AS BIGINT) AS min_pos,
           CAST(max(pos) AS BIGINT) AS max_pos
    FROM placed
    GROUP BY epoch, shard
    """,
)
def epoch_shuffle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch reshuffle audit — place every document for
    training epochs 0 and 1 via the affine permutation
    `operators/sampling.py::epoch_shuffle` and report per-(epoch,
    shard) occupancy: row count, DISTINCT position count (equal to
    n_docs ⇔ the permutation really is injective — the bijectivity
    proof rides in the result), char mass, and the position range.

    Scale shape: shard/pos assignment is a narrow projection (pure
    int64 affine arithmetic on the id — no RNG, no zipWithIndex, no
    global sort), one epoch per pass exactly as a training loader
    consumes it; the only exchange is the per-(epoch, shard) hash
    aggregate (16 groups), and a production shard WRITE would reuse
    that same single exchange as `repartition(shard) +
    sortWithinPartitions(shuffle_pos)`. The union of two epochs here
    is two passes over one tiny fixture; real loaders run one epoch
    at a time anyway.
    """
    from ..operators.sampling import epoch_shuffle

    (documents,) = load_tables(spark, sf_dir, "documents")
    per_epoch = [
        epoch_shuffle(documents, "doc_id", epoch=e, n_shards=_SHUF_SHARDS)
        .withColumn("epoch", F.lit(e))
        for e in (0, 1)
    ]
    both = per_epoch[0].unionByName(per_epoch[1])
    return both.groupBy("epoch", "shard").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("shuffle_pos").alias("n_distinct_pos"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("shuffle_pos").alias("min_pos"),
        F.max("shuffle_pos").alias("max_pos"),
    )
