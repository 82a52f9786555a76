"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Extension layer (no reference counterpart). All algorithms follow the
published literature — Broder's MinHash (1997), Charikar's SimHash
(STOC 2002), standard LSH banding as in Mining of Massive Datasets
(Leskovec/Rajaraman/Ullman, ch. 3) — implemented as shuffle-conscious
DataFrame plans:

- no cross joins anywhere: candidate pairs come from equi-joins on
  band/bucket keys, so the shuffle key space is the bucket id;
- signatures (MinHash, SimHash) are built with ``explode`` + ONE hash
  aggregate whose per-column min/sum expressions are whole-stage
  codegen'd; map-side partial aggregation keeps the shuffle at one
  signature-width row per doc per map task;
- everything is JVM built-ins (xxhash64, shift/xor bit ops) — no
  Python in the hot path, and no interpreted higher-order array
  functions (transform/aggregate are CodegenFallback — measured ~9-13x
  slower than the compiled aggregate form).

At 100 TB: every stage keys its shuffle on (doc/bucket) ids; skewed
buckets (stop-shingles) are capped via ``MAX_BUCKET_SIZE``.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .observe import checkpoint_with_metrics
from .text import normalize_text, tokens

__all__ = [
    "exact_dedup",
    "word_ngrams",
    "ngram_jaccard_pairs",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "build_minhash_index",
    "minhash_lsh_probe",
    "simhash",
    "simhash_pairs",
    "embedding_cosine_pairs",
    "connected_components",
    "blocking_edges",
    "contamination_screen",
    "template_doc_flags",
    "release_pinned",
    "pinned_scope",
]


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------


def _spread(df: DataFrame, id_col: str) -> DataFrame:
    """Repartition on the id ONLY when the input is under-partitioned
    (fewer partitions than cores), so single-file inputs don't
    serialize the heavy per-row compute onto one task. A
    well-partitioned large corpus skips the exchange entirely — plan
    reuse across self-join sides is provided by _pin (persist), not by
    this repartition, so skipping it is safe.

    Note: the probe reads the PLANNED partition count (pre-AQE) — an
    upstream shuffle planned wide but runtime-coalesced small can slip
    past it; callers feeding tiny shuffled batches should repartition
    explicitly."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, F.col(id_col))


#: MinHash-LSH shape: hashes per signature, bands (64/16 → 4 rows per
#: band, an S-curve threshold near 0.5 Jaccard) and word-shingle size.
#: One value each, so an index built by build_minhash_index always
#: bands the way minhash_lsh_probe reads it.
MINHASH_NUM_HASHES = 64
MINHASH_BANDS = 16
SHINGLE_SIZE = 5

#: skew guard: LSH buckets and shingles with more docs than this are
#: dropped before the pair join (a B-doc bucket yields B² candidate
#: pairs)
MAX_BUCKET_SIZE = 1000

#: ngram_jaccard_pairs and the minhash_lsh_pairs verify keep pairs
#: whose exact n-gram Jaccard reaches this
JACCARD_THRESHOLD = 0.2

#: template_doc_flags: a shingle is hot when at least this many docs
#: (and 1% of the corpus) hold it
HOT_MIN_DOCS = 5

#: simhash_pairs keeps pairs within this Hamming distance
MAX_HAMMING = 3

#: embedding_cosine_pairs keeps pairs whose cosine reaches this
COSINE_THRESHOLD = 0.4

#: cap on embedding_cosine_pairs' block count B (B = 2·parallelism)
MAX_COSINE_BLOCKS = 64

#: strong refs on purpose: Spark's CacheManager keys cached data on the
#: logical plan and frees it only via unpersist — a GC'd Python wrapper
#: would leave the storage pinned AND unreachable. release_pinned() is
#: the one cleanup path, so the refs must stay alive until it runs.
_PINNED: list[DataFrame] = []

#: rounds the LAST connected_components call ran — pass-count
#: instrumentation for the r15 pointer-doubling law (tests/test_dedup)
LAST_CC_ROUNDS = 0

#: depth of currently-open pinned_scope() blocks — release_pinned()
#: refuses to run inside one (it would drain frames the scope owns,
#: see release_pinned's docstring).
_SCOPE_DEPTH: int = 0


def _pin(df: DataFrame) -> DataFrame:
    """Persist (memory, spill to disk) a frame that the surrounding
    plan references more than once. Without it, each reference
    recomputes the whole subtree — self-joins and skew-guard probes
    below reference their inputs 2-3 times, and ReusedExchange only
    kicks in when the exchanges are bit-identical, which column
    renames on the two join sides defeat. Persisted frames here are
    signature-sized (O(docs × num_hashes) longs), orders of magnitude
    smaller than the corpus; at cluster scale MEMORY_AND_DISK spills
    rather than OOMs. Benchmarked ~40% off the verified-LSH wall
    clock at sf0.1.

    Storage lifecycle: persisted blocks (incl. disk spill) are freed
    only by an explicit unpersist or context shutdown — NOT by job
    completion. Each pin is recorded; long-lived sessions that invoke
    these pipelines repeatedly should call :func:`release_pinned`
    after materializing each output."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _PINNED.append(df)
    return df


def register_pinned(df: DataFrame) -> DataFrame:
    """Record an ALREADY-materialized frame (eager localCheckpoint /
    persist done by the caller) in the pin registry so
    :func:`release_pinned` / :func:`pinned_scope` can free its blocks
    deterministically. The checkpoint-heavy index operators
    (operators/similarity.py) route their returned pinned frames here —
    without registration a long-lived session (oracle sweeps, the
    streaming index maintainer) would leave block-manager cleanup to
    nondeterministic GC.

    CAVEAT the caller owns: a ``localCheckpoint`` has its lineage
    TRUNCATED, so unlike plain persisted frames it cannot recompute
    after release — only call :func:`release_pinned` once every lazy
    consumer of the registered frame has been materialized (both
    harness call sites — tools/check_oracle.py and bench.measure — do
    exactly that, releasing after each query's output is hashed).
    :func:`release_pinned` refuses to run inside an active
    :func:`pinned_scope`, so that misuse fails loudly at the release
    site instead of as a distant job failure."""
    _PINNED.append(df)
    return df


def release_pinned() -> int:
    """Unpersist every frame pinned by this module's operators since
    the last call; returns how many were released. Safe to call after
    the operator's output has been materialized (written/collected) —
    lazily-held outputs over PERSISTED frames transparently recompute;
    frames registered via :func:`register_pinned` that are
    localCheckpoints do NOT (truncated lineage), so materialize first.

    Raises RuntimeError when called inside an active
    :func:`pinned_scope`: the global drain would release frames the
    scope still owns — including lineage-truncated checkpoints whose
    consumers have not materialized yet, an UNRECOVERABLE job failure
    at some distant action. The misordering fails loudly here, at the
    release site, instead (r9 advice)."""
    if _SCOPE_DEPTH:
        raise RuntimeError(
            "release_pinned() called inside an active pinned_scope(): the "
            "scope owns its frames (registered localCheckpoints cannot "
            "recompute after release) — let the scope exit drain them, or "
            "release after it closes"
        )
    n = 0
    while _PINNED:
        _PINNED.pop().unpersist()
        n += 1
    return n


@contextmanager
def pinned_scope() -> Iterator[None]:
    """Scope the pin registry to a block: frames pinned inside the
    ``with`` are unpersisted on exit (LIFO), frames pinned before it
    are untouched. The storage-safe way for a long-lived session to
    call the pinning operators (minhash_lsh_pairs, minhash_lsh_probe,
    simhash_pairs, ngram_jaccard_pairs, template_doc_flags)::

        with pinned_scope():
            pairs = minhash_lsh_pairs(df, "text", "doc_id")
            pairs.write.parquet(out)   # materialize INSIDE the scope

    Exit unpersists, so outputs must be materialized (written /
    collected) inside the block — a frame held lazily past the exit
    recomputes its signatures from scratch on next use (true for plain
    persists only; registered localCheckpoints cannot recompute, which
    is why :func:`release_pinned` refuses to run while a scope is
    open)."""
    global _SCOPE_DEPTH
    mark = len(_PINNED)
    _SCOPE_DEPTH += 1
    try:
        yield
    finally:
        _SCOPE_DEPTH -= 1
        while len(_PINNED) > mark:
            _PINNED.pop().unpersist()


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup on normalized text: one hash-aggregate keyed on the
    text (Spark's partial+final HashAggregate — map-side combine makes
    the shuffle carry one row per distinct text per partition).

    Returns (keep_id, n_copies, fingerprint) — ``keep_id`` is the
    smallest id among copies, the usual stable survivor rule.
    """
    norm = normalize_text(F.col(text_col))
    return (
        df.select(F.col(id_col), norm.alias("_norm"))
        .groupBy("_norm")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
        .select(
            "keep_id",
            "n_copies",
            F.md5(F.col("_norm").cast("binary")).alias("fingerprint"),
        )
    )


# --------------------------------------------------------------------------
# Word n-grams (shingles) + exact Jaccard
# --------------------------------------------------------------------------


def word_ngrams(col: Column | str, n: int = 5) -> Column:
    """Word-level n-gram shingles as array<string> (space-joined).
    Documents shorter than n tokens yield their whole token string as a
    single shingle, so no document silently disappears."""
    toks = tokens(col)
    c = F.size(toks)
    joined = F.array_join(toks, " ")
    grams = F.transform(
        F.sequence(F.lit(0), c - F.lit(n)),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    return F.when(c >= n, grams).otherwise(F.array(joined))


def _doc_shingles(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, ``SHINGLE_SIZE``-word shingle) pairs, distinct per document.
    NULL/whitespace-only texts emit NO rows — without the filter,
    ``word_ngrams`` wraps them into a single NULL/empty shingle that
    every such doc shares, and they'd all pair up as jaccard-1.0
    "duplicates" of each other."""
    return (
        df.filter(F.trim(F.coalesce(F.col(text_col), F.lit(""))) != "")
        .select(F.col(id_col).alias("_id"),
                F.explode(F.array_distinct(word_ngrams(text_col, SHINGLE_SIZE)))
                .alias("_sh"))
    )


def contamination_screen(
    df: DataFrame,
    text_col: str,
    id_col: str,
    eval_pred: Column,
) -> DataFrame:
    """Benchmark-contamination screen: flag every training document
    sharing at least one word ``SHINGLE_SIZE``-gram shingle with the held-out/eval
    split (the standard 'n-gram overlap' decontamination rule, e.g.
    GPT-3 appendix C / PaLM §7 — public methodology).

    ``eval_pred`` partitions the corpus: rows where it holds are the
    eval split, the rest are training docs to screen. Output is one row
    PER TRAINING DOC — (id, shared_shingles, contaminated) — so clean
    docs are asserted clean, not silently absent.

    Scale shape: one corpus scan builds distinct-per-doc shingles; the
    eval side (benchmarks are tiny relative to a 100 TB corpus) reduces
    to a distinct shingle set that BROADCASTS into an equi-join — the
    training side never shuffles on the shingle, only on the doc id for
    the final count. No cross join, no theta join.
    """
    ev_shingles = (
        _doc_shingles(df.filter(eval_pred), text_col, id_col)
        .select("_sh")
        .distinct()
    )
    hits = (
        _doc_shingles(_spread(df.filter(~eval_pred), id_col), text_col, id_col)
        .join(F.broadcast(ev_shingles), "_sh")
        .groupBy("_id")
        .agg(F.count("*").alias("shared_shingles"))
    )
    train = df.filter(~eval_pred).select(F.col(id_col).alias("_id"))
    return (
        train.join(hits, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("shared_shingles", F.lit(0)).alias("shared_shingles"),
            (F.coalesce("shared_shingles", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def template_doc_flags(
    df: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Templated-document detection via hot-shingle ratio: a document
    most of whose word n-grams also occur in many OTHER documents is
    boilerplate/template material (mirror pages, generated listings) —
    the corpus-level complement of pairwise near-dedup, which misses
    templates because no single pair clears the Jaccard bar (the
    C4/RefinedWeb "repetitious content" family of curation rules —
    public methodology).

    A shingle is *hot* when its document frequency ≥
    ``max(HOT_MIN_DOCS, 0.01 · n_docs)``; a doc is flagged when at
    least half of its distinct shingles are hot.

    Scale shape: distinct-per-doc shingles exploded ONCE and pinned
    (MEMORY_AND_DISK, same trade the MinHash path takes — without the
    pin the explode re-runs for each of the three consumers, i.e. three
    corpus scans); shingle doc frequency is a map-side-combining hash
    agg keyed on the shingle; the hot set (small by construction — only
    shingles repeated across ≥1% of the corpus) equi-joins back (AQE
    broadcasts it when it fits); per-doc sizes and hot counts are two
    aggs on the doc id. No pair join anywhere — cost is linear in
    corpus shingles, unlike the O(pairs) near-dup operators. The
    doc-count scalar enters via a 1-row crossJoin broadcast (same
    pattern as tfidf_top_terms). Call under :func:`pinned_scope` (or
    :func:`release_pinned`) to free the pinned frame.

    Returns one row per document: (id, n_shingles, hot_shingles,
    hot_ratio, is_template) — clean docs asserted clean, not absent.
    """
    sh = _pin(_doc_shingles(_spread(df, id_col), text_col, id_col))
    n_docs = df.select(F.count("*").alias("_nd"))
    hot_bar = F.greatest(F.lit(HOT_MIN_DOCS), F.ceil(F.lit(0.01) * F.col("_nd")))
    hot = (
        sh.groupBy("_sh")
        .agg(F.count("*").alias("_df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("_df") >= hot_bar)
        .select("_sh")
    )
    hot_counts = (
        sh.join(hot, "_sh")
        .groupBy("_id")
        .agg(F.count("*").alias("_hot"))
    )
    # LEFT join from the full doc set: shingle-less docs (null/blank
    # text — _doc_shingles emits nothing for them) are still REPORTED,
    # with 0 shingles and is_template=false, not silently absent.
    sizes = df.select(F.col(id_col).alias("_id")).join(
        sh.groupBy("_id").agg(F.count("*").alias("_n_sh")), "_id", "left"
    )
    n_sh = F.coalesce("_n_sh", F.lit(0))
    ratio = F.when(
        n_sh > 0, F.round(F.coalesce("_hot", F.lit(0)) / n_sh, 6)
    ).otherwise(F.lit(0.0))
    return (
        sizes.join(hot_counts, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            n_sh.cast("long").alias("n_shingles"),
            F.coalesce("_hot", F.lit(0)).cast("long").alias("hot_shingles"),
            ratio.alias("hot_ratio"),
            (ratio >= 0.5).alias("is_template"),
        )
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle
    and reaching ``JACCARD_THRESHOLD``.

    Plan: explode distinct shingles → self equi-join on the shingle
    (never a cross join; candidate generation is keyed on shingle) →
    count shared shingles per pair → join per-doc shingle counts →
    jaccard = inter / (|A| + |B| - inter).

    ``MAX_BUCKET_SIZE`` drops degenerate stop-shingles shared by more
    than N docs — they generate O(N²) candidates while carrying no
    signal (the standard skew guard for shingle joins). The guard is a
    window count over the shingle key (one shuffle, no self-join), and
    the exploded shingle frame is pinned (_pin) because the plan
    references it three times (sizes + both join sides).
    """
    df = _spread(df, id_col)
    sh = _pin(_doc_shingles(df, text_col, id_col))
    sizes = sh.groupBy("_id").agg(F.count("*").alias("_size"))

    sh_kept = _pin(
        sh.withColumn("_df", F.count("*").over(Window.partitionBy("_sh")))
        .filter(F.col("_df") <= MAX_BUCKET_SIZE)
        .drop("_df")
    )

    a = sh_kept.select(F.col("_id").alias("id_a"), "_sh")
    b = sh_kept.select(F.col("_id").alias("id_b"), "_sh")
    inter = (
        a.join(b, "_sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_inter"))
    )
    out = (
        inter.join(sizes.withColumnsRenamed({"_id": "id_a", "_size": "_sa"}), "id_a")
        .join(sizes.withColumnsRenamed({"_id": "id_b", "_size": "_sb"}), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("_inter")
                / (F.col("_sa") + F.col("_sb") - F.col("_inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    return out


# --------------------------------------------------------------------------
# MinHash + LSH banding (Broder 1997; MMDS ch. 3)
# --------------------------------------------------------------------------


def minhash_signatures(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """MinHash signatures: (id, sig array<long>[MINHASH_NUM_HASHES])
    over word shingles of ``SHINGLE_SIZE``.

    Kirsch-Mitzenmacher construction (ESA 2006): each shingle is
    string-hashed exactly TWICE (h1 = xxhash64(s), h2 = xxhash64(1, s));
    the i-th hash function is h1 XOR rot(h2, i) — pure bit ops, overflow
    -free under ANSI mode. Element i of the signature is the min over
    the doc's shingles.

    Shape: explode distinct shingles → hash each once → ONE hash
    aggregate with MINHASH_NUM_HASHES codegen'd ``min`` columns. Spark's
    higher-order array functions (transform/zip_with/aggregate) are
    interpreted, never whole-stage-codegen'd — the per-row array-fold
    form of this signature benchmarked ~9x slower than this explode +
    compiled-min-agg form. The shuffle stays lean: partial (map-side)
    mins mean each map task ships one signature-long partial row per
    doc, NOT |shingles|·MINHASH_NUM_HASHES rows. Null/whitespace-only texts
    drop out (the _doc_shingles filter) — they have no shingles, so
    they can't be near-duplicates of anything.
    """
    return _signatures_from_shingle_rows(
        _doc_shingles(df, text_col, id_col), MINHASH_NUM_HASHES
    )


def _signatures_from_shingle_rows(sh: DataFrame, num_hashes: int) -> DataFrame:
    """The hash + min-aggregate core of ``minhash_signatures`` over an
    already-exploded (_id, _sh) frame — shared so callers that have the
    shingles materialized for other stages (the LSH verify join) don't
    pay the word_ngrams transform a second time."""
    hashed = sh.select(
        "_id",
        F.xxhash64("_sh").alias("_h1"),
        F.xxhash64(F.lit(1), "_sh").alias("_h2"),
    )

    def rot(c, i: int):
        if i == 0:
            return c
        return F.shiftleft(c, i).bitwiseXOR(F.shiftrightunsigned(c, 64 - i))

    sig = hashed.groupBy("_id").agg(
        *[
            F.min(F.col("_h1").bitwiseXOR(rot(F.col("_h2"), i))).alias(f"_m{i}")
            for i in range(num_hashes)
        ]
    )
    return sig.select(
        "_id", F.array(*[f"_m{i}" for i in range(num_hashes)]).alias("_sig")
    )


def _band_buckets(sig: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(_id, _band, _bucket): band bucket = hash of the band's signature
    slice. The band index comes from an explode GENERATOR so the
    signature expression sits below a Generate node — CollapseProject
    can't inline it into the per-band projection, so the (expensive)
    signature is computed once per document, not once per band."""
    return (
        sig.select(
            "_id",
            "_sig",
            F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("_band"),
        )
        .select(
            "_id",
            "_band",
            F.xxhash64(
                F.array_join(
                    F.transform(
                        F.slice(
                            F.col("_sig"),
                            F.col("_band") * rows_per_band + 1,
                            F.lit(rows_per_band),
                        ),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                )
            ).alias("_bucket"),
        )
    )


def minhash_lsh_pairs(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Near-duplicate pairs via LSH banding over MinHash signatures,
    verified with exact n-gram Jaccard. The twice-referenced
    shingle/signature/bucket frames are pinned (see _pin).

    Banding: MINHASH_NUM_HASHES/MINHASH_BANDS rows per band; a pair
    lands in a bucket iff a whole band of their signatures agrees. With
    64 hashes / 16 bands (r=4), the S-curve threshold is (1/16)^(1/4)
    ≈ 0.5 Jaccard.

    Output: (id_a, id_b, n_bands, jaccard) — one row per candidate pair
    whose exact Jaccard reaches ``JACCARD_THRESHOLD``.
    """
    num_hashes, bands = MINHASH_NUM_HASHES, MINHASH_BANDS
    rows_per_band = num_hashes // bands
    df = _spread(df, id_col)
    # Shingle ARRAYS are computed ONCE per document: the signature path
    # explodes this frame, and the verify join below reads the arrays
    # directly — without the shared pin the word_ngrams transform (the
    # most expensive scalar work in the plan) would run twice over the
    # corpus.
    doc_sh = _pin(
        df.filter(F.trim(F.coalesce(F.col(text_col), F.lit(""))) != "").select(
            F.col(id_col).alias("_id"),
            F.array_distinct(word_ngrams(text_col, SHINGLE_SIZE)).alias("_shs"),
        )
    )
    sig = _pin(
        _signatures_from_shingle_rows(
            doc_sh.select("_id", F.explode("_shs").alias("_sh")), num_hashes
        )
    )
    band_sig = _band_buckets(sig, bands, rows_per_band)
    # skew guard: a bucket with B docs yields B² pairs. A window count
    # over (_band,_bucket) instead of groupBy+self-join: ONE shuffle of
    # band_sig and no recomputation of the banding subtree for the
    # probe side.
    kept = _pin(
        band_sig.withColumn(
            "_bsz", F.count("*").over(Window.partitionBy("_band", "_bucket"))
        )
        .filter(F.col("_bsz") <= MAX_BUCKET_SIZE)
        .drop("_bsz")
    )
    a = kept.select(F.col("_id").alias("id_a"), "_band", "_bucket")
    b = kept.select(F.col("_id").alias("id_b"), "_band", "_bucket")
    pairs = (
        a.join(b, ["_band", "_bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_bands"))
    )
    # Verify CANDIDATES ONLY: banding already pruned the pair space, so
    # fetch each side's shingle ARRAY (the pinned doc_sh frame computed
    # once above) and intersect per row (array_intersect) — zero
    # explodes, candidate-proportional work.
    a = doc_sh.select(
        F.col("_id").alias("id_a"), F.col("_shs").alias("_sha")
    )
    b = doc_sh.select(
        F.col("_id").alias("id_b"), F.col("_shs").alias("_shb")
    )
    inter = F.size(F.array_intersect(F.col("_sha"), F.col("_shb")))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                inter / (F.size("_sha") + F.size("_shb") - inter), 6
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("id_a", "id_b", "n_bands", "jaccard")
    )


def build_minhash_index(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, sig) signature index for incremental near-dedup — write
    this ONCE per corpus (and append per batch); subsequent batches
    probe it via :func:`minhash_lsh_probe` without ever re-reading the
    corpus text. Signatures are deterministic (keyed xxhash64), so an
    index built in pieces equals one built whole."""
    return minhash_signatures(_spread(df, id_col), text_col, id_col).select(
        F.col("_id").alias(id_col), F.col("_sig").alias("sig")
    )


def minhash_lsh_probe(
    new_df: DataFrame,
    index: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Incremental near-dup candidates: every LSH pair involving at
    least one NEW document — new-vs-index and new-vs-new — WITHOUT
    re-sketching the corpus. At 100 TB this is the only affordable
    nightly shape: text is hashed for the incoming batch alone; the
    stored index contributes pre-computed signatures
    (``MINHASH_NUM_HASHES`` longs per doc, orders of magnitude smaller
    than its text).

    Contract (pytest-pinned): the result equals the candidate pairs of
    the full-corpus ``minhash_lsh_pairs`` (before its Jaccard filter)
    restricted to pairs touching a new doc — determinism of the keyed
    hashes makes incremental == monolithic, which is what lets a
    pipeline trust an index built batch-by-batch. Candidates only; the
    exact-Jaccard verify needs candidate texts, so run it as a
    candidate-proportional join against the corpus afterwards.

    Plan: new batch → signatures (one explode + compiled min-agg);
    index → rename only. Each side bands independently (array slicing,
    no text) and carries a literal side flag — no join back to recover
    it; the skew guard window sees the UNION (same bucket populations
    as the monolithic run — the guard can't diverge); the pair join
    probes new-side buckets against all. One shuffle each for
    signature agg, bucket window, and pair join — all keyed.
    The twice-probed bucket frame is pinned (see _pin; call under
    :func:`pinned_scope`); ids must be disjoint between batch and
    index — an id on both sides would pair with itself's bands.
    """
    bands = MINHASH_BANDS
    rows_per_band = MINHASH_NUM_HASHES // bands
    sig_new = minhash_signatures(_spread(new_df, id_col), text_col, id_col)
    sig_idx = index.select(
        F.col(id_col).alias("_id"), F.col("sig").alias("_sig")
    )
    banded = _band_buckets(sig_new, bands, rows_per_band).withColumn(
        "_new", F.lit(True)
    ).unionByName(
        _band_buckets(sig_idx, bands, rows_per_band).withColumn(
            "_new", F.lit(False)
        )
    )
    kept = _pin(
        banded.withColumn(
            "_bsz", F.count("*").over(Window.partitionBy("_band", "_bucket"))
        )
        .filter(F.col("_bsz") <= MAX_BUCKET_SIZE)
        .drop("_bsz")
    )
    a = kept.filter("_new").select(
        F.col("_id").alias("id_a"), "_band", "_bucket"
    )
    b = kept.select(
        F.col("_id").alias("id_b"), F.col("_new").alias("_new_b"), "_band", "_bucket"
    )
    # new-new pairs appear in both orders from this join; keep one. A
    # new-old pair appears once (only the new side is probed).
    return (
        a.join(b, ["_band", "_bucket"])
        .filter(
            (F.col("id_a") != F.col("id_b"))
            & (~F.col("_new_b") | (F.col("id_a") < F.col("id_b")))
        )
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_bands"))
    )


# --------------------------------------------------------------------------
# SimHash (Charikar, STOC 2002)
# --------------------------------------------------------------------------


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash per document — (id, simhash long).

    Bit b of the output is the sign of Σ_tokens (±1 depending on bit b
    of the token hash). Shape: explode tokens → ONE hash aggregate with
    64 codegen'd conditional sums → pack the 64 signs into a long with
    plain bit ops. Spark's higher-order array functions are interpreted
    (CodegenFallback), so the earlier zero-shuffle per-row fold was
    ~13x slower than this compiled aggregate; map-side partials keep
    the shuffle at one 64-column row per doc per map task. Null-text
    docs drop out at the explode (no tokens → nothing to near-match).

    The token hash is the first 16 hex digits of md5(token), split as
    two 32-bit halves. md5 exists in every engine, so an external SQL
    oracle (e.g. DuckDB) can recompute the identical simhash
    bit-for-bit."""
    # NULL text explodes to nothing; the '' filter drops the single
    # empty token whitespace-only docs produce (they'd otherwise all
    # share one signature and pair as Hamming-0 "duplicates")
    th = df.select(
        F.col(id_col).alias("_id"), F.explode(tokens(text_col)).alias("_t")
    ).filter(F.col("_t") != "")
    # two 32-bit halves of the leading 64 md5 bits; parsed via
    # conv(hex) which stays inside the positive long range, so ANSI
    # mode never overflows. Bits 0-31 come from the low half, 32-63
    # from the high half. The digest is projected ONCE and the halves
    # substring it — md5 per (token, half) doubled the hash cost when
    # inlined.
    th = th.select("_id", F.md5("_t").alias("_md5")).select(
        "_id",
        F.conv(F.substring("_md5", 1, 8), 16, 10).cast("long").alias("_hhi"),
        F.conv(F.substring("_md5", 9, 8), 16, 10).cast("long").alias("_hlo"),
    )

    def bit(b: int) -> Column:
        col = F.col("_hlo") if b < 32 else F.col("_hhi")
        return F.shiftright(col, b % 32).bitwiseAND(F.lit(1))

    counts = th.groupBy("_id").agg(
        *[
            F.sum(
                F.when(bit(b) == 1, F.lit(1)).otherwise(F.lit(-1))
            ).alias(f"_c{b}")
            for b in range(64)
        ]
    )
    packed = F.lit(0).cast("long")
    for b in range(64):
        packed = packed + F.when(
            F.col(f"_c{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
    return counts.select(F.col("_id").alias(id_col), packed.alias("simhash"))


def simhash_pairs(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``MAX_HAMMING``.

    Pigeonhole banding: split the 64-bit hash into 4 16-bit chunks;
    any pair within Hamming distance < 4 must agree on at
    least one chunk → equi-join per chunk, union, exact Hamming filter
    via bit_count(xor). No cross join; candidate generation is an
    equi-join on (chunk_idx, chunk_value). The chunk frame is pinned
    (_pin) — both self-join sides reference it.
    """
    sh = simhash(_spread(df, id_col), text_col, id_col).select(
        F.col(id_col).alias("_id"), "simhash"
    )
    chunks = 4
    chunk_bits = 64 // chunks
    mask = (1 << chunk_bits) - 1
    exploded = sh.select(
        "_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        F.shiftright(F.col("simhash"), i * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("cv"),
                    )
                    for i in range(chunks)
                ]
            )
        ).alias("_c"),
    ).select("_id", "simhash", F.col("_c.ci").alias("_ci"), F.col("_c.cv").alias("_cv"))
    exploded = _pin(exploded)

    a = exploded.select(
        F.col("_id").alias("id_a"), F.col("simhash").alias("_ha"), "_ci", "_cv"
    )
    b = exploded.select(
        F.col("_id").alias("id_b"), F.col("simhash").alias("_hb"), "_ci", "_cv"
    )
    return (
        a.join(b, ["_ci", "_cv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_ha", "_hb")
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
        )
        .filter(F.col("hamming") <= MAX_HAMMING)
        .select("id_a", "id_b", "hamming")
    )


# --------------------------------------------------------------------------
# Cluster resolution: connected components over duplicate-pair edges
# --------------------------------------------------------------------------


def blocking_edges(df: DataFrame, id_col: str, *key_cols: Column) -> DataFrame:
    """Star edges (id_a, id_b) from one or more blocking keys.

    For each key, every member of a block is connected to the block's
    MIN id — a star, not a clique: |block| edges instead of |block|²,
    with identical connected components. Multiple keys union (a doc in
    two overlapping blocks bridges them — exactly how multi-key fuzzy
    dedup blocking composes). One window per key, keyed shuffles only.
    """
    parts = []
    for i, key in enumerate(key_cols):
        keyed = df.select(F.col(id_col).alias("id_b"), key.alias("_k")).filter(
            F.col("_k").isNotNull()
        )
        w = Window.partitionBy("_k")
        parts.append(
            keyed.select(F.min("id_b").over(w).alias("id_a"), "id_b")
            .filter(F.col("id_a") != F.col("id_b"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()


def connected_components(edges: DataFrame, *, max_iter: int = 20) -> DataFrame:
    """Connected components by min-label propagation over (id_a, id_b)
    edges — (id, component), where component is the smallest id
    reachable from the node.

    This is the cluster-resolution step of every near-dup pipeline:
    pair output from minhash_lsh_pairs / simhash_pairs / blocking keys
    in, transitive duplicate groups out (survivor = the component id).

    Each iteration is ONE shuffle join (labels ⋈ edges on the node id)
    + ONE min-aggregate + ONE pointer-doubling label self-join; the
    convergence probe (did any label move?) rides the SAME
    materialization job via Observation instead of a separate isEmpty
    action (r14 verdict — guide §5: each extra sequential job is a
    driver round-trip + cluster-wide barrier).

    POINTER DOUBLING (r15 — guide §2, fewer sequential shuffle
    rounds): plain min-label propagation needs DIAMETER rounds, and
    SemDeDup's loose-threshold similarity graphs were measured running
    ~40 sequential rounds at bench scale (cosine ≥ 0.3 builds CHAINS,
    not cliques — exactly the high-diameter case Kiveris et al.'s
    "Connected Components in MapReduce", SoCC'14, warns about). Each
    round therefore also SHORTCUTS every label one hop — comp(v) :=
    min(comp(v), comp(comp(v))) via a node-sized label self-join — so
    the min label spreads ~2^r hops after r rounds and convergence is
    O(log diameter) rounds (~7 where propagation ran ~40). Exactness
    is unchanged: comp(v) always names a node of v's own component
    (propagation takes a neighbor's label, shortcutting takes THAT
    node's label — both stay in-component) and never rises, so the
    loop's fixed point (no label moved) still forces label equality
    across every edge — constant per component, and the constant is
    the component min because the min node's label can never drop
    below itself.

    The shortcut ENGAGES ONLY AFTER 3 PLAIN ROUNDS (r15 paired-subset
    measurement): near-clique dup graphs — the common case for every
    minhash/simhash pair feed — converge in 2-3 plain rounds, so for
    them the doubling self-join is pure per-round overhead (~2x work
    per round: the stepped subtree is derived twice), measured at
    0.81-0.87x on dedup_survivor_selection at sf0.1 when doubling ran
    unconditionally. A graph still moving after 3 rounds has diameter
    > 3 — the chain regime where doubling wins asymptotically; paying
    3 plain rounds first leaves total rounds O(log d) (3 + the doubled
    tail) while making the clique case exactly as cheap as plain
    propagation. Exactness is mode-independent: both the plain step
    and the doubled step preserve the invariant above.
    """
    und = edges.select(F.col("id_a").alias("s"), F.col("id_b").alias("d"))
    und = und.unionByName(
        und.select(F.col("d").alias("s"), F.col("s").alias("d"))
    ).distinct()
    und = und.localCheckpoint(eager=False)

    labels = (
        und.select(F.col("s").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint(eager=False)
    )
    changed = True
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        neighbor_min = (
            und.join(labels, und["s"] == labels["id"])
            .select(F.col("d").alias("id"), "comp")
            .groupBy("id")
            .agg(F.min("comp").alias("_nmin"))
        )
        stepped = labels.join(neighbor_min, "id", "left").select(
            "id",
            F.col("comp").alias("_prev"),
            F.least(F.col("comp"), F.coalesce("_nmin", "comp")).alias("comp"),
        )
        if rounds <= 3:
            # plain-propagation warm-up: cliques converge here with
            # zero doubling overhead (see docstring)
            new_labels, _m = checkpoint_with_metrics(
                stepped.select(
                    "id",
                    "comp",
                    (F.col("comp") < F.col("_prev")).alias("_chg"),
                ),
                n_chg=F.sum(F.col("_chg").cast("long")),
            )
        else:
            # shortcut: follow the POST-step label one hop (comp :=
            # comp(comp(v))) — the self-join re-derives the stepped
            # subtree, but measured fewer total stage-jobs than
            # probing the previous round's cached labels (the
            # post-step labels are one hop further, so rounds
            # converge faster: spread 2(d+1) vs 2d+1 hops per round)
            hop = stepped.select(
                F.col("id").alias("_hid"), F.col("comp").alias("_hcomp")
            )
            doubled = F.least(F.col("comp"), F.coalesce("_hcomp", "comp"))
            new_labels, _m = checkpoint_with_metrics(
                stepped.join(
                    hop, stepped["comp"] == hop["_hid"], "left"
                ).select(
                    "id",
                    doubled.alias("comp"),
                    (doubled < F.col("_prev")).alias("_chg"),
                ),
                n_chg=F.sum(F.col("_chg").cast("long")),
            )
        changed = int(_m["n_chg"] or 0) > 0
        labels = new_labels.select("id", "comp")
        if not changed:
            break
    global LAST_CC_ROUNDS
    LAST_CC_ROUNDS = rounds
    if changed:
        # Falling through with labels still moving would hand the caller
        # plausible-looking but WRONG clusters (split components). Label
        # propagation needs ~graph-diameter iterations; dup graphs are
        # near-cliques (2-3), so hitting the cap means the edge set is
        # not a dup graph — fail loudly rather than mis-cluster.
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} "
            "iterations (graph diameter exceeds the cap); raise max_iter "
            "or pre-contract the graph"
        )
    return labels


# --------------------------------------------------------------------------
# Embedding cosine near-dup
# --------------------------------------------------------------------------


def _cell_cosines(A, B):
    """(C, live) for two float64 blocks of row vectors: ``C[i, j]`` is
    the cosine of A[i] and B[j] from one matmul, ``live[i, j]`` is
    False where either norm is 0 — that pair has no cosine (0/0), so
    its entry is 0 and never computed."""
    import numpy as np

    na = np.sqrt((A * A).sum(axis=1))
    nb = np.sqrt((B * B).sum(axis=1))
    live = np.outer(na > 0, nb > 0)
    C = np.divide(A @ B.T, np.outer(na, nb), out=np.zeros(live.shape), where=live)
    return C, live


def _exact_pairs_arrow(
    base: DataFrame, b_blocks: int, threshold: float
) -> DataFrame:
    """Triangle block-grid exact join over (_id, _v double[]): each
    cell's two block slices travel ONCE through Arrow (n·~B/2 rows of
    vectors — megabytes, not the gigabytes the (n/B)² pair rows would
    be) and numpy computes the whole cell's cosines as one float64
    matmul (``_cell_cosines``). A pair with a zero-norm side has no
    cosine and is never emitted. Emits RAW cosines pre-filtered with
    1e-6 slack — strictly wider than the 5e-7 half-ulp that HALF_UP
    rounding at 6 dp can add, so no pair that rounds up onto the
    threshold is dropped; the caller rounds and filters in Spark. float64 matmul vs a SQL oracle's
    sequential fold differs by ~1e-16 relative — invisible at 6 dp
    (oracle-verified)."""
    import numpy as np
    import pandas as pd

    blk = F.pmod(F.xxhash64(F.col("_id")), F.lit(b_blocks)).cast("int")
    with_blk = base.withColumn("_blk", blk)
    side_a = with_blk.select(
        "_id", "_v",
        F.col("_blk").alias("_p"),
        F.explode(F.sequence(F.col("_blk"), F.lit(b_blocks - 1))).alias("_q"),
        F.lit(0).alias("_side"),
    )
    side_b = with_blk.select(
        "_id", "_v",
        F.explode(F.sequence(F.lit(0), F.col("_blk"))).alias("_p"),
        F.col("_blk").alias("_q"),
        F.lit(1).alias("_side"),
    )
    cells = side_a.unionByName(side_b)

    _id_t = base.schema["_id"].dataType.simpleString()
    out_schema = f"id_a {_id_t}, id_b {_id_t}, _raw double"

    def score_cell(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        p, q = int(key[0]), int(key[1])
        a = pdf[pdf["_side"] == 0]
        b = pdf[pdf["_side"] == 1]
        if a.empty or b.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "_raw": []})
        A = np.stack(a["_v"].to_numpy()).astype(np.float64)
        B = np.stack(b["_v"].to_numpy()).astype(np.float64)
        C, live = _cell_cosines(A, B)
        ia = a["_id"].to_numpy()
        ib = b["_id"].to_numpy()
        mask = live & (C >= threshold - 1e-6)
        if p == q:
            mask &= ia[:, None] < ib[None, :]
        r, c = np.nonzero(mask)
        left, right = ia[r], ib[c]
        return pd.DataFrame(
            {
                "id_a": np.minimum(left, right),
                "id_b": np.maximum(left, right),
                "_raw": C[r, c],
            }
        )

    return cells.groupBy("_p", "_q").applyInPandas(score_cell, out_schema)


def embedding_cosine_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ ``COSINE_THRESHOLD`` —
    (id_a, id_b, cosine), id_a < id_b, cosine rounded to 6 dp; a zero
    vector pairs with nothing.

    Triangle block-grid self-join, an equi-grouping (no theta join, so
    no BroadcastNestedLoopJoin/CartesianProduct ever appears). Each
    vector hashes to one of B blocks; side A explodes to cells (p, q≥p),
    side B to cells (p≤q, q); the (p, q) cell key realizes every
    unordered block pair exactly once. The O(n²) pair work is inherent
    to an exact threshold join over dense vectors (no sound pruning
    exists at low thresholds), but it is spread evenly over B(B+1)/2
    cells of (n/B)² pairs. B is 2·defaultParallelism, capped at
    ``MAX_COSINE_BLOCKS``.
    Per cell, ``applyInPandas`` moves the two block SLICES through
    Arrow (linear in n·B), BLAS does the quadratic flops, and only
    survivors come back (``_exact_pairs_arrow``).

    The brute-force theta-join form this replaces survives only in
    tests (tests/test_dedup.py) as the verification baseline.
    """
    b_blocks = min(
        MAX_COSINE_BLOCKS, df.sparkSession.sparkContext.defaultParallelism * 2
    )
    base = _spread(df, id_col).select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    return (
        _exact_pairs_arrow(base, b_blocks, COSINE_THRESHOLD)
        .withColumn("cosine", F.round(F.col("_raw"), 6))
        .filter(F.col("cosine") >= COSINE_THRESHOLD)
        .select("id_a", "id_b", "cosine")
    )
