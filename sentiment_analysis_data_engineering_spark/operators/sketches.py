"""Frequency & membership sketches: Misra-Gries heavy hitters and
Bloom-filter join pruning.

Extension layer (no reference counterpart — the reference's BigQuery
tier handles cardinality server-side; a 100 TB Spark pipeline needs
these client-side):

- ``heavy_hitters_exact`` — the two-pass exact heavy-hitters pattern:
  a Misra-Gries pass per partition produces a BOUNDED candidate set
  (≤ k keys per partition, guaranteed to contain every key with global
  frequency > n/(k+1)), then one exact recount over the broadcast
  candidates. Neither pass shuffles the full key cardinality — the
  only wide operation is a grouped count over candidate-matching rows.
- ``bloom_build`` / ``bloom_prune`` — a portable Bloom filter built
  distributedly (per-partition bitmaps OR-merged on the driver — a
  bounded model-build action, bytes ∝ m_bits × BLOOM_BUILD_PARTITIONS,
  independent of row count) and applied as an Arrow-vectorized
  membership filter BEFORE a join's shuffle. Spark's AQE can inject
  runtime bloom filters (spark.sql.optimizer.runtime.bloomFilter.*);
  this operator makes the pruning explicit, portable, and reusable
  across stages/jobs (the serialized filter is just bytes).

Hashing is multiply-shift over uint64 with fixed odd constants — pure
numpy, identical on every executor, no Python-hash randomization.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

__all__ = [
    "misra_gries_candidates",
    "heavy_hitters_exact",
    "bloom_build",
    "bloom_prune",
    "cms_build",
    "cms_merge",
    "cms_estimate",
    "CMS_HASHES",
    "CMS_P",
]

# Fixed odd 64-bit multipliers/offsets (splitmix64 mixing constants and
# golden-ratio multiples) — deterministic across processes, unlike
# Python's salted hash().
_HASH_A = np.array(
    [0x9E3779B97F4A7C15, 0xBF58476D1CE4E5B9, 0x94D049BB133111EB,
     0xD6E8FEB86659FD93],
    dtype=np.uint64,
)
_HASH_B = np.array(
    [0x2545F4914F6CDD1D, 0x27D4EB2F165667C5, 0x85EBCA77C2B2AE63,
     0x165667B19E3779F9],
    dtype=np.uint64,
)


#: Bloom sizing: the bitmap is the next power of two >= this many bits
#: per distinct key (floor 2^14), probed by BLOOM_G hashes — a ~0.24%
#: false-positive rate; the build side is coalesced to at most
#: BLOOM_BUILD_PARTITIONS tasks, one bitmap row each
BLOOM_BITS_PER_KEY = 16
BLOOM_G = 4
BLOOM_BUILD_PARTITIONS = 32


def _bloom_positions(keys: np.ndarray, m_bits: int, g: int) -> np.ndarray:
    """(g, len(keys)) bit positions; m_bits must be a power of two."""
    mask = np.uint64(m_bits - 1)
    with np.errstate(over="ignore"):
        k = keys.astype(np.uint64)
        return np.stack(
            [((k * _HASH_A[i] + _HASH_B[i]) & mask) for i in range(g)]
        )


# --------------------------------------------------------------------------
# Misra-Gries heavy hitters
# --------------------------------------------------------------------------


def misra_gries_candidates(df: DataFrame, key_col: str, *, k: int) -> DataFrame:
    """Per-partition Misra-Gries summaries: ≤ ``k`` candidate keys per
    partition plus one per-partition row-count marker row.

    Output schema: (key_col, mg_count long, is_total boolean) — marker
    rows carry key=NULL/is_total=true with mg_count = partition rows.

    Guarantee (the reason this scales): within a partition of n_p rows,
    every key with in-partition count > n_p/(k+1) survives. Hence any
    key with GLOBAL count > N/(k+1) survives in at least one partition
    (pigeonhole: if it were ≤ n_p/(k+1) in every partition, its total
    would be ≤ Σ n_p/(k+1) = N/(k+1)). The batched reduction step
    subtracts the (k+1)-th largest count from all counters — each such
    δ-subtraction removes ≥ (k+1)·δ mass, so total subtraction is
    ≤ n_p/(k+1), the classic MG bound.

    Candidate volume is ≤ k × partitions — bounded by the CLUSTER, not
    the data — so the downstream distinct+broadcast stays tiny at any
    corpus size.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    dtype = dict(df.dtypes)[key_col]
    schema = f"{key_col} {dtype}, mg_count long, is_total boolean"

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        n_rows = 0
        for pdf in batches:
            s = pdf[key_col].dropna()
            n_rows += len(pdf)
            for key, c in s.value_counts().items():
                counters[key] = counters.get(key, 0) + int(c)
            if len(counters) > k:
                counts = np.sort(np.fromiter(counters.values(), dtype=np.int64))
                delta = int(counts[-(k + 1)])  # (k+1)-th largest
                counters = {
                    key: c - delta for key, c in counters.items() if c > delta
                }
        out = pd.DataFrame(
            {
                key_col: list(counters.keys()),
                "mg_count": list(counters.values()),
                "is_total": False,
            }
        )
        marker = pd.DataFrame(
            {key_col: [None], "mg_count": [n_rows], "is_total": [True]}
        )
        yield pd.concat([out, marker], ignore_index=True).astype(
            {"mg_count": "int64", "is_total": "bool"}
        )

    return df.select(key_col).mapInPandas(summarize, schema=schema)


def heavy_hitters_exact(
    df: DataFrame, key_col: str, *, k: int
) -> DataFrame:
    """Exact heavy hitters: every key with count > N/(k+1), with its
    EXACT global count — found without ever shuffling the full key
    cardinality.

    Two passes: (1) Misra-Gries candidates (≤ k × partitions keys —
    cluster-bounded) + per-partition totals from the same scan;
    (2) exact recount of rows matching the broadcast candidate set.
    The recount's group-by shuffles only candidate-matching rows, and
    the final filter applies the exact threshold, so output is
    identical to the naive full group-by + HAVING — the sketch only
    prunes work, never changes the answer.

    Returns (key_col, n_rows long) for keys with n_rows > N/(k+1).
    """
    summary = misra_gries_candidates(df, key_col, k=k)
    # One narrow pass materializes both candidate keys and N.
    summary = summary.persist()
    try:
        total = summary.filter(F.col("is_total")).agg(
            F.sum("mg_count").alias("n_total")
        )
        cands = (
            summary.filter(~F.col("is_total")).select(key_col).distinct()
        )
        counts = (
            df.join(F.broadcast(cands), key_col, "left_semi")
            .groupBy(key_col)
            .agg(F.count("*").alias("n_rows"))
        )
        out = counts.crossJoin(F.broadcast(total)).filter(
            F.col("n_rows") > F.col("n_total") / (k + 1.0)
        ).select(key_col, "n_rows")
        # Force both consumers of `summary` before releasing the pin.
        out = out.localCheckpoint(eager=True)
    finally:
        summary.unpersist()
    return out


# --------------------------------------------------------------------------
# Bloom filter build + prune
# --------------------------------------------------------------------------


def bloom_build(df: DataFrame, key_col: str) -> dict:
    """Build a Bloom filter over an integer key column; returns
    ``{"bitmap": bytes, "m_bits": int, "g": int, "n_keys": int}``.

    Sizing: ``m_bits`` is the next power of two ≥ ``BLOOM_BITS_PER_KEY``
    bits per distinct-ish key (counted with one cheap agg) — with
    ``BLOOM_G`` = 4 hashes that is a ~0.24% false-positive rate; FPs
    only cost wasted probe rows, never correctness (no false negatives
    by construction).

    Integer keys only. For strings (or composites), pre-hash JVM-side
    — ``F.xxhash64(col)`` on BOTH the build and probe sides — and
    bloom the hashes (hash collisions just add to the FP rate).

    Scale shape: the build side is coalesced to ≤
    ``BLOOM_BUILD_PARTITIONS`` tasks, each emitting ONE packed bitmap
    row (m_bits/8 bytes); the driver ORs those bitmaps. Driver traffic
    is m_bits/8 × BLOOM_BUILD_PARTITIONS bytes — bounded by filter size and
    cluster width, independent of row count (same "bounded model-build
    action" class as IVF centroid sampling, similarity.py).
    """
    n = df.select(F.approx_count_distinct(key_col).alias("n")).collect()[0]["n"]
    m_bits = max(
        1 << 14, 1 << math.ceil(math.log2(max(n, 1) * BLOOM_BITS_PER_KEY))
    )
    g = BLOOM_G
    n_bytes = m_bits // 8

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        arr = np.zeros(n_bytes, dtype=np.uint8)
        n_keys = 0
        for pdf in batches:
            keys = pdf[key_col].to_numpy()
            if not len(keys):
                continue
            n_keys += len(keys)
            pos = _bloom_positions(keys, m_bits, g).ravel()
            np.bitwise_or.at(
                arr, (pos >> np.uint64(3)).astype(np.int64),
                (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)),
            )
        yield pd.DataFrame({"bitmap": [arr.tobytes()], "n_keys": [n_keys]})

    # nulls dropped JVM-side: a nullable long batch crosses Arrow as
    # float64 and would round keys above 2^53 into wrong bit positions
    src = df.select(key_col).filter(F.col(key_col).isNotNull())
    if src.rdd.getNumPartitions() > BLOOM_BUILD_PARTITIONS:
        src = src.coalesce(BLOOM_BUILD_PARTITIONS)
    rows = src.mapInPandas(build, schema="bitmap binary, n_keys long").collect()

    merged = np.zeros(n_bytes, dtype=np.uint8)
    n_keys = 0
    for r in rows:
        merged |= np.frombuffer(r["bitmap"], dtype=np.uint8)
        n_keys += r["n_keys"]
    return {"bitmap": merged.tobytes(), "m_bits": m_bits, "g": g,
            "n_keys": n_keys}


def bloom_prune(fact: DataFrame, key_col: str, bloom: dict) -> DataFrame:
    """Drop fact rows whose key is definitely absent from the filter —
    BEFORE the join shuffle moves them.

    The bitmap ships as a SparkContext broadcast (one copy per
    executor, not per task); membership is an Arrow-vectorized pandas
    UDF doing pure numpy bit probes. Null keys are kept (a join
    decides their fate — the pruner must not change join semantics).
    Composition contract: ``prune → exact join`` ≡ ``exact join``,
    because Bloom filters admit false positives (removed by the join)
    but never false negatives.

    The UDF probes ``coalesce(key, 0)`` and the null-keep happens in
    the surrounding filter expression: a nullable long column crosses
    Arrow into pandas as float64, which silently rounds keys above
    2^53 and WOULD create false negatives — coalescing first keeps the
    batch int64 end-to-end.
    """
    m_bits, g = bloom["m_bits"], bloom["g"]
    bc = fact.sparkSession.sparkContext.broadcast(bloom["bitmap"])

    @pandas_udf("boolean")
    def might_contain(keys: pd.Series) -> pd.Series:
        arr = np.frombuffer(bc.value, dtype=np.uint8)
        kv = keys.to_numpy()
        pos = _bloom_positions(kv, m_bits, g)
        hit = np.ones(len(kv), dtype=bool)
        for i in range(g):
            byte = arr[(pos[i] >> np.uint64(3)).astype(np.int64)]
            bit = np.uint8(1) << (pos[i] & np.uint64(7)).astype(np.uint8)
            hit &= (byte & bit) != 0
        return pd.Series(hit)

    key = F.col(key_col)
    return fact.filter(
        key.isNull() | might_contain(F.coalesce(key, F.lit(0)))
    )


# --------------------------------------------------------------------------
# Count-Min Sketch (mergeable frequency sketch, DataFrame-native)
# --------------------------------------------------------------------------

#: Modular-hash constants, one pair per sketch row (depth 3): primes
#: below the Mersenne prime 2^31-1.
#: With 0 <= key < 2^31 every product stays < 2^62, so the hash chain
#: is EXACT int64 arithmetic in Spark, DuckDB, or any engine — the
#: sketch content (not just its estimates) is reproducible everywhere.
CMS_P = (1 << 31) - 1
CMS_HASHES = [
    (1_299_709, 15_485_863),
    (2_038_074_743, 32_452_843),
    (179_424_673, 982_451_653),
]


def _cms_cell(key, a: int, b: int, width: int):
    return ((F.lit(a) * key + F.lit(b)) % CMS_P) % width


def cms_build(df: DataFrame, key_col: str, *, width: int = 512) -> DataFrame:
    """Count-Min Sketch of a non-negative int key column as a MERGEABLE
    DataFrame: (row_i int, cell int, cnt long) — at most depth × width
    rows regardless of input size (depth = one row per ``CMS_HASHES``
    pair).

    This is the relational representation of the classic depth×width
    counter matrix: build per batch/partition-of-history, persist next
    to the data, and :func:`cms_merge` unions matrices by cell-wise sum
    without re-reading rows.

    One narrow explode (depth cells per row) + one map-side-combining
    hash agg whose key space is depth×width — shuffle rows are
    SKETCH-bounded, not data-bounded.
    """
    key = F.col(key_col)
    cells = F.array(*[_cms_cell(key, a, b, width).cast("int") for a, b in CMS_HASHES])
    return (
        df.select(F.posexplode(cells).alias("row_i", "cell"))
        .groupBy("row_i", "cell")
        .agg(F.count("*").alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Cell-wise sum of CMS frames built with identical width.
    Estimates from the merged sketch are exactly the estimates of a
    single sketch over the concatenated inputs (counter addition is
    the CMS merge law)."""
    if not sketches:
        raise ValueError("cms_merge needs at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("row_i", "cell").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    *,
    width: int = 512,
) -> DataFrame:
    """Point-estimate each key's frequency from a CMS frame: probe the
    key's depth cells and take the min. One-sided error: estimates are
    NEVER below the true count; overshoot is collision mass, bounded by
    e·N/width with probability 1-e^-depth (standard CMS analysis).

    The sketch frame is ≤ depth×width rows — broadcast — so estimation
    is a broadcast join + a (key)-keyed min agg: the probe side is
    never shuffled beyond its own key space.
    """
    key = F.col(key_col)
    probes = keys.select(
        key,
        F.posexplode(
            F.array(*[_cms_cell(key, a, b, width).cast("int") for a, b in CMS_HASHES])
        ).alias("row_i", "cell"),
    )
    return (
        probes.join(F.broadcast(sketch), ["row_i", "cell"])
        .groupBy(key_col)
        .agg(F.min("cnt").alias("est_count"))
    )
