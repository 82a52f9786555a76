"""operators/sketches.py: Misra-Gries heavy hitters and Bloom pruning.

The load-bearing contracts:
- MG candidates are a SUPERSET of every key above the n/(k+1) bound;
- heavy_hitters_exact ≡ naive group-by + HAVING (sketch prunes work,
  never changes answers);
- Bloom filters admit NO false negatives, so prune→join ≡ join.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from sentiment_analysis_data_engineering_spark.operators.sketches import (
    bloom_build,
    bloom_prune,
    heavy_hitters_exact,
    misra_gries_candidates,
)


def _skewed_rows(n: int, seed: int) -> list[tuple[int]]:
    rng = random.Random(seed)
    rows = []
    for _ in range(n):
        if rng.random() < 0.5:  # half the mass on 5 hot keys
            rows.append((rng.randint(0, 4),))
        else:
            rows.append((rng.randint(5, 5000),))
    return rows


def test_misra_gries_superset_guarantee(spark):
    rows = _skewed_rows(20_000, seed=7)
    df = spark.createDataFrame(rows, "k long").repartition(8)
    k = 20
    cands = {
        r.k
        for r in misra_gries_candidates(df, "k", k=k)
        .filter(~F.col("is_total"))
        .collect()
    }
    exact = (
        df.groupBy("k").agg(F.count("*").alias("c"))
        .filter(F.col("c") > len(rows) / (k + 1))
        .collect()
    )
    assert exact, "fixture must contain heavy keys"
    assert {r.k for r in exact} <= cands


def test_misra_gries_totals_cover_all_rows(spark):
    df = spark.createDataFrame(_skewed_rows(5_000, seed=3), "k long").repartition(4)
    total = (
        misra_gries_candidates(df, "k", k=10)
        .filter(F.col("is_total"))
        .agg(F.sum("mg_count").alias("n"))
        .collect()[0]["n"]
    )
    assert total == 5_000


def test_heavy_hitters_exact_matches_naive(spark):
    rows = _skewed_rows(20_000, seed=11)
    df = spark.createDataFrame(rows, "k long").repartition(8)
    k = 50
    got = {
        (r.k, r.n_rows) for r in heavy_hitters_exact(df, "k", k=k).collect()
    }
    want = {
        (r.k, r.c)
        for r in df.groupBy("k")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > len(rows) / (k + 1))
        .collect()
    }
    assert got == want and want


def test_bloom_no_false_negatives_and_low_fp(spark):
    keys = list(range(0, 3000, 3))
    dim = spark.createDataFrame([(k,) for k in keys], "k long").repartition(4)
    bloom = bloom_build(dim, "k")
    assert bloom["n_keys"] == len(keys)

    probe = spark.createDataFrame([(k,) for k in range(6000)], "k long")
    kept = {r.k for r in bloom_prune(probe, "k", bloom).collect()}
    assert set(keys) <= kept  # no false negatives, ever
    fp = len(kept - set(keys)) / (6000 - len(keys))
    assert fp < 0.02  # sized for ~0.24%; generous margin


def test_bloom_prune_keeps_nulls(spark):
    dim = spark.createDataFrame([(1,), (2,)], "k long")
    bloom = bloom_build(dim, "k")
    probe = spark.createDataFrame([(1,), (None,), (999,)], "k long")
    kept = [r.k for r in bloom_prune(probe, "k", bloom).collect()]
    assert None in kept and 1 in kept


def test_bloom_prune_join_equivalence(spark):
    rng = random.Random(5)
    fact = spark.createDataFrame(
        [(rng.randint(0, 999), i) for i in range(5000)], "k long, v long"
    ).repartition(6)
    dim = spark.createDataFrame(
        [(k, k * 10) for k in range(0, 1000, 7)], "k long, d long"
    )
    bloom = bloom_build(dim, "k")
    plain = fact.join(dim, "k").groupBy("k").agg(F.sum("v").alias("s"))
    pruned = (
        bloom_prune(fact, "k", bloom)
        .join(dim, "k")
        .groupBy("k")
        .agg(F.sum("v").alias("s"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, pruned.collect())
    )


def test_cms_merge_law_and_one_sided_error(spark):
    from sentiment_analysis_data_engineering_spark.operators.sketches import (
        cms_build,
        cms_estimate,
        cms_merge,
    )

    rows = _skewed_rows(8_000, seed=17)
    df = spark.createDataFrame(rows, "k long").repartition(5)
    whole = cms_build(df, "k", width=256)
    merged = cms_merge(
        cms_build(df.filter(F.col("k") % 2 == 0), "k", width=256),
        cms_build(df.filter(F.col("k") % 2 == 1), "k", width=256),
    )
    assert sorted(map(tuple, whole.collect())) == sorted(
        map(tuple, merged.collect())
    )
    assert whole.count() <= 3 * 256  # sketch-bounded, not data-bounded

    keys = df.select("k").distinct()
    est = {
        r.k: r.est_count
        for r in cms_estimate(whole, keys, "k", width=256).collect()
    }
    exact = {
        r.k: r.c
        for r in df.groupBy("k").agg(F.count("*").alias("c")).collect()
    }
    assert est.keys() == exact.keys()
    assert all(est[k] >= exact[k] for k in exact)  # one-sided, always
    # heavy keys must estimate exactly or near-exactly at this width
    hot = [k for k, c in exact.items() if c > 500]
    assert hot and all(est[k] - exact[k] < 8_000 * 0.05 for k in hot)


def test_bloom_exact_above_2_53_with_nulls_present(spark):
    from sentiment_analysis_data_engineering_spark.operators.sketches import (
        bloom_build,
        bloom_prune,
    )

    big = (1 << 53) + 1  # loses precision if it ever becomes float64
    dim = spark.createDataFrame([(big,), (None,), (7,)], "k long")
    bloom = bloom_build(dim, "k")
    assert bloom["n_keys"] == 2  # null dropped JVM-side
    probe = spark.createDataFrame(
        [(big,), ((1 << 53),), (None,), (7,)], "k long"
    )
    kept = [r.k for r in bloom_prune(probe, "k", bloom).collect()]
    assert big in kept and 7 in kept and None in kept


def test_bloom_string_keys_via_xxhash64(spark):
    """Non-integer keys: pre-hash JVM-side with xxhash64, then bloom
    the hashes — the composition the operator docstring prescribes."""
    from sentiment_analysis_data_engineering_spark.operators.sketches import (
        bloom_build,
        bloom_prune,
    )

    dim = spark.createDataFrame(
        [(f"key_{i}",) for i in range(0, 600, 3)], "k string"
    ).select(F.xxhash64("k").alias("h"), "k")
    bloom = bloom_build(dim, "h")
    probe = spark.createDataFrame(
        [(f"key_{i}",) for i in range(600)], "k string"
    ).select(F.xxhash64("k").alias("h"), "k")
    kept = {r.k for r in bloom_prune(probe, "h", bloom).collect()}
    assert {f"key_{i}" for i in range(0, 600, 3)} <= kept
