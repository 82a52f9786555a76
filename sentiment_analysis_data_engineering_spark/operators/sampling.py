"""Deterministic hash-based sampling — the reproducible sampling idiom
for large training-data pipelines.

Extension layer (no reference counterpart). ``df.sample``/``sampleBy``
draw from per-partition RNG streams, so their output changes with
partitioning, task retries, and cluster size — unacceptable for a
pipeline that must be re-runnable bit-for-bit over 100 TB. Hash
sampling instead keys the keep/drop decision on a salted hash of a
stable id: partition-independent, retry-safe, join-stable (the same id
is sampled identically everywhere), and trivially auditable in any
engine that has md5.

The hash is the first 8 hex chars of md5(salt || id) taken mod 10^4 —
i.e. a uniform draw over 10,000 buckets; a row is kept when its bucket
falls below fraction × 10,000. Changing the salt produces a fresh
independent sample (the salt is the "seed").
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "hash_bucket",
    "hash_sample",
    "stratified_hash_sample",
    "mixture_weighted_sample",
    "epoch_shuffle",
]

_BUCKETS = 10_000


def hash_bucket(id_col: Column | str, salt: str = "") -> Column:
    """Uniform bucket in [0, 10000) from a salted md5 of the id.
    JVM-side only (md5 + substring + base-16 conv) — whole-stage
    codegen, no RNG state, no Python."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    hexpart = F.substring(
        F.md5(F.concat(F.lit(salt), c.cast("string")).cast("binary")), 1, 8
    )
    return F.conv(hexpart, 16, 10).cast("long") % _BUCKETS


def hash_sample(
    df: DataFrame, id_col: str, fraction: float, *, salt: str = ""
) -> DataFrame:
    """Keep ~fraction of rows, deterministically by id hash. A pure
    narrow filter: pushes to the scan, no shuffle, no RNG."""
    thr = int(round(fraction * _BUCKETS))
    return df.filter(hash_bucket(id_col, salt) < F.lit(thr))


def stratified_hash_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    fractions: Mapping[str, float],
    *,
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling: each stratum value gets its
    own keep-fraction (e.g. downsample dominant languages, keep all of
    rare ones). Strata not listed fall back to ``default_fraction``.
    Still a narrow filter — the threshold is a CASE over the stratum
    column, so no shuffle and no per-stratum passes."""
    thr: Column = F.lit(int(round(default_fraction * _BUCKETS)))
    col = F.col(stratum_col)
    for value, frac in sorted(fractions.items()):
        thr = F.when(col == value, F.lit(int(round(frac * _BUCKETS)))).otherwise(thr)
    return df.filter(hash_bucket(id_col, salt) < thr)


def mixture_weighted_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    weights: Mapping[str, float],
    *,
    target_fraction: float,
    default_weight: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Resample a corpus toward a target source MIXTURE — the standard
    pretraining data-mixing step (e.g. The Pile / LLaMA mixture tables:
    "web 60%, books 20%, code 20%" — public methodology).

    Given per-stratum weights w_s and a target size of
    ``target_fraction × N`` rows, the classic solver sets each
    stratum's keep-fraction to

        f_s = min(1, w_s · target_fraction · N / n_s)

    (strata too small to fill their quota are kept whole — capped at 1;
    weights are used as given and need not sum to 1). The solve happens
    IN-PLAN: per-stratum counts are one tiny aggregate (a column-pruned
    scan), the unpartitioned window that totals them runs over
    #strata rows, and the resulting thresholds broadcast back into the
    corpus scan — so the big side stays a narrow filter, no collect, no
    RNG, and the same ``hash_bucket`` determinism as every sampler
    here: partition-, retry-, and cluster-layout-independent.
    """
    w: Column = F.lit(float(default_weight))
    scol = F.col(stratum_col)
    for value, wt in sorted(weights.items()):
        w = F.when(scol == value, F.lit(float(wt))).otherwise(w)
    counts = df.groupBy(stratum_col).agg(F.count("*").alias("_n"))
    # NB: "_N" would silently REPLACE "_n" — Spark resolves column
    # names case-insensitively by default.
    counts = counts.withColumn("_tot", F.sum("_n").over(Window.partitionBy()))
    thresholds = counts.select(
        stratum_col,
        F.round(
            F.least(
                F.lit(1.0),
                w * F.lit(float(target_fraction)) * F.col("_tot") / F.col("_n"),
            )
            * _BUCKETS,
            0,
        )
        .cast("long")
        .alias("_thr"),
    )
    return (
        df.join(F.broadcast(thresholds), stratum_col)
        .filter(hash_bucket(id_col, salt) < F.col("_thr"))
        .drop("_thr")
    )


_SHUFFLE_MOD = 1 << 31


def epoch_shuffle_params(epoch: int, modulus: int = _SHUFFLE_MOD) -> tuple[int, int]:
    """Affine-permutation coefficients (a, b) for a training epoch.

    ``a`` is forced odd, so for the power-of-two ``modulus`` it is a
    unit mod 2^k and ``pos = (a·id + b) mod 2^k`` is a BIJECTION on
    [0, 2^k) — every id gets a distinct position, no collisions to
    resolve. The bijection argument NEEDS the power-of-two modulus
    (odd ⇔ coprime only holds there), so any other modulus is rejected
    rather than silently producing a non-injective map. ``epoch + 1``
    seeds the Knuth multiplicative constant so epoch 0 is already a
    non-trivial permutation.
    """
    if modulus <= 1 or modulus & (modulus - 1):
        raise ValueError(
            f"modulus must be a power of two > 1 (got {modulus}): odd `a` "
            "is a unit — and the map a bijection — only mod 2^k"
        )
    a = (2 * (((epoch + 1) * 2654435761) % (modulus // 2)) + 1) % modulus
    b = ((epoch + 1) * 40503 + 2531011) % modulus
    return a, b


def epoch_shuffle(
    df: DataFrame,
    id_col: str,
    *,
    epoch: int,
    n_shards: int,
    modulus: int = _SHUFFLE_MOD,
    hash_ids: bool = False,
) -> DataFrame:
    """Deterministic global reshuffle of a training corpus for one
    epoch — shard assignment and intra-shard order as a PURE FUNCTION
    of (id, epoch), the way large-pretraining loaders re-order data
    between epochs without ever materializing a random permutation.

    Extension layer (no reference counterpart). ``pos = (a·id + b)
    mod 2^31`` with epoch-derived odd ``a`` (``epoch_shuffle_params``)
    is an affine bijection on [0, 2^31): positions are unique, and
    ``ORDER BY pos`` inside a shard is a total order. ``shard = pos %
    n_shards`` balances EXACTLY to within ±1 row per shard when
    ``n_shards`` is a power of two (so it divides the modulus) and the
    ids are contiguous — the bijection then maps them onto an interval
    of positions, which any divisor of the modulus slices evenly; for
    other shard counts or sparse id sets the balance is only the
    statistical one of a pseudorandom position assignment. Because the
    permutation is arithmetic on the id, the operator is a NARROW
    projection — no RNG state, no zipWithIndex, no global sort, no
    shuffle at all until the caller repartitions by ``shard`` to write
    (one exchange, the minimum any sharded write needs). Re-running any
    subset of tasks reproduces identical placement (retry-safe), and a
    different epoch yields an independent-looking permutation from the
    same scan.

    Id domain: with ``hash_ids=False`` (default) ids MUST lie in
    [0, modulus) so ``a·id`` stays within int64 (a < 2^31 ⇒ product
    < 2^62) — ENFORCED per row with a codegen-stage ``raise_error``
    guard, so an out-of-range or negative id fails the job loudly
    instead of silently wrapping into a negative shard (plain ``%``
    keeps the dividend's sign; the arithmetic here uses ``pmod`` so
    every emitted position/shard is non-negative by construction).
    Corpora with wider/negative/non-numeric ids pass
    ``hash_ids=True``: ids map through ``xxhash64 & (modulus-1)``
    first, which trades the bijection guarantee for a birthday-bound
    collision rate (~n²/2^32 colliding PAIRS at the default modulus —
    break position ties deterministically by ordering on
    ``(shuffle_pos, id)``) and keeps everything in JVM integer
    codegen. Exact 128-bit decimal lifting is the alternative when
    even hashed ties are unacceptable.

    Adds ``shuffle_pos`` (long) and ``shard`` (int) columns.
    """
    if not 0 < n_shards <= modulus:
        raise ValueError(f"n_shards must be in (0, {modulus}]")
    a, b = epoch_shuffle_params(epoch, modulus)
    if hash_ids:
        # two's-complement AND with 2^k-1 == mod 2^k, non-negative even
        # for negative hash values; works for any column type.
        c = F.xxhash64(F.col(id_col)).bitwiseAND(F.lit(modulus - 1))
    else:
        raw = F.col(id_col).cast("long")
        c = F.when((raw >= 0) & (raw < F.lit(modulus)), raw).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"epoch_shuffle: id outside [0, {modulus}) — "
                        "pass hash_ids=True for wide or negative ids; got "
                    ),
                    F.col(id_col).cast("string"),
                )
            ).cast("long")
        )
    pos = F.pmod(c * F.lit(a) + F.lit(b), F.lit(modulus))
    return df.withColumn("shuffle_pos", pos).withColumn(
        "shard", F.pmod(F.col("shuffle_pos"), F.lit(n_shards)).cast("int")
    )
