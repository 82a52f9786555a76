"""Similarity search over an embedding column (array<float>).

Extension layer (no reference counterpart). The top-k operators:

- ``cosine_topk``       brute-force exact top-k — the correctness
                        baseline; O(|Q|·|C|) via an equi-join-free
                        broadcast of the (small) query set, never a
                        shuffling cross join of the corpus.
- ``lsh_cosine_topk``   random-hyperplane LSH (Charikar, STOC 2002):
                        sign-bit sketches split into bands; a query's
                        candidates share at least one band with it.
                        The 100 TB path: the corpus shuffles once on
                        (band, band value), queries equi-join on it.
- ``ivf_cosine_topk``   IVF-Flat: queries probe their nearest cells of
                        a sampled coarse quantizer.
- ``pq_cosine_topk`` /  product-quantized ADC scans, the IVF-PQ one
  ``ivfpq_cosine_topk`` also over a persisted index.

Each approximate operator re-ranks its candidates by exact cosine.
Hyperplanes are derived from a deterministic integer hash
(``_plane_component``) — no RNG, so results are reproducible across
runs, and the "model" ships as code. MLlib's BucketedRandomProjectionLSH
offers the same primitive for euclidean distance; this module keeps
cosine semantics and deterministic planes.

The LSH sketches, the IVF cell tags and every PQ / IVF-PQ encode and
query-table pass cross into Python through one adapter, `_map_vectors`:
it owns the (id, double vector) select, the id type of the output
schema, the empty-batch skip and the float64 stacking, so each pass is
only its numpy body. Those bodies share one copy each of the kernels
(`_unit_rows`, `_sq_dists`, `_pq_codes`, `_adc_tables`).
``ivfpq_drift_audit`` keeps its own crossing because its input is the
codes ⋈ corpus join, not an (id, vector) frame.
"""

from __future__ import annotations

import functools
import json
import os
import re
import threading
import uuid
from collections import Counter, OrderedDict

import numpy as np
import pandas as pd
from py4j.protocol import Py4JJavaError

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from pyspark.sql import types as T

from ..schemas import FIXTURE_SCHEMAS
from ..sources.io import _hadoop_fs, local_frame, scan
from .dedup import _spread
from .observe import checkpoint_with_metrics, write_with_metrics

__all__ = [
    "cosine_topk",
    "lsh_cosine_topk",
    "ivf_cosine_topk",
    "ivfpq_cosine_topk",
    "pq_cosine_topk",
    "kmeans_clusters",
    "semantic_dedup",
    "quantize_int8_stats",
    "crossencoder_score_expr",
    "crossencoder_rerank_topk",
    "ivfpq_write_index",
    "ivfpq_read_model",
    "ivfpq_merge_index",
    "ivfpq_compact_index",
    "ivfpq_cell_file_counts",
    "ivfpq_codes",
    "ivfpq_probe_index",
    "ivfpq_delete_ids",
    "ivfpq_reembed",
    "ivfpq_drift_audit",
    "CODES_SCHEMA",
]

#: the columns of the embeddings table, the frame every operator here
#: reads
ID_COL, VEC_COL, LABEL_COL = FIXTURE_SCHEMAS["embeddings"].names

#: the approximate top-k operators return TOP_K neighbours per query;
#: the ad-hoc IVF ones split the corpus into N_CELLS cells and probe
#: N_PROBE of them; the ad-hoc PQ ones code each vector as PQ_M
#: subspaces of PQ_CODES codewords
TOP_K = 5
N_CELLS = 16
N_PROBE = 4
PQ_M = 8
PQ_CODES = 64

#: crossencoder_rerank_topk's stand-in weights span the embeddings'
#: width
CE_DIM = 64

#: semantic_dedup links vectors of one cluster whose cosine reaches
#: this
SEMDEDUP_THRESHOLD = 0.3

#: every Lloyd-trained quantizer here fits from a bounded sample of
#: TRAIN_ROWS vectors (persisted indexes may pass their own size) and
#: runs LLOYD_ITERS epochs
TRAIN_ROWS = 256
LLOYD_ITERS = 10

#: semantic_dedup: clusters larger than this are excluded from pairing
#: (all members kept), and the component propagation may run this many
#: rounds — loose thresholds build similarity CHAINS, whose diameter
#: far exceeds the dup-graph default
MAX_CLUSTER_SIZE = 100_000
CC_MAX_ITER = 60

#: semantic_dedup's Lloyd fit sample: at least this many hash-ordered
#: rows, and at least 32 per requested center
FIT_SAMPLE_ROWS = 8192


def _as_double() -> Column:
    return F.transform(F.col(VEC_COL), lambda x: x.cast("double"))


def _map_vectors(
    df: DataFrame, schema: str, fn
) -> DataFrame:
    """The module's one Arrow crossing for vector batches. Selects
    (``_id``, ``_v`` as array<double>), fills ``{id_t}`` in ``schema``
    with the id column's type (string/long/... ids all work), skips
    empty batches, and calls ``fn(pdf, V)`` with the batch frame and
    its (rows × dim) float64 matrix; ``fn`` returns the output columns
    as a dict in ``schema``'s order."""
    src = df.select(F.col(ID_COL).alias("_id"), _as_double().alias("_v"))
    id_t = df.schema[ID_COL].dataType.simpleString()

    def batches(it):
        for pdf in it:
            if pdf.empty:
                continue
            V = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            yield pd.DataFrame(fn(pdf, V))

    return src.mapInPandas(batches, schema.format(id_t=id_t))


def _unit_rows(V):
    """Rows scaled to unit L2 norm; zero rows stay zero."""
    norms = np.sqrt((V * V).sum(axis=1, keepdims=True))
    norms[norms == 0] = 1.0
    return V / norms


def _sq_dists(X, C):
    """(rows × centroids) squared L2 distances."""
    return ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)


def _pq_codes(X, B):
    """Nearest codeword per sub-space: (rows × m) int32 codes of ``X``
    against the ``m`` (n_codes, sub) codebooks ``B``."""
    sub = B[0].shape[1]
    codes = np.empty((len(X), len(B)), dtype=np.int32)
    for s, Bs in enumerate(B):
        Xs = X[:, s * sub : (s + 1) * sub]
        # ||x-c||² = ||x||² - 2x·c + ||c||²; ||x||² constant per
        # row for the argmin, so only the cross and codeword terms
        d = (Bs * Bs).sum(axis=1)[None, :] - 2.0 * (Xs @ Bs.T)
        codes[:, s] = d.argmin(axis=1)
    return codes


def _adc_tables(X, B):
    """Flattened ADC lookup tables, ``[s * n_codes + c] = ||x_s -
    B[s][c]||²`` per row of ``X``."""
    sub = B[0].shape[1]
    return np.concatenate(
        [
            ((X[:, s * sub : (s + 1) * sub][:, None, :] - Bs[None, :, :]) ** 2)
            .sum(axis=2)
            for s, Bs in enumerate(B)
        ],
        axis=1,
    )


def _norm(v: Column) -> Column:
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _safe_cosine(dot, n1, n2):
    """round(dot/(n1·n2), 6), NULL when either norm is 0 — 0/0 would be
    NaN, which Spark orders ABOVE every double, silently promoting
    zero vectors to rank-1 "neighbors" in the top-k windows (NULLs sort
    last under desc, so they never displace a real neighbor)."""
    return F.when(
        (n1 > 0) & (n2 > 0), F.round(dot / (n1 * n2), 6)
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbours for each query vector, the query
    itself excluded.

    The query side is broadcast (it's the small side by construction),
    so the corpus is scanned exactly once with no shuffle; the only
    exchange is the final per-query top-k (a window over query_id,
    k rows each).
    """
    q = queries.select(
        F.col(ID_COL).alias("query_id"), _as_double().alias("_qv")
    ).withColumn("_qn", _norm(F.col("_qv")))
    c = _spread(corpus, ID_COL).select(
        F.col(ID_COL).alias("neighbor_id"), _as_double().alias("_cv")
    ).withColumn("_cn", _norm(F.col("_cv")))

    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            _safe_cosine(_dot(F.col("_qv"), F.col("_cv")), F.col("_qn"), F.col("_cn")),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _plane_component(p: int, d: int) -> float:
    """Deterministic ±1 hyperplane component — a small multiplicative
    hash (splitmix-style constants), so the planes need no RNG and no
    stored model."""
    x = (p * 0x9E3779B97F4A7C15 + d * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x = ((x >> 31) ^ x) * 0x94D049BB133111EB & 0xFFFFFFFFFFFFFFFF
    return 1.0 if ((x >> 17) & 1) == 0 else -1.0


def _plane_matrix(num_planes: int, dim: int):
    """The deterministic ±1 hyperplanes as a (dim, num_planes) numpy
    matrix of ``_plane_component`` values, materialized once for BLAS."""
    return np.array(
        [[_plane_component(p, d) for p in range(num_planes)] for d in range(dim)],
        dtype=np.float64,
    )


def signatures_arrow(
    df: DataFrame,
    *,
    num_planes: int,
    dim: int,
    vec_out: str | None = None,
) -> DataFrame:
    """(id, [vec,] sig) in ONE Arrow pass: bit p of ``sig`` is
    [dot(v, h_p) >= 0] for the ``_plane_component`` hyperplanes h_p.

    The plane matrix lives in the closure (task-serialized once), so
    the plan size stays constant in num_planes × dim; each Arrow batch
    computes all sign bits as a single (rows × dim) @ (dim × planes)
    matmul and packs them into one long, the bucket id.

    Narrow map, no shuffle; scales to any corpus size batch-by-batch.
    """
    M = _plane_matrix(num_planes, dim)
    weights = (1 << np.arange(num_planes, dtype=np.int64)).astype(np.int64)
    keep_vec = vec_out is not None
    vec_field = f"{vec_out} array<double>, " if keep_vec else ""
    schema = "_id {id_t}, " + vec_field + "_sig long"

    def tag(pdf, V):
        bits = (V @ M) >= 0.0
        out = {"_id": pdf["_id"].to_numpy()}
        if keep_vec:
            out[vec_out] = pdf["_v"]
        out["_sig"] = (bits.astype(np.int64) * weights[None, :]).sum(axis=1)
        return out

    return _map_vectors(df, schema, tag)


def _ivf_tag_arrow(
    df: DataFrame,
    cents: list[list[float]],
    *,
    role: str,
    n_probe: int = 1,
) -> DataFrame:
    """Cell-tag one side of the IVF join in a single Arrow pass: each
    batch scores all vectors against all centroids as one matmul.
    ``role="corpus"`` emits (neighbor_id, _cv, _cn, cell) with the
    argmax cell (first index on exact ties); ``role="assign"`` emits just
    (neighbor_id, cell) — the lean variant for callers that only need
    the partition (only the id crosses back over the Arrow boundary,
    guide §4: pass only the columns the function needs);
    ``role="query"`` emits one row per probe, the ``n_probe``
    highest-scoring cells (all of them when there are fewer cells than
    ``n_probe``). Narrow map — the centroid matrix rides the
    task closure, no shuffle, no collect."""
    C = np.array(cents, dtype=np.float64).T  # (dim, n_cells)
    if role == "assign":
        schema = "neighbor_id {id_t}, cell long"

        def tag(pdf, V):
            return {
                "neighbor_id": pdf["_id"].to_numpy(),
                "cell": (V @ C).argmax(axis=1),
            }

    elif role == "corpus":
        schema = "neighbor_id {id_t}, _cv array<double>, _cn double, cell long"

        def tag(pdf, V):
            return {
                "neighbor_id": pdf["_id"].to_numpy(),
                "_cv": pdf["_v"],
                "_cn": np.sqrt((V * V).sum(axis=1)),
                "cell": (V @ C).argmax(axis=1),
            }

    else:
        schema = "query_id {id_t}, _qv array<double>, _qn double, cell long"

        def tag(pdf, V):
            probes = np.argsort(-(V @ C), axis=1, kind="stable")[:, :n_probe]
            idx = np.repeat(np.arange(len(pdf)), probes.shape[1])
            return {
                "query_id": pdf["_id"].to_numpy()[idx],
                "_qv": pdf["_v"].to_numpy()[idx],
                "_qn": np.sqrt((V * V).sum(axis=1))[idx],
                "cell": probes.reshape(-1),
            }

    return _map_vectors(df, schema, tag)


def ivf_cosine_topk(queries: DataFrame, corpus: DataFrame) -> DataFrame:
    """IVF-Flat approximate top-k: a coarse quantizer of ``N_CELLS``
    cells partitions the corpus; each query probes only its ``N_PROBE``
    nearest cells, then exact cosine re-ranks within candidates.

    Coarse quantizer: centroids are a deterministic sample of corpus
    vectors (the ``N_CELLS`` smallest ids), collected once at plan
    build — a model-build action over ``N_CELLS`` rows, analogous
    to fitting MLlib KMeans (which is the drop-in refinement at scale:
    ``KMeans(k=N_CELLS).fit`` then ``predict`` as the cell
    assignment; sampled centroids keep this module deterministic and
    dependency-free). Centroids are L2-normalized driver-side and ride
    the task closure of one ``mapInPandas`` matmul per side
    (``_ivf_tag_arrow``), so the plan size stays constant in
    N_CELLS × dim — no UDF per row, no shuffle beyond the final
    (cell equi-join + top-k).

    Scale shape: corpus scans once to tag cells (narrow), shuffles once
    on cell id; queries broadcast. Recall tunes with N_PROBE/N_CELLS.
    """
    # --- model build: deterministic centroid sample (tiny action) ----
    sample = (
        corpus.select(ID_COL, VEC_COL)
        .orderBy(F.col(ID_COL))
        .limit(N_CELLS)
        .collect()
    )
    cents: list[list[float]] = []
    for row in sample:
        v = [float(x) for x in row[VEC_COL]]
        n = sum(x * x for x in v) ** 0.5 or 1.0
        cents.append([x / n for x in v])

    c = _ivf_tag_arrow(_spread(corpus, ID_COL), cents, role="corpus")
    qcells = _ivf_tag_arrow(queries, cents, role="query", n_probe=N_PROBE)

    scored = (
        c.join(F.broadcast(qcells), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            _safe_cosine(
                _dot(F.col("_qv"), F.col("_cv")), F.col("_qn"), F.col("_cn")
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def lsh_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates must share at least one LSH band
    with the query (multi-probe via banding, like MinHash-LSH), then
    exact cosine re-rank within candidates.

    Scale shape: corpus computes its sketch in one scan and shuffles on
    (band, band_value); queries do the same; candidate generation is an
    equi-join on the band key. Recall tunes with the 12 planes and 6
    bands.

    Each side is sketched by one ``signatures_arrow`` matmul pass
    (constant plan size). The band explode carries only (id, band,
    bval) — vectors rejoin later, once per survivor, not once per band
    row.
    """
    num_planes, bands = 12, 6
    band_bits = num_planes // bands

    def with_bands(df: DataFrame, role: str) -> DataFrame:
        base = signatures_arrow(
            df, num_planes=num_planes, dim=dim
        ).withColumnRenamed("_id", f"{role}_id")
        mask = (1 << band_bits) - 1
        return base.select(
            f"{role}_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band"),
                            F.shiftright(F.col("_sig"), i * band_bits)
                            .bitwiseAND(F.lit(mask))
                            .alias("bval"),
                        )
                        for i in range(bands)
                    ]
                )
            ).alias("_b"),
        ).select(f"{role}_id",
                 F.col("_b.band").alias("band"), F.col("_b.bval").alias("bval"))

    qb = with_bands(queries, "query")
    cb = with_bands(_spread(corpus, ID_COL), "neighbor")
    # distinct over bare id pairs (two longs) — NOT over the vectors;
    # vectors re-join afterwards (query side broadcast, corpus side one
    # hash join on neighbor_id).
    cand = (
        cb.select("neighbor_id", "band", "bval")
        .join(F.broadcast(qb.select("query_id", "band", "bval")), ["band", "bval"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    # norms once per vector in the projections — not per candidate pair
    qv = queries.select(
        F.col(ID_COL).alias("query_id"), _as_double().alias("_queryv")
    ).withColumn("_qn", _norm(F.col("_queryv")))
    cv = corpus.select(
        F.col(ID_COL).alias("neighbor_id"), _as_double().alias("_neighborv")
    ).withColumn("_nn", _norm(F.col("_neighborv")))
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn(
            "cosine",
            _safe_cosine(
                _dot(F.col("_queryv"), F.col("_neighborv")),
                F.col("_qn"), F.col("_nn"),
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _lloyd(X, k: int, iters: int):
    """Deterministic Lloyd k-means (driver-side numpy): init = first
    ``k`` rows, empty clusters re-seed from the worst-quantized points
    (farthest-point heuristic), ties to the lowest index — no RNG, so
    the trained model is bit-replayable. Returns a (k, dim) ndarray."""
    C = X[: min(k, len(X))].copy()
    if len(C) < k:  # tiny corpus: pad by repeating
        C = np.resize(C, (k, X.shape[1]))
    for _ in range(iters):
        d = _sq_dists(X, C)
        assign = d.argmin(axis=1)
        errs = d[np.arange(len(X)), assign]
        order = np.argsort(-errs, kind="stable")  # worst-fit first
        spill = 0
        for c in range(k):
            mask = assign == c
            if mask.any():
                C[c] = X[mask].mean(axis=0)
            else:
                C[c] = X[order[spill % len(order)]]
                spill += 1
    return C


def _sample_normalized(
    corpus: DataFrame, train_rows: int,
    *, sample_order: str = "id",
):
    """Bounded deterministic training sample, L2-normalized — the
    model-build collect every Lloyd-trained quantizer here fits from.

    ``sample_order`` picks the deterministic draw:

    - ``"id"`` — the ``train_rows`` smallest-id vectors. Right for the
      AD-HOC operators (``pq_cosine_topk`` / ``ivfpq_cosine_topk``):
      they refit from scratch on the full current corpus at every
      call, so there is no frozen-model staleness for sample bias to
      compound with (same stance as ``ivf_cosine_topk``'s documented
      smallest-id centroid sample).
    - ``"hash"`` — ``train_rows`` vectors in ``xxhash64(id)`` order
      (id tiebreak). REQUIRED for the persisted index
      (``ivfpq_write_index``) and therefore for every retrain:
      ids correlate with ingestion time in any real pipeline, so a
      smallest-id sample would train every (re)build on the OLDEST
      rows — the one subset a drift-triggered RETRAIN must not be
      limited to (the retrain exists precisely because the NEWEST rows
      moved; measured on the auto-retrain fixture, an id-prefix
      rebuild left the merged distribution entirely out of the fit and
      the drift ratio never recovered). Uniform-coverage, still
      RNG-free and bit-replayable — the same draw ``semantic_dedup``
      fits from, for the same reason.

    Cost shape identical either way: a global top-``train_rows``
    (TakeOrdered), one bounded collect."""
    if sample_order not in ("id", "hash"):
        raise ValueError(f"sample_order must be 'id' or 'hash', got {sample_order!r}")
    order = (
        [F.col(ID_COL)]
        if sample_order == "id"
        else [F.xxhash64(F.col(ID_COL)), F.col(ID_COL)]
    )
    sample = (
        corpus.select(ID_COL, VEC_COL)
        .orderBy(*order)
        .limit(train_rows)
        .collect()
    )
    if not sample:
        raise ValueError("empty corpus")
    return _unit_rows(
        np.array([[float(x) for x in r[VEC_COL]] for r in sample], dtype=np.float64)
    )


def _pq_codebooks(
    corpus: DataFrame,
    *,
    m: int,
    n_codes: int,
) -> list:
    """Per-subspace codebooks: deterministic Lloyd k-means over a
    bounded corpus sample, driver-side.

    The raw sampled-vector trick that serves ``ivf_cosine_topk`` as a
    coarse quantizer is NOT enough for PQ — ADC sums m quantization
    errors per pair, so codebook quality shows up directly as recall
    (measured on the driver fixtures: 16 sampled codewords gave
    per-query recall down to 0.2; 64 Lloyd-trained codes with top-96
    re-rank hold 0.6-0.8 worst-query). Training is
    the bounded-model-build action class: collect the ``TRAIN_ROWS``
    smallest-id vectors (deterministic — no RNG anywhere; the ad-hoc
    "id" draw of ``_sample_normalized``, fine here because PQ refits
    per call), L2-normalize,
    slice into subspaces, run ``LLOYD_ITERS`` Lloyd iterations per subspace
    with first-``n_codes``-subvectors init; empty clusters re-seed from
    the worst-quantized points (farthest-point heuristic), ties resolve
    to the lowest index, so the model is bit-replayable. At 100 TB this
    stays a ~256-row collect; MLlib KMeans per subspace is the drop-in
    when the training sample itself must be distributed. Returns ``m``
    (n_codes, dim/m) float64 arrays."""
    V = _sample_normalized(corpus, TRAIN_ROWS)
    dim = V.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    return [
        _lloyd(V[:, s * sub : (s + 1) * sub], n_codes, LLOYD_ITERS)
        for s in range(m)
    ]


def _pq_encode_arrow(
    corpus: DataFrame,
    books: list,
) -> DataFrame:
    """Encode every corpus vector to its ``m`` nearest-codeword ids in
    one Arrow pass: per subspace one (batch × n_codes) distance matmul,
    argmin per row. Narrow map — codebooks ride the closure; output is
    (neighbor_id, codes array<int>), 8 small ints instead of 64 doubles,
    which is the entire point of PQ at 100 TB: the ADC scan streams
    codes at ~1/30th the bytes of raw vectors."""
    def enc(pdf, V):
        return {
            "neighbor_id": pdf["_id"].to_numpy(),
            "codes": list(_pq_codes(_unit_rows(V), books)),
        }

    return _map_vectors(
        corpus, "neighbor_id {id_t}, codes array<int>", enc
    )


def pq_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    n_rerank: int = 32,
) -> DataFrame:
    """Approximate top-k via product quantization (Jégou et al., TPAMI
    2011) with asymmetric distance computation (ADC) and exact re-rank.

    Both sides are L2-normalized first, so squared-L2 ranking equals
    cosine ranking and the final scores stay comparable with the other
    ``*_cosine_topk`` operators. The corpus is encoded ONCE to ``PQ_M``
    codeword ids (one Arrow matmul pass, narrow); each query precomputes
    its PQ_M × PQ_CODES distance TABLE driver-side-free (a JVM expression
    over the broadcast query row); the ADC scan then scores every
    (query, corpus) pair with ``PQ_M`` table lookups instead of a
    ``dim``-element dot product. Top ``n_rerank`` ADC candidates per
    query re-rank against their TRUE vectors (an equi-join on
    neighbor_id — raw vectors are touched once per candidate, never per
    scanned pair).

    Scale shape: this is the memory-bandwidth play — at 100 TB the ADC
    scan reads ~m bytes per vector instead of 4·dim, the query tables
    broadcast (m × n_codes doubles per query), and the only wide ops
    are the two per-query top-N windows. Composes with IVF (encode
    residuals per cell) when the corpus also needs partition pruning;
    codebooks here are the deterministic sampled kind (see
    ``_pq_codebooks``) so results are replay-stable with no RNG."""
    m, n_codes = PQ_M, PQ_CODES
    books = _pq_codebooks(corpus, m=m, n_codes=n_codes)
    enc = _pq_encode_arrow(_spread(corpus, ID_COL), books)

    # query side: normalize, then build the flattened ADC table
    # [s * n_codes + c] = ||q_s - book[s][c]||² in ONE Arrow pass
    # (m × n_codes matmul per batch). The literal-expression form bakes
    # m·n_codes·sub doubles into the plan (512 aggregate expressions
    # here) and pays seconds of analysis/codegen before any row moves —
    # measured 21 s → 3 s for the whole query by keeping the plan
    # constant-size, as ``_ivf_tag_arrow`` does for the cell tags.
    def qtab_gen(pdf, V):
        V = _unit_rows(V)
        return {
            "query_id": pdf["_id"].to_numpy(),
            "_qv": list(V),
            "_tab": list(_adc_tables(V, books)),
        }

    qtab = _map_vectors(
        queries,
        "query_id {id_t}, _qv array<double>, _tab array<double>", qtab_gen,
    )

    # ADC scan: m element_at lookups per (query, corpus) pair.
    adc = enc.crossJoin(F.broadcast(qtab.select("query_id", "_tab"))).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    cand = _adc_candidates(adc, m=m, n_codes=n_codes, n_rerank=n_rerank)
    return _exact_rerank(cand, qtab.select("query_id", "_qv"), corpus)


def _adc_candidates(
    adc: DataFrame, *, m: int, n_codes: int, n_rerank: int
) -> DataFrame:
    """Shared ADC scoring tail: given (query_id, neighbor_id, codes,
    _tab) rows, sum the ``m`` table lookups and keep the ``n_rerank``
    best (lowest distance) neighbors per query — one window, k rows
    out per query."""
    dist = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda c, s: F.element_at(
                F.col("_tab"), (s * n_codes + c + 1).cast("int")
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wa = W.partitionBy("query_id").orderBy(
        F.col("_adc").asc(), F.col("neighbor_id")
    )
    return (
        adc.withColumn("_adc", dist)
        .withColumn("_arank", F.row_number().over(wa))
        .filter(F.col("_arank") <= n_rerank)
        .select("query_id", "neighbor_id")
    )


def _exact_rerank(cand: DataFrame, qv: DataFrame, corpus: DataFrame) -> DataFrame:
    """Shared exact re-rank tail: true vectors join in once per
    candidate (query side broadcast with its unit-norm ``_qv``), exact
    cosine, per-query top-k window."""
    cv = corpus.select(
        F.col(ID_COL).alias("neighbor_id"), _as_double().alias("_cv")
    ).withColumn("_cn", _norm(F.col("_cv")))
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn(
            "cosine",
            # _qv is unit-norm already: cosine = dot / ||c||
            _safe_cosine(
                _dot(F.col("_qv"), F.col("_cv")), F.lit(1.0), F.col("_cn")
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _ivfpq_train_model(
    corpus: DataFrame,
    *,
    n_cells: int,
    m: int,
    n_codes: int,
    train_rows: int = TRAIN_ROWS,
    sample_order: str = "id",
):
    """Deterministic IVF-PQ model fit (bounded-sample driver Lloyd):
    returns ``(C, books)`` — the (n_cells, dim) coarse centroids and
    the ``m`` per-subspace RESIDUAL codebooks (each (n_codes, dim/m)).
    Residual codebooks are shared across cells (the standard IVFPQ
    choice — per-cell books multiply model size by n_cells). No RNG
    anywhere, so the model is bit-replayable from the same corpus.
    ``sample_order`` follows ``_sample_normalized``: "id" for the
    ad-hoc one-shot operator, "hash" for the persisted/retrained
    index."""
    V = _sample_normalized(
        corpus, train_rows, sample_order=sample_order
    )
    dim = V.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    C = _lloyd(V, n_cells, LLOYD_ITERS)  # coarse centroids (n_cells, dim)
    R = V - C[_sq_dists(V, C).argmin(axis=1)]
    books = [
        _lloyd(R[:, s * sub : (s + 1) * sub], n_codes, LLOYD_ITERS)
        for s in range(m)
    ]
    return C, books


def _ivfpq_encode(
    corpus: DataFrame, C, books
) -> DataFrame:
    """One Arrow pass assigning every corpus vector its coarse cell and
    its ``m`` residual codeword ids: (neighbor_id, cell long, codes
    array<int>). Narrow map — the model rides the closure; output is
    ~m bytes of codes instead of 4·dim of floats, which is the PQ
    bandwidth win at 100 TB."""
    B = [np.asarray(b, dtype=np.float64) for b in books]
    Cm = np.asarray(C, dtype=np.float64)

    def enc_gen(pdf, V):
        X = _unit_rows(V)
        cells = _sq_dists(X, Cm).argmin(axis=1)
        return {
            "neighbor_id": pdf["_id"].to_numpy(),
            "cell": cells.astype(np.int64),
            "codes": list(_pq_codes(X - Cm[cells], B)),
        }

    return _map_vectors(
        _spread(corpus, ID_COL),
        "neighbor_id {id_t}, cell long, codes array<int>", enc_gen,
    )


def _ivfpq_query_tables(
    queries: DataFrame, C, books, n_probe: int
) -> DataFrame:
    """One Arrow pass over the queries: each query picks its
    ``n_probe`` nearest coarse cells and precomputes the per-(query,
    cell) ADC lookup table on its residual IN that cell — (query_id,
    cell, _qv unit-norm vector, _tab m·n_codes distances)."""
    B = [np.asarray(b, dtype=np.float64) for b in books]
    Cm = np.asarray(C, dtype=np.float64)

    def qtab_gen(pdf, V):
        X = _unit_rows(V)
        dcell = _sq_dists(X, Cm)
        probes = np.argsort(dcell, axis=1, kind="stable")[:, :n_probe]
        idx = np.repeat(np.arange(len(X)), probes.shape[1])
        cells = probes.reshape(-1)
        return {
            "query_id": pdf["_id"].to_numpy()[idx],
            "cell": cells,
            "_qv": list(X[idx]),
            # each query's residual IN each probed cell
            "_tab": list(_adc_tables(X[idx] - Cm[cells], B)),
        }

    return _map_vectors(
        queries,
        "query_id {id_t}, cell long, _qv array<double>, _tab array<double>",
        qtab_gen,
    )


def ivfpq_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    n_rerank: int = 96,
) -> DataFrame:
    """IVF-PQ approximate top-k (Jégou et al., TPAMI 2011 — the FAISS
    ``IVFx,PQy`` architecture): a Lloyd-trained coarse quantizer of
    ``N_CELLS`` partitions the corpus, vectors are PQ-encoded on their
    RESIDUAL to the cell centroid (residuals concentrate near zero, so
    the same code budget quantizes them far more finely than raw
    vectors), and queries probe only their ``N_PROBE`` nearest cells
    with a per-(query, cell) ADC table before the exact re-rank.

    Why this is THE 100 TB ANN composition: IVF gives partition
    pruning (a cell equi-join — the corpus shuffles once on cell id,
    and a query touches n_probe/n_cells of it) while PQ gives the
    bandwidth win inside each probed cell (~m bytes per vector). The
    plan is: one Arrow encode pass over the corpus (cell + residual
    codes), one Arrow pass over the queries (probed cells + their ADC
    tables), a broadcast equi-join on cell, the ADC window, the exact
    re-rank. All training is the deterministic bounded-sample Lloyd
    (`_lloyd`) — no RNG, bit-replayable; MLlib KMeans is the drop-in
    when the training sample must be distributed. The train / encode /
    query-table stages are shared verbatim with the PERSISTED index
    lifecycle (``ivfpq_write_index`` / ``ivfpq_merge_index`` /
    ``ivfpq_probe_index``), so an ad-hoc query and an index probe are
    the same arithmetic once both fit from the same draw (the ad-hoc
    fit draws by id, the persisted index by hash — see
    ``_sample_normalized``)."""
    C, books = _ivfpq_train_model(
        corpus, n_cells=N_CELLS, m=PQ_M, n_codes=PQ_CODES
    )
    enc = _ivfpq_encode(corpus, C, books)
    qtab = _ivfpq_query_tables(queries, C, books, N_PROBE)

    # partition-pruning equi-join: a query meets only its probed cells'
    # vectors — n_probe/n_cells of the corpus instead of all of it
    adc = enc.join(
        F.broadcast(qtab.select("query_id", "cell", "_tab")), "cell"
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    cand = _adc_candidates(adc, m=PQ_M, n_codes=PQ_CODES, n_rerank=n_rerank)
    qv = qtab.select("query_id", "_qv").dropDuplicates(["query_id"])
    return _exact_rerank(cand, qv, corpus)


# ---------------------------------------------------------------------------
# Persisted + incrementally-maintained IVF-PQ index
# ---------------------------------------------------------------------------
#
# The index-lifecycle story `build_minhash_index` tells for dedup, told
# for ANN: train ONCE, persist the model and the encoded corpus, probe
# from any later session without re-encoding anything, and MERGE new
# vectors in idempotently. The index is a log of immutable snapshots
# (the Delta Lake log protocol, Armbrust et al., VLDB 2020). Layout
# under `path`:
#
#   _log/{n:020d}.json  version n's manifest: the model dir, and each
#                       codes dir mapped to the cells it still serves
#   v{n}-{uuid}/        the output of the verb that made version n —
#                       never renamed or rewritten once written:
#     centroids/        n_cells rows — (cell, vec)             [builds]
#     codebooks/        m·n_codes rows — (subspace, code, vec) [builds]
#     codes/            one row per vector it adds, parquet PARTITIONED
#                       BY cell — (neighbor_id, codes). Cell ==
#                       directory, so a probe's `cell IN (probed)`
#                       filter prunes at the FILE LISTING level: a probe
#                       reads ~n_probe/n_cells of the index bytes.
#
# Model params (n_cells / m / n_codes / dim) are derived from the
# artifacts on read — no metadata to drift. A verb reads ONE version n
# (model and codes from the same manifest), writes its output under a
# fresh v{n+1}-{uuid}/, validates it, and commits by creating
# _log/{n+1} create-exclusive (`_commit`): of two writers on version n
# exactly one create succeeds and the other raises
# `IndexConflictError`. Readers take the newest entry and read only
# what it names, so a crashed or losing writer's files are never read;
# each commit deletes every v{k}-* dir (k ≤ its version) its manifest
# does not name, and every cell directory it no longer serves. Log
# entries are never deleted — a deleted entry would
# let a stale writer's create succeed. At 100 TB the codes table is the
# only corpus-sized artifact (~m bytes/vector), and every verb writes
# only the cells its batch touches.
#
# Every artifact is written and read back with the schemas below, so
# no read-back (probe, merge dedup, validation) launches a
# schema-inference job. Index ids are stored as bigint.

_VEC = T.ArrayType(T.DoubleType())
_CENTROIDS_SCHEMA = T.StructType([
    T.StructField("cell", T.LongType()), T.StructField("vec", _VEC),
])
_CODEBOOKS_SCHEMA = T.StructType([
    T.StructField("subspace", T.IntegerType()),
    T.StructField("code", T.IntegerType()),
    T.StructField("vec", _VEC),
])
#: every ``codes/`` dir; ``cell`` is the partition column.
CODES_SCHEMA = T.StructType([
    T.StructField("neighbor_id", T.LongType()),
    T.StructField("codes", T.ArrayType(T.IntegerType())),
    T.StructField("cell", T.LongType()),
])
_LOG = "_log"


class IndexConflictError(RuntimeError):
    """Another writer committed the version a verb was about to commit.
    The verb's output was discarded and the index serves the other
    writer's version; rerun the verb against it (every verb is
    idempotent or convergent)."""


def _check_index_ids(df: DataFrame) -> None:
    """Refuse ids the bigint ``neighbor_id`` column cannot hold."""
    t = df.schema[ID_COL].dataType
    if not isinstance(t, T.IntegralType):
        raise TypeError(
            f"a persisted IVF-PQ index stores bigint ids; {ID_COL!r} is "
            f"{t.simpleString()}"
        )


def _snapshot(spark, path: str, *, required: bool = True):
    """``(n, manifest)`` of the newest committed version of the index
    at ``path`` — a driver-side listing of ``_log`` plus one small-file
    read, no Spark job. An entry whose bytes are not yet written reads
    as not committed, so the previous version is returned; a writer
    building on it then fails its create at n+1. ``(0, None)`` when
    nothing is committed and ``required`` is False."""
    fs, jpath = _hadoop_fs(spark, path)
    log = jpath(f"{path}/{_LOG}")
    names = (
        [st.getPath().getName() for st in fs.listStatus(log)]
        if fs.exists(log)
        else []
    )
    versions = sorted(
        (int(n[:-5]) for n in names if n.endswith(".json") and n[:-5].isdigit()),
        reverse=True,
    )
    for n in versions:
        stream = fs.open(jpath(f"{path}/{_LOG}/{n:020d}.json"))
        try:
            raw = bytes(
                spark._jvm.org.apache.hadoop.io.IOUtils.readFullyToByteArray(
                    stream
                )
            )
        finally:
            stream.close()
        try:
            return n, json.loads(raw)
        except ValueError:
            continue
    if required:
        raise FileNotFoundError(
            f"no IVF-PQ index at '{path}': no committed version under "
            f"{_LOG}/ — expected an index written by ivfpq_write_index"
        )
    return 0, None


def _served(manifest: dict, drop=(), own: str | None = None, cells=()) -> dict:
    """``manifest`` with the cells in ``drop`` taken from every codes
    entry (an entry left serving nothing goes) and ``own`` added
    serving ``cells`` — the one manifest edit every verb makes."""
    drop = set(drop)
    codes = {
        d: kept
        for d, cs in manifest["codes"].items()
        if (kept := [c for c in cs if c not in drop])
    }
    if cells:
        codes[own] = sorted(int(c) for c in cells)
    return {"model": manifest["model"], "codes": codes}


def _create_exclusive(fs, entry, data: bytes) -> bool:
    """Create the file ``entry`` holding ``data``, or return False when
    it already exists — atomically, on every file system the index
    runs on. Hadoop's ``create(overwrite=false)`` is atomic on HDFS,
    but its local file system checks ``exists()`` and then opens the
    file, so two writers can both pass the check. On ``file:`` paths
    the bytes therefore go to a hidden temp file beside the entry,
    published with one ``link(2)``: the kernel's create-exclusive,
    and a reader never sees a partly written entry."""
    if fs.getUri().getScheme() != "file":
        try:
            out = fs.create(entry, False)
        except Py4JJavaError as e:
            if "FileAlreadyExistsException" not in str(e):
                raise
            return False
        try:
            out.write(bytearray(data))
        finally:
            out.close()
        return True
    final = fs.pathToFile(entry).getPath()
    tmp = os.path.join(os.path.dirname(final), f".{uuid.uuid4().hex}.tmp")
    os.makedirs(os.path.dirname(final), exist_ok=True)
    with open(tmp, "wb") as f:
        f.write(data)
    try:
        os.link(tmp, final)
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)
    return True


def _commit(spark, path: str, n: int, manifest: dict, own: str) -> None:
    """Publish ``manifest`` as version ``n`` by creating
    ``_log/{n:020d}.json`` create-exclusive (``_create_exclusive``).
    When the entry already exists another writer got there first: the
    verb's own dir ``own`` is deleted and :class:`IndexConflictError`
    raised. After the commit, every ``v{k}-*`` dir with k ≤ n that the
    manifest does not name is deleted — superseded data, crashed
    writers' output and losers' output alike — and so is every cell
    directory a named dir no longer serves; a dir with k > n belongs
    to a writer still working on version n and is left alone. No age,
    clock or retention setting is involved.

    The create is atomic on HDFS and on local paths. S3A implements it
    as check-then-create, so two writers racing inside that window can
    both succeed there; see SCALE.md."""
    fs, jpath = _hadoop_fs(spark, path)
    entry = jpath(f"{path}/{_LOG}/{n:020d}.json")
    if not _create_exclusive(fs, entry, json.dumps(manifest).encode("utf-8")):
        fs.delete(jpath(f"{path}/{own}"), True)
        raise IndexConflictError(
            f"version {n} of the index at '{path}' was committed by "
            f"another writer; this verb's output was discarded — rerun "
            f"it against the new version"
        )
    for st in fs.listStatus(jpath(path)):
        name = st.getPath().getName()
        k = re.match(r"v(\d+)-", name)
        if not k or int(k.group(1)) > n:
            continue
        if name != manifest["model"] and name not in manifest["codes"]:
            fs.delete(st.getPath(), True)
            continue
        # a named dir keeps only the cells this version serves from it
        served = set(manifest["codes"].get(name, ()))
        codes = jpath(f"{path}/{name}/codes")
        for cell in fs.listStatus(codes) if fs.exists(codes) else ():
            cn = cell.getPath().getName()
            if cn.startswith("cell=") and int(cn[5:]) not in served:
                fs.delete(cell.getPath(), True)


def _discard(spark, path: str, own: str, msg: str) -> None:
    """Delete a verb's uncommitted dir and fail loudly."""
    fs, jpath = _hadoop_fs(spark, path)
    fs.delete(jpath(f"{path}/{own}"), True)
    raise IOError(f"{msg} — the committed index is unchanged")


def _write_codes(df: DataFrame, codes_dir: str) -> dict:
    """The one codes write: clustered by cell, partitioned by cell, with
    the row count ``n`` and the written ``cells`` observed on the write
    job. Clustering before the partitioned write gives each cell ONE
    file per write instead of one per (task × cell) — what makes
    directory pruning worth having. At larger corpora repartition(n,
    "cell") with n > n_cells keeps write parallelism while preserving
    the clustering."""
    return write_with_metrics(
        df,
        lambda d: d.repartition(F.col("cell"))
        .write.partitionBy("cell")
        .parquet(codes_dir),
        defaults={"n": 0, "cells": []},  # empty plans drop the metrics node
        n=F.count(F.lit(1)),
        cells=F.collect_set("cell"),
    )


def ivfpq_write_index(
    corpus: DataFrame,
    path: str,
    *,
    n_cells: int = 16,
    m: int = 8,
    n_codes: int = 64,
    train_rows: int = TRAIN_ROWS,
) -> dict:
    """Train the IVF-PQ model on ``corpus`` and commit model + encoded
    corpus at ``path`` as a new version that replaces whatever the
    index held. Training is the deterministic bounded-sample Lloyd
    (`_ivfpq_train_model`); encoding is one Arrow pass; the codes land
    partitioned by cell so probes prune directories. Model params are
    not stored separately — ``ivfpq_read_model`` derives them from the
    keyed centroid/codebook rows. The fit sample is HASH-ordered
    (``_sample_normalized`` sample_order="hash"): a persisted index
    gets REBUILT by drift-triggered retrains, and an id-prefix sample
    would train every rebuild on the oldest rows — exactly the rows a
    retrain must not be limited to.

    A rebuild keeps the previous version serving, byte-identical,
    through the whole train + encode: the three artifacts land in the
    new version's own dir, its codes are count-validated by read-back,
    and one log entry then publishes model and codes together, so a
    retrain can never leave new centroids serving old codes. ``corpus``
    may lazily read the index it replaces — the previous version's
    files are deleted only after the commit. Returns ``{"n_indexed",
    "n_cells", "m", "n_codes", "dim"}``."""
    _check_index_ids(corpus)
    spark = corpus.sparkSession
    n0, prior = _snapshot(spark, path, required=False)
    own = f"v{n0 + 1}-{uuid.uuid4().hex}"
    base = f"{path}/{own}"
    C, books = _ivfpq_train_model(
        corpus,
        n_cells=n_cells, m=m, n_codes=n_codes,
        train_rows=train_rows, sample_order="hash",
    )
    dim = len(C[0])
    local_frame(
        spark,
        [(i, [float(x) for x in row]) for i, row in enumerate(C)],
        _CENTROIDS_SCHEMA,
    ).write.parquet(f"{base}/centroids")
    local_frame(
        spark,
        [
            (s, c, [float(x) for x in row])
            for s, book in enumerate(books)
            for c, row in enumerate(book)
        ],
        _CODEBOOKS_SCHEMA,
    ).write.parquet(f"{base}/codebooks")
    # encode exactly once, DIRECTLY into the clustered write: the
    # n_indexed count and the cell list ride the write job
    w = _write_codes(
        _ivfpq_encode(corpus, C, books), f"{base}/codes"
    )
    n = int(w["n"])
    if prior is not None:
        n_staged = scan(spark, f"{base}/codes", schema=CODES_SCHEMA).count()
        if n_staged != n:
            _discard(
                spark, path, own,
                f"rebuild validation failed: wrote {n_staged} rows, "
                f"expected {n}",
            )
    _commit(
        spark, path, n0 + 1,
        _served({"model": own, "codes": {}}, own=own, cells=w["cells"]),
        own,
    )
    return {
        "n_indexed": n, "n_cells": n_cells, "m": m,
        "n_codes": n_codes, "dim": dim,
    }


#: driver-side memo of persisted models, keyed by the version's MODEL
#: DIR — model dirs are immutable, so a key never goes stale and a
#: rebuild (a new model dir) is simply a new key. Bounded to
#: ``MODEL_CACHE_MAX`` entries, least-recently-served evicted first, so
#: a long-lived serving driver touching many indexes (or a bench loop
#: building throwaway temp-dir indexes) stays bounded. Models are
#: KB-scale, so 16 is generous; deployments serving more hot indexes
#: from one driver can raise it.
MODEL_CACHE_MAX = 16
_MODEL_CACHE: OrderedDict[str, tuple] = OrderedDict()
MODEL_CACHE_STATS = {"hits": 0, "misses": 0, "evictions": 0}
#: serializes the get→move_to_end and insert→evict compound ops — a
#: probe on the stream-execution thread and one on the main thread
#: must not interleave an eviction between a hit's lookup and its
#: LRU touch (move_to_end raises KeyError on a just-evicted key).
_MODEL_CACHE_MUTEX = threading.Lock()


def evict_model_cache(path: str) -> None:
    """Drop the cached models of every version of the index at
    ``path`` — temp-dir index builds (gate fixtures, tests) call this
    on teardown so a deleted directory never lingers as a cache
    entry."""
    with _MODEL_CACHE_MUTEX:
        for key in [k for k in _MODEL_CACHE if k.startswith(f"{path}/")]:
            del _MODEL_CACHE[key]


def _model_at(spark, path: str, manifest: dict):
    """The model ``manifest`` names, decoded once per model dir."""
    key = f"{path}/{manifest['model']}"
    with _MODEL_CACHE_MUTEX:
        hit = _MODEL_CACHE.get(key)
        if hit is not None:
            _MODEL_CACHE.move_to_end(key)  # LRU: freshly served
            MODEL_CACHE_STATS["hits"] += 1
            return hit
    cent = scan(spark, f"{key}/centroids", schema=_CENTROIDS_SCHEMA).collect()
    n_cells = len(cent)
    dim = len(cent[0].vec)
    C = np.zeros((n_cells, dim), dtype=np.float64)
    for r in cent:
        C[r.cell] = r.vec
    book_rows = scan(
        spark, f"{key}/codebooks", schema=_CODEBOOKS_SCHEMA
    ).collect()
    m = 1 + max(r.subspace for r in book_rows)
    n_codes = 1 + max(r.code for r in book_rows)
    books = [
        np.zeros((n_codes, dim // m), dtype=np.float64) for _ in range(m)
    ]
    for r in book_rows:
        books[r.subspace][r.code] = r.vec
    meta = {"n_cells": n_cells, "m": m, "n_codes": n_codes, "dim": dim}
    model = (C, books, meta)
    with _MODEL_CACHE_MUTEX:
        MODEL_CACHE_STATS["misses"] += 1
        _MODEL_CACHE[key] = model
        _MODEL_CACHE.move_to_end(key)
        while len(_MODEL_CACHE) > MODEL_CACHE_MAX:  # LRU cap
            _MODEL_CACHE.popitem(last=False)
            MODEL_CACHE_STATS["evictions"] += 1
    return model


def ivfpq_read_model(spark, path: str):
    """Reload the committed model: ``(C, books, meta)`` exactly as
    trained — centroid/codebook rows are keyed, so reconstruction is
    order-independent, and every model parameter (n_cells, m, n_codes,
    dim) is DERIVED from the artifacts themselves rather than stored
    beside them. A bounded model-sized collect (n_cells + m·n_codes
    rows), the same class as the training collect itself, paid once
    per model dir: repeated reads of an unchanged index hit the
    ``MODEL_CACHE_MAX``-entry memo and cost zero jobs. Callers must
    treat the returned arrays as READ-ONLY (every in-repo consumer
    already does — encode/audit copy before mutating)."""
    return _model_at(spark, path, _snapshot(spark, path)[1])


def _codes_at(spark, path: str, manifest: dict) -> DataFrame:
    """The codes ``manifest`` serves: one declared-schema scan per
    codes dir, filtered to the cells that dir still serves. The
    partition filter prunes directories, so a cell a dir no longer
    serves is never listed or read; the union submits no job."""
    parts = [
        scan(spark, f"{path}/{d}/codes", schema=CODES_SCHEMA).filter(
            F.col("cell").isin(cells)
        )
        for d, cells in manifest["codes"].items()
    ]
    if not parts:
        return local_frame(spark, [], CODES_SCHEMA)
    return functools.reduce(DataFrame.unionAll, parts)


def ivfpq_codes(spark, path: str) -> DataFrame:
    """The committed codes table of the index at ``path`` — (neighbor_id
    bigint, codes array<int>, cell bigint), one row per indexed vector.
    Every read of the codes goes through here, so the layout stays this
    module's business. Lazy: the frame reads the files of the version
    committed when it was built, and stays valid until a later commit
    drops those files."""
    return _codes_at(spark, path, _snapshot(spark, path)[1])


def ivfpq_merge_index(
    spark,
    path: str,
    new_vectors: DataFrame,
) -> dict:
    """Incrementally MERGE a batch of vectors into a persisted index:
    encode the batch under the committed model (no retrain — exactly
    how FAISS adds to a trained IVF-PQ), anti-join away ids the index
    already holds, and commit the remainder as a new codes entry for
    the cells it lands in. Idempotent by construction: re-merging the
    same batch adds 0 rows and commits no version, so a retried ingest
    job cannot duplicate the index. Two merges on the same version
    cannot both pass the anti-join either: the second one to commit
    raises :class:`IndexConflictError`.

    Scale shape: the dedup probe reads ONLY the cell partitions the
    batch encodes into (`cell IN (batch cells)` prunes directories —
    never a full-index scan); the batch's cell list (≤ n_cells) and
    dedup stats ride the encode checkpoint job via Observation, and the
    anti-join's row count and cells ride the write, so a merge runs
    three Spark jobs besides AQE stages: encode, write, validation
    read-back. Assumes ids are stable per vector (the encode is
    deterministic, so an unchanged vector always re-lands in its
    original cell and dedups); re-embedding under a CHANGED vector is
    delete+insert maintenance — :func:`ivfpq_reembed` /
    :func:`ivfpq_delete_ids`, the SCD path, not merge. Returns
    ``{"n_batch", "n_added", "n_already", "n_id_conflicts"}`` —
    ``n_id_conflicts`` counts batch ids presented with two DIFFERENT
    vectors (malformed upstream; resolved deterministically, see the
    inline note)."""
    _check_index_ids(new_vectors)
    n0, snap = _snapshot(spark, path)
    C, books, meta = _model_at(spark, path, snap)
    enc = _ivfpq_encode(new_vectors, C, books)
    # Intra-batch id dedup BEFORE the index anti-join: the anti-join
    # only rejects ids the INDEX already holds, so two rows with the
    # same id inside one batch would both survive it and be appended
    # twice, breaking the count==countDistinct completeness invariant.
    # Encode is deterministic per (id, vector), so duplicate ids with
    # an unchanged vector are identical rows and dropping either is
    # exact. A batch carrying the same id with two DIFFERENT vectors is
    # a malformed upstream (that is the delete+reembed SCD path, not
    # merge): the pick is made DETERMINISTIC (max (cell, codes) struct —
    # arrays order lexicographically) so a replayed malformed batch
    # still converges to one on-disk state, and the conflict is
    # COUNTED in the returned stats (``n_id_conflicts``) so the
    # upstream defect is observable instead of silently resolved.
    # n_batch counts the DISTINCT ids presented. ONE materialization
    # job carries the batch stats AND the touched-cell list (≤ n_cells,
    # a bounded collect riding the checkpoint instead of its own job).
    enc, _m = checkpoint_with_metrics(
        enc.groupBy("neighbor_id").agg(
            F.max(F.struct("cell", "codes")).alias("_mx"),
            F.min(F.struct("cell", "codes")).alias("_mn"),
        ),
        n_batch=F.count(F.lit(1)),
        n_conflicts=F.sum((F.col("_mx") != F.col("_mn")).cast("long")),
        cells=F.collect_set(F.col("_mx.cell")),  # the picked cells
    )
    n_batch = int(_m["n_batch"])
    n_conflicts = int(_m["n_conflicts"] or 0)
    batch_cells = list(_m["cells"])
    enc_pick = enc.select(
        "neighbor_id", F.col("_mx.cell").alias("cell"),
        F.col("_mx.codes").alias("codes"),
    )
    existing = (
        _codes_at(spark, path, snap)
        .filter(F.col("cell").isin(batch_cells))
        .select("neighbor_id")
    )
    fresh = enc_pick.join(existing, "neighbor_id", "left_anti")
    # the anti-join materializes exactly ONCE, directly into the new
    # dir's write; its row count and cells ride the same job
    own = f"v{n0 + 1}-{uuid.uuid4().hex}"
    w = _write_codes(fresh, f"{path}/{own}/codes")
    n_added = int(w["n"])
    if n_added:
        n_staged = scan(
            spark, f"{path}/{own}/codes", schema=CODES_SCHEMA
        ).count()
        if n_staged != n_added:
            _discard(
                spark, path, own,
                f"merge validation failed: wrote {n_staged} rows, "
                f"expected {n_added}",
            )
        _commit(
            spark, path, n0 + 1, _served(snap, own=own, cells=w["cells"]), own
        )
    else:
        # empty or all-duplicate batch: commits no version
        fs, jpath = _hadoop_fs(spark, path)
        fs.delete(jpath(f"{path}/{own}"), True)
    # every consumer is done — free the pinned encode eagerly rather
    # than leaving block cleanup to GC (a long-running streaming
    # maintainer would otherwise pin a frame per micro-batch)
    enc.unpersist()
    return {
        "n_batch": n_batch,
        "n_added": n_added,
        "n_already": n_batch - n_added,
        "n_id_conflicts": n_conflicts,
    }


def _entries_per_cell(manifest: dict) -> dict:
    return dict(Counter(c for cs in manifest["codes"].values() for c in cs))


def ivfpq_cell_file_counts(spark, path: str) -> dict:
    """Codes files per cell of the committed index — the FRAGMENTATION
    probe behind auto-compaction
    (streaming/events.py::run_ivfpq_merge_stream). Every verb writes
    one file per cell it touches (`_write_codes` clusters by cell), so
    this is the number of manifest entries serving each cell, counted
    from the manifest alone: no listing of the data files, zero data
    bytes read — which is what lets a streaming maintainer check
    fragmentation after EVERY micro-batch. Returns ``{cell: n_files}``."""
    return _entries_per_cell(_snapshot(spark, path)[1])


def ivfpq_compact_index(spark, path: str) -> dict:
    """Compact merge-fragmented cells back to ONE file per cell — the
    ordinary parquet maintenance an append-based index accumulates
    (each ``ivfpq_merge_index`` adds an entry, and a file, to every
    cell its batch touches, so probe IO per cell grows with merge
    count until compacted).

    Scale shape: fragmented cells are those the manifest serves from
    more than one entry (:func:`ivfpq_cell_file_counts` — no listing,
    no scan); only their rows are read, once, straight into the new
    entry's write, which is count-validated by read-back before the
    commit. Cells served by a single entry are never touched. Probes
    keep reading the previous version until the commit, and both
    versions hold identical rows. Idempotent: a second compaction finds
    nothing fragmented. Returns ``{"n_cells_compacted",
    "n_rows_rewritten"}``."""
    n0, snap = _snapshot(spark, path)
    fragmented = sorted(
        c for c, n in _entries_per_cell(snap).items() if n > 1
    )
    if not fragmented:
        return {"n_cells_compacted": 0, "n_rows_rewritten": 0}
    sub = _codes_at(spark, path, snap).filter(F.col("cell").isin(fragmented))
    own = f"v{n0 + 1}-{uuid.uuid4().hex}"
    w = _write_codes(sub, f"{path}/{own}/codes")
    n_rows = int(w["n"])
    if n_rows == 0:
        _discard(
            spark, path, own,
            f"compact read 0 rows from {len(fragmented)} fragmented cells",
        )
    n_staged = scan(spark, f"{path}/{own}/codes", schema=CODES_SCHEMA).count()
    if n_staged != n_rows:
        _discard(
            spark, path, own,
            f"compact validation failed: wrote {n_staged} rows, "
            f"expected {n_rows}",
        )
    _commit(
        spark, path, n0 + 1,
        _served(snap, drop=fragmented, own=own, cells=w["cells"]), own,
    )
    return {"n_cells_compacted": len(fragmented), "n_rows_rewritten": n_rows}


def ivfpq_delete_ids(
    spark,
    path: str,
    ids,
) -> dict:
    """DELETE vectors from a persisted index by id — the maintenance
    verb merge cannot express (merge only ever adds rows the index
    lacks). ``ids`` is a one-column DataFrame of victim ids or a plain
    Python list. Completes the lifecycle's SCD path: re-embedding a
    CHANGED vector is :func:`ivfpq_reembed` = this + merge.

    Scale shape, stage by stage:

    - LOCATE reads exactly two columns of the codes table — the id
      (parquet column-pruned) and the cell (a partition column, free
      from directory names) — against a broadcast of the victim ids,
      and aggregates to a ≤ n_cells collect. No full-width scan, no
      shuffle of the codes.
    - REWRITE touches only the cells that actually hold victims: their
      survivors are written to the new version's dir, validated by
      read-back, and committed as one entry serving those cells, which
      the commit takes from every older entry.
    - Cells whose every row was deleted get no new rows, so the new
      version serves them from no entry — emptied cells cannot
      resurrect from the older files.

    Idempotent: deleting absent ids commits nothing. Returns
    ``{"n_deleted", "n_cells_rewritten", "n_cells_emptied"}``."""
    n0, snap = _snapshot(spark, path)
    if not isinstance(ids, DataFrame):
        ids = local_frame(spark, [(i,) for i in ids], f"{ID_COL} bigint")
    victims = (
        ids.select(F.col(ids.columns[0]).alias("neighbor_id")).distinct()
    )
    codes = _codes_at(spark, path, snap)
    per_cell = (
        codes.select("neighbor_id", "cell")
        .join(F.broadcast(victims), "neighbor_id")
        .groupBy("cell")
        .agg(F.count("*").alias("_n"))
        .collect()  # ≤ n_cells rows — bounded model-state class
    )
    if not per_cell:
        return {"n_deleted": 0, "n_cells_rewritten": 0, "n_cells_emptied": 0}
    n_deleted = sum(r._n for r in per_cell)
    affected = [r.cell for r in per_cell]
    survivors = (
        codes.filter(F.col("cell").isin(affected))
        .join(F.broadcast(victims), "neighbor_id", "left_anti")
    )
    own = f"v{n0 + 1}-{uuid.uuid4().hex}"
    # the survivor anti-join materializes exactly ONCE, directly into
    # the new dir's write; its row count rides the write job, and the
    # validation read-back folds the count and the kept-cell set into
    # ONE aggregate
    n_survivors = int(_write_codes(survivors, f"{path}/{own}/codes")["n"])
    kept_cells: list = []
    if n_survivors:
        back = (
            scan(spark, f"{path}/{own}/codes", schema=CODES_SCHEMA)
            .agg(
                F.count(F.lit(1)).alias("_n"),
                F.collect_set("cell").alias("_cells"),
            )
            .first()
        )
        if back._n != n_survivors:
            _discard(
                spark, path, own,
                f"delete validation failed: wrote {back._n} rows, "
                f"expected {n_survivors}",
            )
        kept_cells = back._cells
    _commit(
        spark, path, n0 + 1,
        _served(snap, drop=affected, own=own, cells=kept_cells), own,
    )
    return {
        "n_deleted": n_deleted,
        "n_cells_rewritten": len(kept_cells),
        "n_cells_emptied": len(affected) - len(kept_cells),
    }


def ivfpq_drift_audit(
    spark,
    path: str,
    corpus: DataFrame,
    *,
    segment_col=None,
    scope: str = "index",
) -> DataFrame:
    """Measure how far a frozen-quantizer index has DRIFTED from the
    data it serves — the observability half of the retrain-cadence
    knob (SCALE.md names "retrain cadence keyed to merge volume" as
    the production lever; this operator makes that volume-vs-quality
    trade measurable instead of guessed).

    Per segment (``segment_col`` — e.g. trained-at-build vs
    merged-later; a single ``all`` segment when None), computed from
    the PERSISTED artifacts, never a re-encode:

    - ``n_vectors``        index rows the supplied corpus EXPLAINS for
      the segment (the codes⋈corpus match count — segments come from
      the corpus, so only matched rows can carry one). Index rows
      whose id is ABSENT from the corpus are never silently dropped:
      they surface as their own ``__unaudited__`` segment row (count +
      occupancy from the codes alone; ``sum_qerr_micro`` is 0 there —
      no true vector exists to reconstruct against), so a stale or
      incomplete corpus is visible in the output instead of vanishing
      from it. The row is emitted only when such orphans exist;
    - ``n_cells_occupied`` distinct coarse cells used;
    - ``max_cell_count``   the fullest cell — occupancy skew is
      max·n_cells vs total (a drifting distribution piles new vectors
      into few cells, which is exactly what widens probes);
    - ``sum_qerr_micro``   Σ round(1e6·‖unit(x) − x̂‖²) where x̂ =
      C[cell] + concat_s books[s][code_s] — the stored encoding's
      squared reconstruction error, integer-quantized PER ROW before
      the sum so the aggregate is EXACT int64 arithmetic (order-free,
      bit-stable across partitionings — the same trick the graph
      fixed-point operators use for replayable oracles).

    Auditing the STORED codes (not a fresh encode) is the point: a
    stale encoding left behind by a skipped re-embed shows up here as
    segment error inflation, invisible to any re-encode-based check.

    Scale shape: one keyed equi-join of the codes table with the
    corpus on id (both corpus-sized, shuffle on the join key — the
    unavoidable cost of pairing stored codes with true vectors), one
    Arrow decode pass (model rides the closure, same as encode), then
    a two-level hash aggregate to segment·cell and segment rows.
    Output is ≤ segments rows; nothing driver-sized.

    ``scope`` picks which side the audit accounts for. ``"index"``
    (default) audits every index row — the left join + __unaudited__
    story above, the full health check. ``"corpus"`` audits exactly
    the SUPPLIED rows (inner join): the shape for auditing one ingest
    batch — when the corpus frame is batch-sized Spark broadcasts it,
    so the cost is one narrow index scan plus a batch-sized decode, no
    shuffle, no index-sized Python — which is what lets a streaming
    maintainer price a drift check per micro-batch."""
    if scope not in ("index", "corpus"):
        raise ValueError(f"scope must be 'index' or 'corpus', got {scope!r}")
    _, snap = _snapshot(spark, path)
    C, books, meta = _model_at(spark, path, snap)
    m, sub = meta["m"], meta["dim"] // meta["m"]
    B = [np.asarray(b, dtype=np.float64) for b in books]
    Cm = np.asarray(C, dtype=np.float64)

    seg = (
        F.lit("all") if segment_col is None else F.col(segment_col)
    ).cast("string").alias("segment")
    vecs = corpus.select(
        F.col(ID_COL).alias("neighbor_id"), _as_double().alias("_v"),
        seg,
    )
    codes = _codes_at(spark, path, snap)
    # scope="index": LEFT join FROM the codes — every indexed row is
    # accounted for; matched rows audit against their true vector,
    # corpus-orphaned rows fall into the __unaudited__ segment below.
    # scope="corpus": inner join — audit exactly the supplied rows.
    joined = codes.join(
        vecs, "neighbor_id", "left" if scope == "index" else "inner"
    )

    def qerr_gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            cells = pdf["cell"].to_numpy().astype(np.int64)
            matched = pdf["_v"].notna().to_numpy()
            out_seg = pdf["segment"].where(
                matched, "__unaudited__"
            ).to_numpy()
            qerr = np.zeros(len(pdf), dtype=np.int64)
            if matched.any():
                # the encode normalizes; the audit must too
                X = _unit_rows(
                    np.stack(pdf["_v"].to_numpy()[matched]).astype(np.float64)
                )
                mc = cells[matched]
                codes_m = np.stack(
                    pdf["codes"].to_numpy()[matched]
                ).astype(np.int64)
                Xhat = Cm[mc].copy()
                for s in range(m):
                    Xhat[:, s * sub : (s + 1) * sub] += B[s][codes_m[:, s]]
                err = ((X - Xhat) ** 2).sum(axis=1)
                qerr[matched] = np.rint(err * 1e6).astype(np.int64)
            yield pd.DataFrame(
                {
                    "segment": out_seg,
                    "cell": cells,
                    "qerr_micro": qerr,
                }
            )

    scored = joined.mapInPandas(
        qerr_gen, "segment string, cell long, qerr_micro long"
    )
    per_cell = scored.groupBy("segment", "cell").agg(
        F.count("*").alias("_n"), F.sum("qerr_micro").alias("_qe")
    )
    return per_cell.groupBy("segment").agg(
        F.sum("_n").alias("n_vectors"),
        F.count("*").alias("n_cells_occupied"),
        F.max("_n").alias("max_cell_count"),
        F.sum("_qe").alias("sum_qerr_micro"),
    )


def ivfpq_reembed(
    spark,
    path: str,
    changed: DataFrame,
) -> dict:
    """Re-embed under CHANGED vectors — the documented SCD maintenance
    path (see ``ivfpq_merge_index``): merge alone would silently KEEP
    the stale encoding (the anti-join sees the id as already indexed),
    so a changed vector is delete + insert under the frozen model.

    Convergent (state-idempotent): re-running with the same batch
    deletes the rows the previous run inserted and re-inserts
    identical encodings — the served STATE is the same after every
    run, though files are rewritten each time. Each half commits its
    own version, so a reader between the two sees the batch ids
    deleted. Count conservation holds whenever the batch ids were all
    present: n_deleted == n_inserted. Returns ``{"n_batch",
    "n_deleted", "n_inserted"}``."""
    ids = changed.select(F.col(ID_COL)).distinct()
    d = ivfpq_delete_ids(spark, path, ids)
    m = ivfpq_merge_index(spark, path, changed)
    return {
        "n_batch": m["n_batch"],
        "n_deleted": d["n_deleted"],
        "n_inserted": m["n_added"],
    }


def ivfpq_probe_index(
    spark,
    path: str,
    queries: DataFrame,
    corpus: DataFrame,
    *,
    n_probe: int = 4,
    n_rerank: int = 96,
) -> DataFrame:
    """Approximate top-k against a PERSISTED index — same arithmetic as
    ``ivfpq_cosine_topk`` (shared `_ivfpq_query_tables` /
    `_adc_candidates` / `_exact_rerank` stages) but the corpus-sized
    encode pass is GONE: codes stream off parquet, and the probe's
    ``cell IN (probed cells)`` filter prunes unprobed cell directories
    at file-listing time, so a probe reads ~n_probe/n_cells of the
    index bytes. ``corpus`` supplies true vectors for the exact
    re-rank only (candidate-sized equi-join, the deployed-path cost).
    The probed-cell list is a ≤ |queries|·n_probe collect — bounded
    model-build class, same as the training collect. Model and codes
    come from the one version committed when the probe is built."""
    from .dedup import register_pinned

    _, snap = _snapshot(spark, path)
    C, books, meta = _model_at(spark, path, snap)
    # probed cells + join side + rerank qv all consume qtab; the
    # returned frame still references it lazily, so it cannot be freed
    # here — registered with the dedup pin registry instead, so
    # release_pinned()/pinned_scope() reclaims it deterministically
    # once the caller has materialized the result. The probed-cell
    # list (≤ |queries|·n_probe, bounded model-build class) rides the
    # checkpoint job via Observation instead of a second
    # distinct+collect job. Sorted so the pruning
    # filter's literal list is deterministic across runs.
    qtab, _m = checkpoint_with_metrics(
        _ivfpq_query_tables(queries, C, books, n_probe),
        cells=F.collect_set("cell"),
    )
    qtab = register_pinned(qtab)
    probed = sorted(_m["cells"])
    enc = _codes_at(spark, path, snap).filter(
        F.col("cell").isin(probed)  # directory-level pruning
    )
    adc = enc.join(
        F.broadcast(qtab.select("query_id", "cell", "_tab")), "cell"
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    cand = _adc_candidates(
        adc, m=meta["m"], n_codes=meta["n_codes"], n_rerank=n_rerank
    )
    qv = qtab.select("query_id", "_qv").dropDuplicates(["query_id"])
    return _exact_rerank(cand, qv, corpus)


def kmeans_clusters(df: DataFrame) -> DataFrame:
    """MLlib KMeans cluster assignment per vector — (id, cluster), 8
    clusters from seed 7.

    The trained-quantizer upgrade of ``ivf_cosine_topk``'s sampled
    centroids: ``KMeans.fit`` runs ``LLOYD_ITERS`` distributed Lloyd
    iterations from a k-means|| init over the full corpus, then
    ``transform`` assigns cells in one narrow pass. Feature vectors go
    through ``array_to_vector`` — a JVM conversion, no Python. Cluster
    IDS are only stable for a fixed seed+partitioning, so downstream
    queries should aggregate cluster-invariant facts (sizes, purity)
    rather than raw ids."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = df.select(
        F.col(ID_COL),
        array_to_vector(_as_double()).alias("features"),
    )
    model = KMeans(
        k=8, seed=7, maxIter=LLOYD_ITERS, initMode="k-means||"
    ).fit(feat)
    return model.transform(feat).select(
        F.col(ID_COL), F.col("prediction").alias("cluster")
    )


def quantize_int8_stats(df: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 quantization with reconstruction-error
    reporting — the storage-reduction step every embedding index at
    100 TB needs (float32 → int8 is a 4× footprint cut; serving stacks
    quantize per-vector with a max-abs scale exactly like this).

    Per vector: ``scale = max|x| / 127``; ``q_i = clamp(⌊x_i/scale +
    0.5⌋, ±127)`` (explicit floor(+0.5) so both engines round
    identically — no locale/banker's-rounding divergence); rmse over
    the de-quantized vector measures the loss. All element arithmetic
    is double (floats are cast up FIRST, per the registry float rule).

    Scale shape: one narrow pass computes per-vector rmse inside
    whole-stage codegen (``transform``/``aggregate`` higher-order
    functions — zero Python, zero shuffle), then one map-side-combining
    hash agg on the label. All-zero vectors take scale=0 and report
    rmse 0 rather than NaN.

    Returns per label: (grp, n_vecs, avg_rmse, max_rmse) with rmse
    rounded to 6 dp per vector (order-independent within a vector up to
    fp addition order; the per-group avg is the caller's to round).
    """
    df = _spread(df, ID_COL)  # single-file inputs otherwise run ONE task
    v = _as_double()
    dim = F.size(F.col(VEC_COL))
    scale = F.array_max(F.transform(v, F.abs)) / F.lit(127.0)
    q = F.transform(
        v,
        lambda x: F.least(
            F.greatest(F.floor(x / scale + F.lit(0.5)), F.lit(-127.0)),
            F.lit(127.0),
        ),
    )
    sq_err = F.aggregate(
        F.zip_with(v, q, lambda x, qi: (x - qi * scale) * (x - qi * scale)),
        F.lit(0.0),
        lambda acc, e: acc + e,
    )
    rmse = F.when(scale == 0, F.lit(0.0)).otherwise(
        F.round(F.sqrt(sq_err / dim), 6)
    )
    return (
        df.select(F.col(LABEL_COL).alias("grp"), rmse.alias("_rmse"))
        .groupBy("grp")
        .agg(
            F.count("*").alias("n_vecs"),
            F.avg("_rmse").alias("avg_rmse"),
            F.max("_rmse").alias("max_rmse"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    *,
    k: int = 8,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public method): k-means cluster the
    embeddings, connect within-cluster pairs with cosine ≥ SEMDEDUP_THRESHOLD,
    keep ONE representative per connected near-dup component — returns
    (id, cluster, keep boolean) covering every input vector.

    The whole point of the method is that clustering makes the
    quadratic LOCAL: pairs are a per-cluster self-equi-join keyed on
    the cluster id (never a corpus cross join), and k is chosen so
    n/k-sized clusters keep |c|² affordable — at 100 TB you raise k
    with the corpus, exactly as the paper does. Degenerate clusters
    larger than ``MAX_CLUSTER_SIZE`` are excluded from pairing (all
    their members kept) rather than silently exploding — the same
    oversized-block guard as the fuzzy-matching family. Component
    resolution reuses the dedup family's min-label propagation; the
    survivor is the component's smallest id (deterministic given the
    assignment). The fit gives no balance guarantee — callers should
    watch the oversized-cluster signal (the stats query's
    ``no_oversized_clusters_ok`` law) and raise k if it trips, since
    excluded clusters keep all their duplicates. Component propagation
    may run ``CC_MAX_ITER`` rounds — low thresholds build loose
    similarity CHAINS, not near-cliques, so component diameter (=
    required iterations) can far exceed the dup-graph default.
    """
    from .dedup import connected_components

    # DRIVER-SIDE sampled Lloyd, not MLlib (r15 — guide §5, driver
    # round-trips): SemDeDup only needs LOCALITY from the clustering
    # (similar vectors co-located), which is insensitive to both init
    # quality and fit implementation — but MLlib's distributed fit ran
    # ~14 sequential Spark jobs over the TINY bounded sample (one per
    # Lloyd epoch plus init/summary; measured 13 s of the 12 s-class
    # semantic_dedup_stats bench row), pure fixed overhead that does
    # not shrink with cluster size. The fit sample is the SAME
    # deterministic hash-ordered draw as before (coverage-unbiased
    # when ids correlate with ingestion time), collected once — the
    # bounded model-build action class every quantizer here uses —
    # then `_lloyd` runs the 10 Lloyd epochs in numpy and assignment
    # is one Arrow cosine-argmax pass over the full corpus against
    # the L2-normalized centers. One Spark job total where MLlib ran
    # ~15. No RNG: bit-replayable, like the IVF-PQ model fit. The
    # sample is bounded to max(FIT_SAMPLE_ROWS, 32·k) — a FLOOR, since
    # callers scale k with the corpus (SemDeDup's k ∝ n rule): ≥32 fit
    # points per requested center, the sampled-Lloyd minimum, keeping
    # the Θ(epochs·sample·k) fit Θ(epochs·k²), corpus-independent.
    # Assignment stays full-corpus.
    V = _sample_normalized(
        df, max(FIT_SAMPLE_ROWS, 32 * k),
        sample_order="hash",
    )
    C = _unit_rows(np.asarray(_lloyd(V, k, LLOYD_ITERS), dtype=np.float64))
    cents = [list(map(float, row)) for row in C]
    assign = _ivf_tag_arrow(
        df, cents, role="assign"
    ).select(
        F.col("neighbor_id").alias(ID_COL),
        F.col("cell").cast("int").alias("cluster"),
    )
    base = (
        df.select(F.col(ID_COL).alias("_id"), _as_double().alias("_v"))
        .withColumn("_n", _norm(F.col("_v")))
        .join(assign.select(F.col(ID_COL).alias("_id"), "cluster"), "_id")
        .persist()
    )
    try:
        csize = base.groupBy("cluster").agg(F.count("*").alias("_cs"))
        pairable = base.join(
            F.broadcast(
                csize.filter(F.col("_cs") <= MAX_CLUSTER_SIZE).select(
                    "cluster"
                )
            ),
            "cluster",
        )
        a = pairable.select(
            "cluster",
            F.col("_id").alias("id_a"),
            F.col("_v").alias("_va"),
            F.col("_n").alias("_na"),
        )
        b = pairable.select(
            "cluster",
            F.col("_id").alias("id_b"),
            F.col("_v").alias("_vb"),
            F.col("_n").alias("_nb"),
        )
        cos = _safe_cosine(
            _dot(F.col("_va"), F.col("_vb")), F.col("_na"), F.col("_nb")
        )
        pairs = (
            a.join(b, "cluster")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("_cos", cos)
            .filter(F.col("_cos") >= SEMDEDUP_THRESHOLD)
            .select("id_a", "id_b")
        )
        comps = connected_components(pairs, max_iter=CC_MAX_ITER)
        out = (
            base.join(
                comps.withColumnRenamed("id", "_id"), "_id", "left"
            )
            .select(
                F.col("_id").alias(ID_COL),
                "cluster",
                # un-paired vectors have no component row -> kept; paired
                # ones survive iff they ARE their component's min label
                (
                    F.col("comp").isNull()
                    | (F.col("comp") == F.col("_id"))
                ).alias("keep"),
            )
            .localCheckpoint(eager=True)
        )
        # the returned frame IS the checkpoint — register it so
        # release_pinned() can free the blocks once consumed
        from .dedup import register_pinned

        register_pinned(out)
    finally:
        base.unpersist()
    return out


# --------------------------------------------------------------------------
# Cross-encoder-style reranking (the second retrieval stage)
# --------------------------------------------------------------------------


def _ce_weight(d: int) -> float:
    """Deterministic per-dimension reranker weight in [0.5, 1.5) — the
    same splitmix-style plan-time hash family as ``_plane_component``,
    so the "model" ships as code and is bit-replayable."""
    x = (d * 0xD1342543DE82EF95 + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x = ((x >> 29) ^ x) * 0xBF58476D1CE4E5B9 & 0xFFFFFFFFFFFFFFFF
    return 0.5 + ((x >> 20) % 1024) / 1024.0


def crossencoder_score_expr(qv: Column, cv: Column, *, dim: int) -> Column:
    """The reranker forward pass as a pure JVM expression:
    ``score = Σ_d softsign(q_d · c_d · w_d)``, softsign(x) = x/(1+|x|).

    Softsign (not tanh) on purpose: it is plain IEEE-754 arithmetic
    (multiply, add, divide, abs), so this expression and the Arrow
    scorer in :func:`crossencoder_rerank_topk` produce BIT-IDENTICAL
    doubles — the agreement contract between the two independent
    implementations needs no rounding slack. The fold is sequential
    d=0..dim-1, mirrored exactly by the Arrow side's per-dimension
    accumulation loop."""
    wts = F.array(*[F.lit(_ce_weight(d)) for d in range(dim)])
    prod = F.zip_with(qv, cv, lambda x, y: x * y)
    act = F.zip_with(
        prod, wts, lambda p, w: (p * w) / (F.lit(1.0) + F.abs(p * w))
    )
    return F.aggregate(act, F.lit(0.0), lambda acc, x: acc + x)


def crossencoder_rerank_topk(
    candidates: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
) -> DataFrame:
    """Second-stage reranking over a first-stage candidate list — the
    retrieve-then-rerank architecture every production vector-search
    stack runs (bi-encoder ANN recall stage, cross-encoder precision
    stage). ``candidates`` is any (query_id, neighbor_id) frame from a
    first stage (ivfpq_cosine_topk, lsh_cosine_topk, ...); each pair is
    re-scored by the pairwise model and only the top ``TOP_K`` per query
    survive.

    The scoring model here is a deterministic stand-in for a learned
    cross-encoder (no model runtimes in this container — same policy as
    the multimodal decoders): ``Σ_d softsign(q_d·c_d·w_d)`` with
    plan-time hash weights. The PLUMBING is the deliverable and is
    exactly what a real model needs: candidate pairs equi-join the
    corpus on neighbor_id for their true vectors (only candidate
    vectors are ever materialized — the corpus is never rescored),
    query vectors ride a broadcast, scoring runs in Arrow record
    batches (swap the closure for an ONNX/torch forward pass and
    nothing else changes), and the per-query top-k is one window.

    At 100 TB: the rerank cost is |queries|·m pairs (m = candidate
    depth), independent of corpus size — the whole point of the
    two-stage architecture. Output: (query_id, neighbor_id, ce_score
    rounded to 6dp, rank)."""
    qv = queries.select(
        F.col(ID_COL).alias("query_id"), _as_double().alias("_qv")
    )
    cv = corpus.select(
        F.col(ID_COL).alias("neighbor_id"), _as_double().alias("_cv")
    )
    pairs = (
        candidates.select("query_id", "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
    )

    W_np = np.array([_ce_weight(d) for d in range(CE_DIM)], dtype=np.float64)

    @F.pandas_udf("double")
    def _score(q: pd.Series, c: pd.Series) -> pd.Series:
        Q = np.stack(q.to_numpy()).astype(np.float64)
        C = np.stack(c.to_numpy()).astype(np.float64)
        P = Q * C * W_np[None, :]
        S = P / (1.0 + np.abs(P))
        acc = np.zeros(len(Q), dtype=np.float64)
        for d in range(S.shape[1]):
            # sequential per-dimension accumulation — matches the JVM
            # fold's left-to-right order bit-for-bit (numpy's pairwise
            # sum would differ in the last ulp)
            acc = acc + S[:, d]
        return pd.Series(acc)

    scored = pairs.withColumn("_ce", _score(F.col("_qv"), F.col("_cv")))
    w = W.partitionBy("query_id").orderBy(
        F.col("_ce").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("_ce"), 6).alias("ce_score"),
            "rank",
        )
    )
