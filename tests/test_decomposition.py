"""operators/decomposition.py — MLlib PCA fit/project contracts."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from sentiment_analysis_data_engineering_spark.operators.decomposition import (
    pca_fit_project,
)


@pytest.fixture(scope="module")
def planar(spark):
    # 40 points on a noisy 2-D plane inside 6-D space: variance must
    # concentrate in the first two components
    rows = []
    for i in range(40):
        a = math.sin(i * 0.7) * 5.0
        b = math.cos(i * 1.3) * 3.0
        eps = ((i * 2654435761) % 97 - 48) / 9700.0  # tiny deterministic noise
        rows.append(
            (i, [a, b, 0.1 * a + eps, 0.05 * b - eps, eps, -eps])
        )
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_pca_projection_shape_and_variance_accounting(planar):
    proj, info = pca_fit_project(planar, k=3)
    rows = proj.collect()
    assert len(rows) == 40
    assert all(len(r.components) == 3 for r in rows)
    ev = info["explained_variance"]
    assert len(ev) == 3
    assert all(0 < e <= 1 for e in ev)
    assert ev == sorted(ev, reverse=True)
    assert sum(ev) <= 1 + 1e-9
    # planar data: two components carry ~everything
    assert ev[0] + ev[1] > 0.99
    assert info["orthonormal_max_abs_err"] < 1e-8

    # the SQL var_samp of each projected coordinate equals
    # ratio_i * total input variance (the eigensolver-vs-aggregation
    # cross-check the registered query hash-gates)
    pv = proj.agg(
        *[F.var_samp(F.col("components")[i]).alias(f"v{i}") for i in range(3)]
    ).collect()[0]
    tot = planar.agg(
        sum(
            [F.var_samp(F.col("embedding")[d]) for d in range(1, 6)],
            F.var_samp(F.col("embedding")[0]),
        ).alias("t")
    ).collect()[0].t
    for i in range(3):
        assert abs(pv[f"v{i}"] / (ev[i] * tot) - 1) < 1e-9, i


def test_pca_projection_matches_numpy(planar):
    # z = PC^T x row-by-row against numpy using the model's own loading
    # matrix — pins the transform plumbing (vector conversion, ordering)
    proj, info = pca_fit_project(planar, k=2)
    pc = info["pc"]
    X = {r.vec_id: np.array(r.embedding, dtype=np.float64)
         for r in planar.collect()}
    for r in proj.collect():
        want = X[r.vec_id] @ pc
        got = np.array(r.components)
        assert np.allclose(got, want, atol=1e-10), r.vec_id


def test_pca_k_exceeding_rank_still_accounts(planar):
    # k = full dim: ratios must sum to ~1 and reconstruction is exact
    proj, info = pca_fit_project(planar, k=6)
    assert abs(sum(info["explained_variance"]) - 1) < 1e-9
    assert info["orthonormal_max_abs_err"] < 1e-8
