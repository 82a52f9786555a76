"""Dimensionality reduction over embedding columns (MLlib PCA).

Extension layer (no reference counterpart — the reference is an
Airflow/BigQuery ELT project; this serves the training-data-pipeline
surface alongside ANN/dedup). PCA is the standard pre-step before
large-scale similarity work: project 64-dim (or 768-dim) embeddings
onto the top-k principal directions to cut ANN index size and
bandwidth while keeping most variance.

Spark-first shape — the part that matters at 100 TB:

- The fit is ``pyspark.ml.feature.PCA``: one distributed pass
  computing the Gramian/covariance via ``treeAggregate`` (O(n·d²)
  work spread over executors, d²-sized partial states — d=64 means
  a 4 KB combiner), then a DRIVER-side d×d eigendecomposition —
  the bounded model-build action class (IVF centroids, BPE merge
  table). No per-row Python anywhere.
- The transform is a JVM matrix-vector product per row (MLlib's
  ``PCAModel.transform``) — narrow, no shuffle.
- Model state (the d×k loading matrix, the explained-variance
  ratios) is driver-bounded and ships back into plans as literals,
  same convention as the k-core peel telemetry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import ID_COL, VEC_COL

__all__ = ["pca_fit_project"]


def pca_fit_project(df: DataFrame, *, k: int = 8) -> tuple[DataFrame, dict]:
    """Fit PCA(k) on the embeddings' vector column (array<float|double>)
    and project.

    Returns ``(projected, info)``:

    - ``projected`` — the id column plus ``components`` array<double> of
      length ``k`` (the uncentered projection z = PCᵀx, MLlib
      semantics).
    - ``info`` — driver-side model state: ``explained_variance``
      (list of k ratios of total variance, non-increasing),
      ``pc`` (d×k numpy loading matrix), and
      ``orthonormal_max_abs_err`` = max |PCᵀPC − I|, which a healthy
      eigensolver keeps at ~1e-15 (the plan-time orthonormality
      audit).
    """
    import numpy as np
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector, vector_to_array

    vecs = df.select(
        F.col(ID_COL),
        array_to_vector(
            F.transform(F.col(VEC_COL), lambda x: x.cast("double"))
        ).alias("_features"),
    )
    model = PCA(k=k, inputCol="_features", outputCol="_pca").fit(vecs)

    pc = model.pc.toArray()  # (d, k)
    gram = pc.T @ pc
    info = {
        "explained_variance": [float(v) for v in model.explainedVariance],
        "pc": pc,
        "orthonormal_max_abs_err": float(
            np.abs(gram - np.eye(pc.shape[1])).max()
        ),
    }
    projected = model.transform(vecs).select(
        F.col(ID_COL), vector_to_array(F.col("_pca")).alias("components")
    )
    return projected, info
