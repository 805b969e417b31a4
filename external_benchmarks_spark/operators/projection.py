"""Embedding-space projection for visualization — the reference computes
PCA / t-SNE / UMAP on a bounded sample for its report figures
(reference scripts/generate_benchmark_reports.py:449-478).

Spark mapping (SURVEY.md §2.8):

- PCA runs DISTRIBUTED via MLlib (the covariance accumulates over all
  partitions — works at any scale).
- t-SNE is inherently driver-side: like the reference (which t-SNEs a
  bounded sample with sklearn), ``tsne_project`` samples ≤ ``max_rows``
  rows in Spark (functions/vector.hash_sample, salted by ``seed``), then
  runs an exact numpy implementation of the published algorithm (van
  der Maaten & Hinton, JMLR 2008: binary-search perplexity calibration,
  early exaggeration, momentum gradient descent) — no sklearn
  dependency. O(n²) by design; the sample bound is the
  scale contract.
- UMAP proper needs umap-learn/numba; its slot is covered by
  ``spectral_project`` — Laplacian eigenmaps over the kNN graph of a
  bounded sample (Belkin & Niyogi 2003), the same manifold-graph family
  and the initialization UMAP itself uses. Swap in umap-learn where
  installed.
"""

from __future__ import annotations

import numpy as np
from pyspark.ml.feature import PCA
from pyspark.ml.functions import array_to_vector, vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from external_benchmarks_spark.functions.vector import hash_sample


def pca_project(
    df: DataFrame,
    k: int = 2,
    key_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Project the embedding column to k principal components.

    Output: (key, pc array<double> of length k). Distributed: MLlib's PCA
    computes the Gramian via treeAggregate — no driver materialization of
    rows, only the (dim x dim) covariance (2688^2 doubles ~ 58 MB at the
    reference's dim — fine on a driver).
    """
    vecs = df.select(
        F.col(key_col),
        array_to_vector(F.col(emb_col).cast("array<double>")).alias("_v"),
    )
    model = PCA(k=k, inputCol="_v", outputCol="_pc").fit(vecs)
    return model.transform(vecs).select(
        F.col(key_col), vector_to_array(F.col("_pc")).alias("pc")
    )


def explained_variance(df: DataFrame, k: int = 2, emb_col: str = "embedding") -> list[float]:
    vecs = df.select(array_to_vector(F.col(emb_col).cast("array<double>")).alias("_v"))
    model = PCA(k=k, inputCol="_v", outputCol="_pc").fit(vecs)
    return [float(x) for x in model.explainedVariance]


def _tsne_numpy(
    x: np.ndarray,
    n_components: int = 2,
    perplexity: float = 30.0,
    n_iter: int = 300,
    seed: int = 42,
) -> np.ndarray:
    """Exact t-SNE (van der Maaten & Hinton 2008), pure numpy.

    Pairwise affinities with per-point binary-search calibration to the
    target perplexity, KL-gradient descent with momentum and early
    exaggeration. O(n²) memory/time — callers bound n (tsne_project).
    """
    n = x.shape[0]
    perplexity = min(perplexity, max((n - 1) / 3.0, 2.0))
    # squared euclidean distances
    sum_x = (x * x).sum(axis=1)
    d2 = np.maximum(sum_x[:, None] + sum_x[None, :] - 2.0 * (x @ x.T), 0.0)
    target = np.log(perplexity)
    p = np.zeros((n, n))
    for i in range(n):
        lo, hi, beta = 0.0, np.inf, 1.0
        di = np.delete(d2[i], i)
        for _ in range(50):
            w = np.exp(-di * beta)
            s = w.sum()
            if s <= 1e-12:
                h = 0.0
            else:
                pi = w / s
                h = -(pi * np.log(np.maximum(pi, 1e-12))).sum()
            if abs(h - target) < 1e-5:
                break
            if h > target:
                lo, beta = beta, beta * 2 if hi == np.inf else (beta + hi) / 2
            else:
                hi, beta = beta, (beta + lo) / 2
        w = np.exp(-di * beta)
        pi = w / max(w.sum(), 1e-12)
        p[i, np.arange(n) != i] = pi
    p = (p + p.T) / (2.0 * n)
    p = np.maximum(p, 1e-12)

    rng = np.random.RandomState(seed)
    y = rng.randn(n, n_components) * 1e-4
    dy = np.zeros_like(y)
    for it in range(n_iter):
        exag = 12.0 if it < 100 else 1.0
        momentum = 0.5 if it < 100 else 0.8
        sum_y = (y * y).sum(axis=1)
        num = 1.0 / (1.0 + np.maximum(sum_y[:, None] + sum_y[None, :] - 2.0 * (y @ y.T), 0.0))
        np.fill_diagonal(num, 0.0)
        q = np.maximum(num / num.sum(), 1e-12)
        pq = (exag * p - q) * num
        grad = 4.0 * ((np.diag(pq.sum(axis=1)) - pq) @ y)
        dy = momentum * dy - 200.0 * grad
        y = y + dy
        y = y - y.mean(axis=0)
    return y


def tsne_project(
    df: DataFrame,
    n_components: int = 2,
    perplexity: float = 30.0,
    max_rows: int = 1000,
    n_iter: int = 300,
    key_col: str = "vec_id",
    emb_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """t-SNE of a bounded deterministic sample — the reference's viz
    projection (generate_benchmark_reports.py:460-469, sklearn TSNE on a
    sample) without the sklearn dependency. Spark does the sampling and
    the result redistribution; the O(n²) core runs on ≤ max_rows points
    driver-side, exactly like the reference."""
    spark = df.sparkSession
    keys, x = hash_sample(df, max_rows, key_col, emb_col, salt=str(seed))
    y = _tsne_numpy(x, n_components, perplexity, n_iter, seed)
    out = [(k, [float(v) for v in row]) for k, row in zip(keys, y)]
    return spark.createDataFrame(out, [key_col, "tsne"])


def spectral_project(
    df: DataFrame,
    n_components: int = 2,
    n_neighbors: int = 10,
    max_rows: int = 2000,
    key_col: str = "vec_id",
    emb_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Laplacian-eigenmaps projection of the kNN graph (Belkin & Niyogi
    2003) on a bounded sample — the UMAP-slot manifold projection (UMAP
    initializes from exactly this spectral embedding; the umap-learn
    refinement can be swapped in where installed)."""
    spark = df.sparkSession
    keys, x = hash_sample(df, max_rows, key_col, emb_col, salt=str(seed))
    n = x.shape[0]
    k = min(n_neighbors, n - 1)
    sum_x = (x * x).sum(axis=1)
    d2 = np.maximum(sum_x[:, None] + sum_x[None, :] - 2.0 * (x @ x.T), 0.0)
    np.fill_diagonal(d2, np.inf)
    nbrs = np.argsort(d2, axis=1, kind="stable")[:, :k]
    w = np.zeros((n, n))
    rows = np.repeat(np.arange(n), k)
    w[rows, nbrs.ravel()] = 1.0
    w = np.maximum(w, w.T)  # symmetrize
    deg = w.sum(axis=1)
    d_inv_sqrt = 1.0 / np.sqrt(np.maximum(deg, 1e-12))
    lap = np.eye(n) - (d_inv_sqrt[:, None] * w) * d_inv_sqrt[None, :]
    vals, vecs = np.linalg.eigh(lap)
    # skip the trivial constant eigenvector(s)
    emb = vecs[:, 1 : 1 + n_components]
    out = [(kk, [float(v) for v in row]) for kk, row in zip(keys, emb)]
    return spark.createDataFrame(out, [key_col, "spectral"])


def umap_project(
    df: DataFrame,
    n_components: int = 2,
    n_neighbors: int = 10,
    max_rows: int = 2000,
    key_col: str = "vec_id",
    emb_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """True UMAP (McInnes et al. 2018) on a bounded sample, via the
    optional ``umap-learn`` dependency — the exact reference projection
    (reference scripts/generate_benchmark_reports.py:471-478). Raises
    ImportError with a pointer to ``spectral_project`` (UMAP's own
    spectral initialization, always available) when the dependency is
    absent; tests/test_projection.py carries a skip-marked test so the
    path is exercised wherever umap-learn IS installed."""
    try:
        import umap  # type: ignore
    except ImportError as e:  # pragma: no cover - dep absent in container
        raise ImportError(
            "umap-learn is not installed; use spectral_project (the "
            "Laplacian-eigenmaps initialization UMAP itself starts from)"
        ) from e
    spark = df.sparkSession
    keys, x = hash_sample(df, max_rows, key_col, emb_col, salt=str(seed))
    reducer = umap.UMAP(
        n_components=n_components,
        n_neighbors=min(n_neighbors, max(2, x.shape[0] - 1)),
        random_state=seed,
        init="spectral",
    )
    emb = reducer.fit_transform(x)
    out = [(kk, [float(v) for v in row]) for kk, row in zip(keys, emb)]
    return spark.createDataFrame(out, [key_col, "umap"])
