"""UMAP / PCA 2-D visualization embedding.

``method="pca"`` (the dependency-free default) is fully distributed: the
Gram matrix accumulates as per-partition d×d partials (one ``mapInPandas``
pass — kilobytes per partition regardless of row count), the 2-component
eigenbasis solves on the driver, and the projection runs as a broadcast
matmul pandas UDF. No vector ever reaches the driver, so this path
survives 100-TB inputs.

``method="umap"`` keeps the reference's semantics (neighbor embeddings are
not distributable): collect the matrix, run ``umap-learn``
(``local_arrow_runner.py:632-645``), re-join on stable row ids.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from ..operators.viz_ops import UMAPVizOp
from .plan import ROW_ID, VALUE, ColumnPlan
from .spark_runner import SparkRunner


def _sign_convention(components: np.ndarray) -> np.ndarray:
    """Deterministic sign: largest-|loading| entry positive per component."""
    for i in range(components.shape[0]):
        j = int(np.argmax(np.abs(components[i])))
        if components[i, j] < 0:
            components[i] = -components[i]
    return components


def _pca_2d(X: np.ndarray) -> np.ndarray:
    """Driver-side reference implementation (kept for tests/parity)."""
    centered = X - X.mean(axis=0)
    _, _, vt = np.linalg.svd(centered, full_matrices=False)
    return centered @ _sign_convention(vt[:2]).T


def _distributed_pca_components(df, name: str):
    """(mean, 2-component basis) from one distributed pass.

    Per-partition partials are CENTERED at the partition's own mean:
    (count, partition mean, Σ(x−μᵢ)(x−μᵢ)ᵀ). The driver merges with the
    standard parallel-scatter formula — total scatter = Σ Sᵢ +
    Σ nᵢ(μᵢ−μ)(μᵢ−μ)ᵀ — which is numerically stable; the naive
    ``E[xxᵀ] − μμᵀ`` form cancels catastrophically when the data's common
    offset dwarfs its spread (e.g. vectors ~1e8 ± 1, where both terms are
    ~1e16 and double precision leaves O(1) error against a true variance
    of 1). Partials are d and d×d arrays — kilobytes per partition for
    embedding dims, regardless of row count."""

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[name]])
            mu = X.mean(axis=0)
            C = X - mu
            yield pd.DataFrame(
                {
                    "n": [len(X)],
                    "m": [mu.tolist()],
                    "sc": [(C.T @ C).ravel().tolist()],
                }
            )

    rows = df.select(name).mapInPandas(
        partials, schema="n long, m array<double>, sc array<double>"
    ).collect()
    if not rows:
        raise ValueError("umap_vis: empty input (no vectors to embed)")
    n = sum(r["n"] for r in rows)
    d = len(rows[0]["m"])
    mean = np.sum(
        [r["n"] * np.asarray(r["m"]) for r in rows], axis=0
    ) / n
    scatter = np.zeros((d, d))
    for r in rows:
        delta = np.asarray(r["m"]) - mean
        scatter += np.asarray(r["sc"]).reshape(d, d) + r["n"] * np.outer(delta, delta)
    eigvals, eigvecs = np.linalg.eigh(scatter / n)  # ascending
    components = _sign_convention(eigvecs[:, ::-1][:, :2].T.copy())
    return mean, components


@SparkRunner.implementation
def umap_vis(runner: SparkRunner, op: UMAPVizOp) -> ColumnPlan:
    col = runner.column_plan(op.input)

    if op.method == "umap":
        try:
            import umap
        except ImportError as exc:
            raise NotImplementedError(
                "umap-learn is not installed; use method='pca' for the "
                "dependency-free fallback"
            ) from exc
        pdf = col.df().toPandas()
        X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[col.name]])
        reducer = umap.UMAP(
            n_components=2,
            n_neighbors=op.n_neighbors,
            min_dist=op.min_dist,
            metric=op.metric,
            random_state=op.random_state,
        )
        coords = reducer.fit_transform(X)
        out_pdf = pd.DataFrame(
            {ROW_ID: pdf[ROW_ID].values, VALUE: [list(map(float, c)) for c in coords]}
        )
        out = runner.spark.createDataFrame(out_pdf)
        return col.derive(F.col(VALUE), source=out)

    # Distributed PCA: stats pass + broadcast projection; vectors stay put.
    # Pinned: the stats collect and the projection job would otherwise
    # each re-run the (possibly expensive) upstream vector pipeline.
    from ..functions.partitioning import pin

    src = pin(col.df())
    mean, components = _distributed_pca_components(src, col.name)
    b_mean = mean.tolist()
    b_comp = components.tolist()

    @F.pandas_udf("array<double>")
    def project(vs: pd.Series) -> pd.Series:
        mu = np.asarray(b_mean)
        comp = np.asarray(b_comp)
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        Y = (X - mu) @ comp.T
        return pd.Series([row.tolist() for row in Y])

    out = src.select(F.col(ROW_ID), project(F.col(col.name)).alias(VALUE))
    return col.derive(F.col(VALUE), source=out)
