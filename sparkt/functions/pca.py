"""Distributed PCA over embedding columns: single-pass covariance,
driver-side eigendecomposition, codegen projection.

The embedding-compression / whitening step of a vector pipeline
(public design: PCA dimensionality reduction before IVF/PQ indexing,
Jegou et al. 2011; standard covariance-eigh PCA). The distributed work
is ONE pass computing the d×d covariance; the eigendecomposition runs
on the driver over the d×d matrix — model-scale by construction, the
same collect policy as ``similarity.kmeans_fit`` (k×dim model). The
projection is a literal-matrix dot product in whole-stage codegen (no
UDF, no shuffle).

Scale shape of the covariance pass: each row explodes to its
upper-triangle second-moment contributions (d(d+1)/2 structs — CPU
work inherent to covariance) and a map-side-combined groupBy reduces
them to d(d+1)/2 rows total crossing the wire per partition. No step
materializes more than the model. :func:`covariance_table` (the s9
oracle gate) and :func:`pca_fit` share that one moment pass and differ
only in the final aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, GroupedData
from pyspark.sql import functions as F

from sparkt.sources import spread


def _moment_groups(df: DataFrame, vec_col: str, dim: int) -> GroupedData:
    """The moment pass: every row explodes to one ``(i, j, xy, xi, xj)``
    struct per upper-triangle pair ``1 <= i <= j <= dim`` of its first
    ``dim`` components, grouped by ``(i, j)`` for a map-side-combined
    aggregate."""
    pairs = F.expr(
        f"""flatten(transform(sequence(1, {int(dim)}), i ->
              transform(sequence(i, {int(dim)}), j -> struct(
                i AS i, j AS j,
                element_at({vec_col}, i) * element_at({vec_col}, j) AS xy,
                element_at({vec_col}, i) AS xi,
                element_at({vec_col}, j) AS xj))))"""
    )
    ex = spread(df).select(F.explode(pairs).alias("p")).select("p.*")
    return ex.groupBy("i", "j")


def covariance_table(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Upper-triangle population covariance of the first ``dim``
    vector components, exactly ``avg(x_i·x_j) − avg(x_i)·avg(x_j)``
    (the formula the DuckDB oracle mirrors verbatim), rounded at 7dp
    (see the float-contract note below for why not the 4dp default).

    Returns ``i, j, cov`` with ``1 <= i <= j <= dim`` — d(d+1)/2 rows,
    independent of corpus size.

    Float contract: covariances of unit-scale embeddings are O(1e-4),
    so the cross-engine round lands at 7dp (4dp — the cosine contract
    — would round AT the signal scale); ``+ 0.0`` collapses IEEE
    negative zero, which the two engines would otherwise format
    differently ('-0' vs '0')."""
    return _moment_groups(df, vec_col, dim).agg(
        (F.round(F.avg("xy") - F.avg("xi") * F.avg("xj"), 7)
         + F.lit(0.0)).alias("cov")
    )


def pca_fit(df: DataFrame, vec_col: str, dim: int, k: int) -> dict:
    """Fit a ``k``-component PCA: one distributed covariance pass
    (UNROUNDED — rounding is only the oracle gate's cross-engine
    contract), then ``numpy.linalg.eigh`` on the driver over the d×d
    matrix (model-scale collect). Components are sign-normalized
    (largest-|weight| entry positive) so the model is deterministic.

    Returns ``{"mean": [d], "components": [k][d], "variance": [k]}``
    with components ordered by descending eigenvalue."""
    import numpy as np

    rows = _moment_groups(df, vec_col, dim).agg(
        F.avg("xy").alias("exy"),
        F.avg("xi").alias("exi"),
        F.avg("xj").alias("exj"),
    ).collect()  # d(d+1)/2 rows — the model, not the data

    cov = np.zeros((dim, dim))
    mean = np.zeros(dim)
    for r in rows:
        i, j = r["i"] - 1, r["j"] - 1
        c = r["exy"] - r["exi"] * r["exj"]
        cov[i, j] = cov[j, i] = c
        if i == j:
            mean[i] = r["exi"]
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    comps = []
    for idx in order:
        v = vecs[:, idx]
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        comps.append([float(x) for x in v])
    return {
        "mean": [float(x) for x in mean],
        "components": comps,
        "variance": [float(vals[i]) for i in order],
    }


def pca_project(
    df: DataFrame,
    vec_col: str,
    model: dict,
    out_col: str = "pca",
) -> DataFrame:
    """Project vectors onto the fitted components entirely in codegen:
    each score is a literal-weight dot product minus the precomputed
    ``mean·w`` offset — no UDF, no shuffle, one narrow projection."""
    mean = model["mean"]
    scores = []
    for w in model["components"]:
        b = sum(m * wi for m, wi in zip(mean, w))
        dot_w = F.aggregate(
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                F.array(*[F.lit(float(x)) for x in w]),
                lambda x, c: x * c,
            ),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        )
        scores.append(dot_w - F.lit(float(b)))
    return df.withColumn(out_col, F.array(*scores))
