"""PCA over embedding columns: distributed covariance, driver-side
eigensolve, broadcast row-local projection.

The scale split is the classical one (same shape as ``pq.pq_fit`` and
``ivf.kmeans_fit``): everything DATA-sized is a DataFrame aggregate
(the D×D covariance is one scan + a D²-key combinable shuffle, via
``similarity.embedding_covariance``), everything MODEL-sized (the D×D
eigenproblem, D ≤ a few thousand) solves on the driver in numpy, and
the resulting D×C projection broadcasts back as ONE row for a
zero-shuffle codegen projection. The corpus never shuffles to be
projected — at 100 TB the projection is a map-only pass, exactly like
``pq.pq_encode``.

Determinism: eigenvectors are sign-ambiguous (±v are both solutions),
so each component is canonicalized — the coordinate with the largest
absolute value is made positive (ties broken by the lowest index).
numpy's ``eigh`` on the same float64 matrix is deterministic, and the
covariance entries it eats are the 4dp-rounded exact-integer-moment
values from ``embedding_covariance`` — bit-identical across engines
and partitionings, so refits reproduce the same components.

No reference parity: the reference engine has no linear-algebra
surface; this extends the embedding toolkit (whitening, drift
monitoring, dimensionality reduction before ANN) the way the PQ/IVF
family already does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from uk_housing_dashboard_etl_spark.functions.rounding import round4


def pca_fit(
    embeddings: DataFrame,
    n_components: int = 4,
    vec_col: str = "embedding",
) -> DataFrame:
    """Top ``n_components`` principal components of the embedding
    cloud: (component 1-based, eigenvalue, mean array<double>,
    vector array<double>), eigenvalues descending.

    The distributed work is the covariance pass; its D(D+1)/2-row
    result (mart-grain — 2080 rows at D=64, bounded by D² not by
    corpus size) is the ONLY thing collected. The eigensolve is
    numpy ``eigh`` on the symmetrized matrix.
    """
    import numpy as np

    from uk_housing_dashboard_etl_spark.operators.similarity import (
        embedding_covariance,
    )

    rows = embedding_covariance(embeddings, vec_col).collect()
    d = max(r["dim_j"] for r in rows)
    cov = np.zeros((d, d))
    for r in rows:
        i, j = r["dim_i"] - 1, r["dim_j"] - 1
        cov[i, j] = cov[j, i] = r["cov"]
    # per-dimension means: a second D-row aggregate (posexplode +
    # combinable sum — shuffle carries D rows). dmean, not avg: plain
    # avg is summation-order dependent, so a refit under different
    # partitioning could flip a 4th-decimal rounding boundary and break
    # the bit-identical-refit claim (round-6 advice; same integer-unit
    # discipline as embedding_covariance)
    from uk_housing_dashboard_etl_spark.functions.rounding import dmean

    mean = np.zeros(d)
    mean_rows = (
        embeddings.where(F.col(vec_col).isNotNull())
        .select(F.posexplode(vec_col).alias("__pos", "__x"))
        .groupBy("__pos")
        .agg(round4(dmean(F.col("__x").cast("double"))).alias("__m"))
        .collect()
    )
    for r in mean_rows:
        mean[r["__pos"]] = r["__m"]
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:n_components]
    out = []
    for c, idx in enumerate(order, start=1):
        v = vecs[:, idx]
        pivot = int(np.argmax(np.abs(v)))  # lowest index wins ties
        if v[pivot] < 0:
            v = -v
        out.append(
            (
                c,
                float(vals[idx]),
                [float(x) for x in mean],
                [float(x) for x in v],
            )
        )
    return embeddings.sparkSession.createDataFrame(
        out,
        "component int, eigenvalue double, mean array<double>, "
        "vector array<double>",
    )


def pca_project(
    embeddings: DataFrame,
    components: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project every vector onto the fitted components:
    (vec_id, component, score) with score = (x − mean) · v, 4dp.

    The components pack into ONE broadcast row (same trick as
    ``pq._codebook_array``); the projection is a row-local
    explode-over-components dot product inside codegen — the corpus
    never shuffles, scores stream out of the scan stage."""
    packed = components.agg(
        F.array_sort(
            F.collect_list(F.struct("component", "mean", "vector"))
        ).alias("__comps")
    )
    score = F.expr(
        "transform(__comps, c -> struct(c.component AS component,"
        " aggregate(sequence(0, size(c.vector) - 1), CAST(0.0 AS DOUBLE),"
        "  (acc, i) -> acc + (CAST(element_at(__v, i + 1) AS DOUBLE)"
        "   - element_at(c.mean, i + 1)) * element_at(c.vector, i + 1))"
        " AS score))"
    )
    return (
        embeddings.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__v"))
        .crossJoin(F.broadcast(packed))
        .select("vec_id", F.explode(score).alias("__s"))
        .select(
            "vec_id",
            F.col("__s.component").alias("component"),
            round4(F.col("__s.score")).alias("score"),
        )
    )
