"""Distributed k-means clustering over embedding columns — the
corpus-organization operator a training-data pipeline runs for topic
bucketing, cluster-balanced sampling, and semantic-dedup partitioning
(SemDeDup-style: near-dups are searched within clusters, never across).

Built on the same machinery as the IVF coarse quantizer
(operators/ann.py): Lloyd's k-means on a bounded driver-side sample
(k-means++ init, Arrow transfer), then *assignment as a pure JVM column
expression* — the distributed pass over the full table is a projection,
no Python, no per-iteration Spark jobs.

Scale (100 TB): training cost is capped by ``max_train_rows``
regardless of table size; the full-table work is one map-only
assignment pass plus one groupBy(cluster_id) for stats — a single
shuffle of (int, double) pairs. Inertia is exact over ALL rows (not
the sample), computed from the same literal centroid matrix.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mlx_vector_db_spark.functions.vector import vector_literal
from mlx_vector_db_spark.operators.ann import (
    ASSIGN_ARROW_MIN_K,
    IVFIndex,
    assign_cells_arrow,
    train_ivf,
)

__all__ = ["KMeansModel", "kmeans_fit", "cluster_stats"]


class KMeansModel:
    """Fitted model: centroids on the driver, assignment/distance as
    column expressions. Thin façade over :class:`IVFIndex` so a fitted
    clustering can double as a search index (and vice versa)."""

    def __init__(self, index: IVFIndex):
        self.index = index

    @property
    def k(self) -> int:
        return self.index.nlist

    @property
    def centroids(self) -> np.ndarray:
        return self.index.centroids

    def assign(
        self,
        df: DataFrame,
        dist_col: str | None = "sq_dist",
        method: str = "auto",
    ) -> DataFrame:
        """Add ``cluster_id`` (argmin centroid) and, unless ``dist_col``
        is None, the exact squared L2 distance to the assigned centroid.

        ``method="expr"``: codegen'd expressions over the literal
        centroid matrix — map-only, composes into any plan (pushdown,
        streaming ingest). ``method="arrow"``: one BLAS matmul per
        Arrow batch via ``mapInPandas`` — the documented
        Python-unavoidable path for LARGE k, where the k-term
        expression tree leaves codegen and the per-row interpreted
        argmin dominates (measured ~0.8 ms/row at k=400; the matmul is
        ~1000x that throughput). ``"auto"`` picks arrow at
        k >= ASSIGN_ARROW_MIN_K (the same switch IVFIndex.assign uses,
        so tuning the constant moves both paths together).
        Both paths break score ties toward the larger cluster id."""
        if method not in ("auto", "expr", "arrow"):
            raise ValueError(f"method must be auto|expr|arrow (got {method!r})")
        if method == "auto":
            method = "arrow" if self.k >= ASSIGN_ARROW_MIN_K else "expr"
        if method == "expr":
            out = df.withColumn(
                "cluster_id", self.index.assign_expr().alias("cluster_id")
            )
            if dist_col is not None:
                out = out.withColumn(dist_col, self._sq_dist_expr())
            return out
        return self._assign_arrow(df, dist_col)

    def _assign_arrow(self, df: DataFrame, dist_col: str | None) -> DataFrame:
        # shared with IVFIndex.assign — mapInArrow (zero-copy list
        # buffers), one BLAS matmul per batch, tie-break parity with
        # the expression path
        return assign_cells_arrow(
            df, self.centroids, self.index.vec_col, "cluster_id", dist_col
        )

    def _sq_dist_expr(self) -> Column:
        cmat = vector_literal(self.centroids)
        centroid = F.element_at(cmat, F.col("cluster_id") + 1)
        diff = F.zip_with(
            F.col(self.index.vec_col).cast("array<double>"),
            centroid,
            lambda a, b: (a - b) * (a - b),
        )
        return F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x)

    def to_dict(self) -> dict:
        return self.index.to_dict()

    @classmethod
    def from_dict(cls, d: dict) -> "KMeansModel":
        return cls(IVFIndex.from_dict(d))


def kmeans_fit(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
    max_train_rows: int = 262_144,
) -> KMeansModel:
    """Fit k-means on a bounded sample of ``df`` (see
    :func:`~mlx_vector_db_spark.operators.ann.train_ivf` for why
    sampling IS the scale design). Deterministic for a given seed.

    Goes through ``train_ivf`` (index only): constructing the literal
    assignment expression costs O(k * dim) py4j round-trips, which at
    clustering-scale k (thousands) is minutes of driver wall — the
    assignment happens lazily in :meth:`KMeansModel.assign`, which
    routes large k through the Arrow path anyway."""
    if k < 1:
        raise ValueError(f"k must be >= 1 (got {k})")
    index = train_ivf(
        df, nlist=k, vec_col=vec_col, seed=seed,
        max_iter=max_iter, max_train_rows=max_train_rows,
    )
    return KMeansModel(index)


def cluster_stats(assigned: DataFrame, dist_col: str = "sq_dist") -> DataFrame:
    """Per-cluster rollup of an assigned frame: size, inertia
    contribution (sum of squared distances), and mean squared distance.
    One map-side-combinable shuffle keyed by the int cluster id."""
    return assigned.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("n_points"),
        F.sum(dist_col).alias("inertia"),
        F.avg(dist_col).alias("mean_sq_dist"),
    )
