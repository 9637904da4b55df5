"""Vector scalar functions as Catalyst column expressions.

Semantics match the reference engine (parity citations refer to files
under /root/reference):

- cosine: L2-normalize both sides with an ``eps = 1e-8`` floor on the
  norms, then dot — zero vectors yield score 0, never NaN
  (service/optimized_vector_store.py:31-41, performance/mlx_optimized.py:26-57).
- euclidean: ``sqrt(sum((a-b)^2))`` (service/optimized_vector_store.py:43-48).
- dot_product: raw inner product, no normalization
  (performance/mlx_optimized.py:150-156).
- canonical score<->distance conversions (the reference ships three
  mutually inconsistent variants — SURVEY.md §2.11; we canonicalize to
  the single-query route's rules, api/routes/vectors.py:242-251):
  cosine ``dist = 1 - sim``; euclidean ``sim = 1 / (1 + dist)``;
  dot ``dist = -score``.

Everything here is a pure Column expression built from higher-order
array functions — JVM-side, no Python in the loop, usable inside any
filter/join/window and visible to Catalyst (so predicate pushdown and
column pruning still apply to the surrounding plan). Arithmetic is done
in double precision regardless of the (float32) storage type so results
agree with an independent float64 oracle to ~1e-12.
"""

from __future__ import annotations

import json
from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

#: eps floor applied to L2 norms before division (reference:
#: service/optimized_vector_store.py:36-38).
NORM_EPS = 1e-8

METRICS = ("cosine", "euclidean", "dot_product")


def _as_double(v: Column | str) -> Column:
    col = F.col(v) if isinstance(v, str) else v
    return col.cast("array<double>")


def vector_literal(
    values: Sequence[float] | Sequence[Sequence[float]] | np.ndarray,
) -> Column:
    """A vector as ONE ``array<double>`` literal, or a matrix (one inner
    list per row) as ONE ``array<array<double>>`` literal.

    ``F.lit(list)`` and ``F.array(*[F.lit(x) ...])`` build one py4j
    literal per element: ``dim`` JVM round trips per query vector and
    ``nlist * dim`` per centroid matrix, paid on every plan build. This
    form ships the values as one JSON string; Catalyst constant-folds
    ``from_json`` over a literal, so the optimized plan holds the same
    single folded array literal. Python's shortest round-trip float
    digits and Jackson's ``NaN``/``Infinity`` tokens keep every double
    bit-exact, -0.0 and subnormals included."""
    arr = np.asarray(values)
    if arr.dtype == object:
        raise TypeError("vector literal components must be numbers")
    if arr.ndim not in (1, 2):
        raise ValueError(f"vector literal must be 1-d or 2-d (got {arr.ndim}-d)")
    dtype = "array<double>" if arr.ndim == 1 else "array<array<double>>"
    return F.from_json(F.lit(json.dumps(arr.astype(np.float64).tolist())), dtype)


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Raw inner product ``sum(a_i * b_i)`` in double precision."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    """``sqrt(sum(a_i^2))``."""
    return F.sqrt(
        F.aggregate(_as_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def l2_normalize(a: Column | str, eps: float = NORM_EPS) -> Column:
    """``a / max(||a||, eps)`` — reference performance/mlx_optimized.py:110-125."""
    a = _as_double(a)
    norm = F.greatest(l2_norm(a), F.lit(float(eps)))
    return F.transform(a, lambda x: x / norm)


def cosine_similarity(
    a: Column | str,
    b: Column | str,
    a_norm: Column | None = None,
    b_norm: Column | None = None,
) -> Column:
    """Cosine similarity with the reference's eps-floored norms.

    Pass precomputed ``a_norm`` / ``b_norm`` columns to skip the norm
    recomputation — the store writer materializes ``norm`` at ingest
    (one pass at write time beats N passes at query time; this is the
    Spark analog of the reference pre-normalizing its matrix).
    """
    an = a_norm if a_norm is not None else l2_norm(a)
    bn = b_norm if b_norm is not None else l2_norm(b)
    denom = F.greatest(an, F.lit(NORM_EPS)) * F.greatest(bn, F.lit(NORM_EPS))
    return dot_product(a, b) / denom


def euclidean_distance(a: Column | str, b: Column | str) -> Column:
    """L2 distance ``sqrt(sum((a_i-b_i)^2))``."""
    return F.sqrt(
        F.aggregate(
            F.zip_with(_as_double(a), _as_double(b), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def score_for_metric(
    metric: str,
    a: Column | str,
    b: Column | str,
    a_norm: Column | None = None,
    b_norm: Column | None = None,
) -> Column:
    """The raw per-metric score; higher-is-better for cosine/dot,
    lower-is-better for euclidean (reference sorts accordingly,
    service/optimized_vector_store.py:176-183)."""
    if metric == "cosine":
        return cosine_similarity(a, b, a_norm, b_norm)
    if metric == "euclidean":
        return euclidean_distance(a, b)
    if metric == "dot_product":
        return dot_product(a, b)
    raise ValueError(f"unknown metric {metric!r}; expected one of {METRICS}")


def metric_ascending(metric: str) -> bool:
    """True if smaller raw score is better (euclidean distance)."""
    if metric not in METRICS:
        raise ValueError(f"unknown metric {metric!r}; expected one of {METRICS}")
    return metric == "euclidean"


def similarity_for_metric(metric: str, raw: Column) -> Column:
    """Canonical similarity from a raw score (api/routes/vectors.py:242-251)."""
    if metric == "cosine":
        return raw
    if metric == "euclidean":
        return F.lit(1.0) / (F.lit(1.0) + raw)
    if metric == "dot_product":
        return raw
    raise ValueError(f"unknown metric {metric!r}")


def distance_for_metric(metric: str, raw: Column) -> Column:
    """Canonical distance from a raw score (api/routes/vectors.py:242-251)."""
    if metric == "cosine":
        return F.lit(1.0) - raw
    if metric == "euclidean":
        return raw
    if metric == "dot_product":
        return -raw
    raise ValueError(f"unknown metric {metric!r}")


def quantize_int8(a: Column | str) -> Column:
    """Symmetric per-vector int8 quantization: ``struct(qvec
    array<tinyint>, scale double)`` with ``scale = max|x| / 127``.

    4x storage vs float32 — at 100 TB that is the difference between a
    scan-bound and an IO-comfortable similarity sweep. Zero vectors get
    scale 0 and an all-zero code. Dequantized scores differ from float
    scores by O(scale) per component (see test tolerance); the intended
    use is quantized first-pass scoring + exact re-rank of the top
    candidates (same shape as the ANN over-fetch policy).
    """
    arr = _as_double(a)
    scale = F.array_max(F.transform(arr, lambda x: F.abs(x))) / F.lit(127.0)
    q = F.when(
        scale > 0,
        F.transform(arr, lambda x: F.round(x / scale).cast("tinyint")),
    ).otherwise(F.transform(arr, lambda x: F.lit(0).cast("tinyint")))
    return F.struct(q.alias("qvec"), scale.cast("double").alias("scale"))


def dequantize_int8(q: Column | str) -> Column:
    """Inverse of :func:`quantize_int8`: ``array<double>``."""
    col = F.col(q) if isinstance(q, str) else q
    return F.transform(col["qvec"], lambda x: x.cast("double") * col["scale"])


def register_sql_functions(spark: SparkSession) -> None:
    """Expose the vector functions to SQL text queries.

    The reference has no SQL surface; this is the rebuild's equivalent
    of registering its compiled kernels. Implemented as TEMP FUNCTIONs
    over the same expressions (SQL lambda syntax), so SQL users get the
    identical JVM-side plan — no Python UDF round-trip.
    """
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION vec_dot(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)
        RETURNS DOUBLE
        RETURN aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION vec_norm(a ARRAY<DOUBLE>)
        RETURNS DOUBLE
        RETURN sqrt(aggregate(a, 0.0D, (acc, x) -> acc + x * x))
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION vec_cosine(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)
        RETURNS DOUBLE
        RETURN aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)
               / (greatest(sqrt(aggregate(a, 0.0D, (acc, x) -> acc + x * x)), 1e-8)
                  * greatest(sqrt(aggregate(b, 0.0D, (acc, x) -> acc + x * x)), 1e-8))
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION vec_l2(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>)
        RETURNS DOUBLE
        RETURN sqrt(aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)),
                              0.0D, (acc, x) -> acc + x))
        """
    )
