from mlx_vector_db_spark.functions.vector import (
    METRICS,
    cosine_similarity,
    distance_for_metric,
    dot_product,
    euclidean_distance,
    l2_norm,
    l2_normalize,
    register_sql_functions,
    score_for_metric,
    similarity_for_metric,
    vector_literal,
)

__all__ = [
    "METRICS",
    "cosine_similarity",
    "distance_for_metric",
    "dot_product",
    "euclidean_distance",
    "l2_norm",
    "l2_normalize",
    "register_sql_functions",
    "score_for_metric",
    "similarity_for_metric",
    "vector_literal",
]
