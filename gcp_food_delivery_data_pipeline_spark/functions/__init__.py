"""Column-expression building blocks (all JVM-side, codegen-friendly)."""

from gcp_food_delivery_data_pipeline_spark.functions.cleaning import (
    strip_one_trailing_colon,
    strip_special_chars,
)
from gcp_food_delivery_data_pipeline_spark.functions.vectors import (
    dot_product,
    l2_norm,
    cosine_similarity,
)

__all__ = [
    "strip_one_trailing_colon",
    "strip_special_chars",
    "dot_product",
    "l2_norm",
    "cosine_similarity",
]
