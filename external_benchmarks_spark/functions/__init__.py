"""Scalar function library: vector, text, and hashing primitives.

Each function is exposed as a Catalyst Column expression (JVM-side,
whole-stage-codegen friendly). Vector scoring additionally has one exact
numpy kernel in ``vector.py`` for the hot loop, in top-k, threshold and
fixed-point forms (SURVEY.md §7.4: per-row SQL aggregate() over
2,688-dim arrays is ~100x slower than a batched matmul).
"""

from external_benchmarks_spark.functions.hashing import md5_hash32, md5_hash64  # noqa: F401
from external_benchmarks_spark.functions.vector import (  # noqa: F401
    cosine_similarity,
    dot_product,
    dot_product_literal,
    l2_norm,
)
