"""Pinned schemas + cross-scale schema validation.

The reference asserts schema consistency across its four scale variants
(scripts/generate_benchmark_reports.py:768-775; reports/summary_report.md:42-46).
Here the 17-column product schema (SURVEY.md §1.2) is pinned as an explicit
StructType, and ``validate_schema`` enforces it on any loaded variant —
catching silent drift (e.g. a writer demoting DOUBLE to FLOAT) before it
poisons downstream stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# The reference's 17-column product table (types per
# reports/benchmark_100k/README.md:16-32). Embeddings are pinned float32
# at rest (SURVEY.md §7.4) and cast to double in compute.
PRODUCT_SCHEMA = StructType(
    [
        StructField("parent_asin", StringType()),
        StructField("title", StringType()),
        StructField("description", StringType()),
        StructField("features", StringType()),
        StructField("combined_text", StringType()),
        StructField("average_rating", DoubleType()),
        StructField("rating_number", LongType()),
        StructField("price", DoubleType()),
        StructField("main_category", StringType()),
        StructField("categories", StringType()),
        StructField("store", StringType()),
        StructField("details", StringType()),
        StructField("source_dataset", StringType()),
        StructField("has_price", BooleanType()),
        StructField("rating_tier", StringType()),
        StructField("review_volume", StringType()),
        StructField("embedding", ArrayType(FloatType())),
    ]
)


class SchemaMismatch(ValueError):
    pass


def validate_schema(df: DataFrame, expected: StructType = PRODUCT_SCHEMA) -> None:
    """Raise SchemaMismatch listing every field whose name/type/order
    deviates from the pinned schema (nullability is advisory in parquet
    and is not compared)."""
    problems: list[str] = []
    actual = df.schema.fields
    exp = expected.fields
    actual_by_name = {f.name: f for f in actual}
    for f in exp:
        got = actual_by_name.get(f.name)
        if got is None:
            problems.append(f"missing column: {f.name} ({f.dataType.simpleString()})")
        elif got.dataType != f.dataType:
            problems.append(
                f"type drift: {f.name} is {got.dataType.simpleString()}, "
                f"expected {f.dataType.simpleString()}"
            )
    extra = [f.name for f in actual if f.name not in {e.name for e in exp}]
    if extra:
        problems.append(f"unexpected columns: {extra}")
    if problems:
        raise SchemaMismatch("; ".join(problems))
