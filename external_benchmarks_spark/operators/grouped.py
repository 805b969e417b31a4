"""Grouped Arrow-batch statistics via applyInArrow — the per-category
numpy path of the UDF surface (SURVEY.md §2.8).

The reference computes embedding-geometry statistics with whole-corpus
numpy (reference scripts/generate_benchmark_reports.py:243-274); the
grouped variant is what that becomes on a cluster: groupBy ships each
category's vectors to one executor as Arrow batches, and a numpy kernel
reduces them. Use for statistics that need the group's full matrix at
once (centroids, covariance, spread); for algebraic stats prefer the
pure-SQL forms in operators/stats.py (no Python at all).

Scale: shuffle is one pass keyed by the group column; each group must
fit one executor's memory (fine for per-category stats; for the 41%-hot
Books key, pre-aggregate per partition with mapInArrow and combine, or
salt the group)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from external_benchmarks_spark.functions.vector import arrow_rows

GROUP_EMB_STATS_SCHEMA = StructType(
    [
        StructField("group", LongType()),
        StructField("n_vectors", LongType()),
        StructField("centroid_norm", DoubleType()),
        StructField("mean_norm", DoubleType()),
        StructField("mean_spread", DoubleType()),
    ]
)


def group_embedding_stats(
    df: DataFrame,
    group_col: str = "label",
    emb_col: str = "embedding",
    order_col: str | None = "vec_id",
) -> DataFrame:
    """Per-group embedding geometry: centroid norm, mean vector norm, and
    mean distance-to-centroid (spread). One numpy kernel per group.

    ``order_col`` (when present) fixes each group's row order inside the
    kernel so float summation order — and therefore the result — is
    identical across runs regardless of shuffle arrival order.

    Vectors come through ``functions/vector.arrow_rows`` at the group's
    most common length (the shortest such on a tie). A null vector, a
    null element or another length is left out of every statistic, as
    SQL aggregates skip NULL; a group with no such vector has
    ``n_vectors`` 0 and NULL statistics."""
    schema = to_arrow_schema(GROUP_EMB_STATS_SCHEMA)

    def stats(key: tuple, tbl: pa.Table) -> pa.Table:
        if order_col is not None and order_col in tbl.column_names:
            tbl = tbl.sort_by(order_col)
        emb = tbl.column(emb_col).combine_chunks()
        lens = pc.list_value_length(emb).drop_null().to_numpy()
        mat, ok = arrow_rows(emb, np.bincount(lens).argmax() if len(lens) else 0)
        mat = mat[ok]
        row = [key[0].as_py(), len(mat), None, None, None]
        if len(mat):
            centroid = mat.mean(axis=0)
            norms = np.linalg.norm(mat, axis=1)
            spread = np.linalg.norm(mat - centroid, axis=1)
            row[2:] = [np.linalg.norm(centroid), norms.mean(), spread.mean()]
        return pa.Table.from_pylist([dict(zip(schema.names, row))], schema)

    cols = [group_col, emb_col]
    if order_col is not None and order_col in df.columns:
        cols.append(order_col)
    return (
        df.select(*cols)
        .groupBy(group_col)
        .applyInArrow(stats, GROUP_EMB_STATS_SCHEMA)
    )
