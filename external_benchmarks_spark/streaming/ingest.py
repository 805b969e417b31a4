"""Streaming twin of the raw-dataset ingest arc: a landing directory
of raw JSONL(.gz) files consumed as micro-batches — each batch runs
the SAME permissive-parse -> quarantine -> normalize -> derive ->
embed -> validate stages as the batch arc (pipeline/ingest.
ingest_products, reference README.md:37-55) and appends to a
partitioned parquet products table; malformed lines append to a
quarantine sink instead of vanishing.

Batch/stream equivalence (the lambda contract the other streaming
operators honor, asserted in tests/test_streaming_ingest.py): every
stage is per-ROW with no cross-batch state, so any micro-batch split
of the same files yields byte-identical product rows to one batch
ingest — the embedding tier included (the hashed-ngram and checkpoint
encoders are deterministic functions of the text).

Scale shape: the file source lists the landing directory
incrementally (checkpointed offsets — restart-safe, each file
processed exactly once); per batch the work is one map-side pass plus
the partitioned append. At 100 TB the landing bucket IS the stream;
compaction of small appended files is the existing layout job
(pipeline/index.compact_layout_partitions).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from external_benchmarks_spark.pipeline.ingest import (
    RAW_META_SCHEMA,
    product_table,
)


def ingest_stream(
    spark: SparkSession,
    raw_dir: str,
    table_dir: str,
    source_dataset: str,
    dim: int = 8,
    ckpt_dir: str | None = None,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
):
    """Start the streaming ingest; returns the StreamingQuery. With
    ``available_now`` (default) it drains the current directory
    contents and stops — the replayable test/backfill form; set it
    False for a long-lived tail of the landing directory."""
    import tempfile
    import uuid

    full = StructType(
        list(RAW_META_SCHEMA.fields) + [StructField("_corrupt", StringType())]
    )
    stream = (
        spark.readStream.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(raw_dir)
    )

    def handle(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df = batch_df.cache()  # corrupt-only projections need a
        # data column alongside; cache sidesteps the Spark caveat
        corrupt = batch_df.filter(F.col("_corrupt").isNotNull())
        if corrupt.limit(1).count():
            corrupt.select("_corrupt").write.mode("append").parquet(
                os.path.join(table_dir, "_quarantine")
            )
        good = batch_df.filter(F.col("_corrupt").isNull()).drop("_corrupt")
        products = product_table(good, source_dataset, dim, ckpt_dir)
        products.write.mode("append").parquet(
            os.path.join(table_dir, "products")
        )
        batch_df.unpersist()

    ckpt = checkpoint_dir or os.path.join(
        tempfile.gettempdir(), f"ebs_ingest_stream_{uuid.uuid4().hex[:8]}"
    )
    writer = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_ingested(spark: SparkSession, table_dir: str) -> DataFrame | None:
    path = os.path.join(table_dir, "products")
    return spark.read.parquet(path) if os.path.exists(path) else None
