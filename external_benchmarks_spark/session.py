"""SparkSession factory with a config profile tuned for this workload.

Design notes (100 TB target, tested on local[32]):

- Arrow on: every pandas-UDF boundary (vector scoring, embedding stub,
  multimodal decode) moves data as Arrow batches, not pickled rows.
- AQE on: runtime coalescing of post-shuffle partitions and skew-join
  splitting. The reference's data is skewed (Books ~= 41% of rows,
  reference reports/summary_report.md:34-38), so skew handling is not
  optional at scale.
- shuffle.partitions defaults to a small number for local test runs and
  should be overridden (or left to AQE) on a real cluster.
- maxPartitionBytes kept at default 128m: with 2,688-dim float embeddings
  (~11 KB/row) one input split holds ~12k rows, a good Arrow batch size.
- parallelPartitionDiscovery.threshold raised from 32 to 8192: the
  cell-partitioned stores (vector store, PQ codes + sidecar) legitimately
  carry O(1000) partition directories at the 10r ladder rung, and every
  fresh spark.read.parquet above the default threshold launches a
  DISTRIBUTED listing job — one task per directory of pure scheduling
  overhead on a local filesystem (measured: the listing job, not the
  pruned scan, was the delta_semdedup 10r bend — ~1400 tasks per rep).
  Driver-side listing of a few thousand local dirs is milliseconds. On a
  real cluster over object storage, revisit per store: distributed
  listing pays off again at much higher directory counts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "external-benchmarks-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with the engine's config profile."""
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for toPandas / createDataFrame(pandas); vector readers take
        # Arrow batches directly (functions/vector.arrow_rows).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # AQE: post-shuffle coalesce + skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Broadcast threshold: dims (region/nation/supplier) always broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Parquet scan: vectorized reader + filter pushdown are defaults;
        # timestamps in testdata are ns — read as micros-truncated timestamps.
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        # Testdata events.ts is parquet TIMESTAMP(NANOS) which Spark rejects;
        # read it as a long (ns since epoch) and let catalog.py derive a
        # microsecond timestamp (ns//1000 — exactly what DuckDB's reader does).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # see module docstring: O(1000)-cell stores list driver-side
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "8192")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_NO_MASTER"):
        builder = builder.master(f"local[{DEFAULT_CPUS}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
