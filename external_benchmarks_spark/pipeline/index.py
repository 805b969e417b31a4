"""Index build = writing the query-optimized physical layout.

The reference's "Create Index from scratch < 2 hrs on 10M"
(README.md:64) maps in Spark to producing a layout where the benchmark
predicates (README.md:78-83) prune I/O (SURVEY.md §7.5):

- **partitionBy(category col)**: the `main_category == 'Computers'`
  equality prunes whole directories (~96% of data skipped for a 3%
  category).
- **sortWithinPartitions(numeric filter cols)**: parquet row-group
  min/max stats then prune the `average_rating <= X AND
  rating_number > Y` ranges within each partition.
- **float32 embeddings**: halves the dominant column's bytes
  (SURVEY.md §7.4).
- optional **LSH bucket column** (similarity.lsh_bucket_col) as a second
  partition key so ANN probes touch one bucket per partition.

At 100 TB this is a single shuffle (the repartition) + sorted write;
no driver materialization anywhere.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _key_list(partition_col: str | Sequence[str] | None) -> list[str]:
    return [partition_col] if isinstance(partition_col, str) else list(partition_col or [])


def _write_layout(
    out: DataFrame,
    out_path: str,
    partition_keys: Sequence[str],
    sort_cols: Sequence[str],
    emb_col: str | None,
    mode: str,
) -> None:
    """The one layout write: float32 embeddings, one shuffle by the
    partition keys, sorted within partitions, ``partitionBy`` write."""
    if emb_col and emb_col in out.columns:
        out = out.withColumn(emb_col, F.col(emb_col).cast("array<float>"))
    if partition_keys:
        out = out.repartition(*[F.col(c) for c in partition_keys])
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    writer = out.write.mode(mode)
    if partition_keys:
        writer = writer.partitionBy(*partition_keys)
    writer.parquet(out_path)


def build_index_layout(
    df: DataFrame,
    out_path: str,
    partition_col: str | Sequence[str] | None = None,
    sort_cols: Sequence[str] = (),
    emb_col: str | None = "embedding",
    lsh_planes=None,
    fingerprint: str | None = None,
) -> None:
    """Write the query-optimized layout. Pass ``fingerprint`` (a
    pipeline/layout.source_fingerprint of the source — fold the centroid
    digest into its ``extra`` for IVF layouts) to record a marker after
    the completed write, so callers can ``layout_is_current`` and skip
    rebuilds; append_to_index_layout drops the marker up front, making a
    layout that has diverged from its recorded source unreadable-as-
    current rather than silently stale."""
    partition_keys = _key_list(partition_col)
    if lsh_planes is not None:
        from external_benchmarks_spark.operators.similarity import lsh_bucket_udf

        # buckets hash the float32 vectors the layout stores
        df = df.withColumn(
            "lsh_bucket",
            lsh_bucket_udf(lsh_planes)(F.col(emb_col).cast("array<float>")),
        )
        partition_keys.append("lsh_bucket")
    _write_layout(df, out_path, partition_keys, sort_cols, emb_col, "overwrite")
    if fingerprint is not None:
        from external_benchmarks_spark.pipeline.layout import record_layout

        record_layout(out_path, fingerprint)


def append_to_index_layout(
    new_df: DataFrame,
    out_path: str,
    partition_col: str | Sequence[str] | None = None,
    sort_cols: Sequence[str] = (),
    emb_col: str | None = "embedding",
    centroids=None,
    metric: str = "cosine",
) -> None:
    """Delta maintenance for a partitioned index layout: route ONLY the
    new rows to their partitions and append files there — O(delta), no
    read or rewrite of the existing corpus.

    For an IVF layout pass ``centroids`` (the FROZEN matrix the layout
    was built with): cell assignment is a pure function of
    (centroids, row), so a probe against the appended layout is
    bit-identical to one against a full rebuild with the same centroids
    (equivalence-tested in tests/test_pipeline.py). Re-fitting centroids
    is a separate, rarer operation — that IS a rebuild, by design. If
    the layout was built with a recorded fingerprint
    (build_index_layout(..., fingerprint=...)), the append DROPS that
    marker before writing: the layout no longer matches the recorded
    source version, and `layout_is_current` reports False until the
    owner re-records against the new source (or rebuilds), so a stale
    centroid/source mix can't be read as current silently.

    The embedding cast mirrors build_index_layout (float32) so appended
    files carry the identical parquet schema as the originals.

    At 100 TB: upserting a 0.001% delta touches only the delta's cells
    and writes delta-sized files; the existing directory tree is
    untouched (same contract as append_to_inverted_index for the text
    index). Periodically run compact_layout_partitions to fold the
    accumulated small files back to one-per-cell.
    """
    from external_benchmarks_spark.pipeline.layout import invalidate_layout

    invalidate_layout(out_path)
    if centroids is not None and emb_col:
        from external_benchmarks_spark.operators.similarity import ivf_assign

        new_df = ivf_assign(new_df, centroids, emb_col, metric)
    partition_keys = _key_list(partition_col) or (
        ["centroid_id"] if centroids is not None else []
    )
    _write_layout(new_df, out_path, partition_keys, sort_cols, emb_col, "append")


def compact_layout_partitions(
    spark,
    layout_path: str,
    partition_col: str = "centroid_id",
    max_files_per_partition: int = 4,
) -> list[str]:
    """Fold small appended files back to one file per dirty partition.

    Driver-side directory listing finds partitions whose file count
    exceeds the threshold (O(#partitions), no Spark job); only the dirty
    LEAF DIRECTORIES are read (by path — no value decoding, so escaped
    string / float / timestamp partition values behave identically to
    ints) and rewritten into a STAGING directory under the layout root.
    Only after the staging write commits completely does the swap start,
    and the swap is two atomic renames per partition (live → trash,
    staging → live): a crash leaves every partition with either its old
    complete file set, its new complete file set, or — for at most one
    partition, between its two renames — a recoverable `.compacting.`
    trash copy; nothing is deleted before its replacement is in place.
    This replaces the earlier dynamic-partition-overwrite form, whose
    mid-commit failure could drop a cell's old files before the new ones
    landed (and which self-overwrote a path being read). Returns the
    list of compacted partition directory values (decoded).

    Single-writer contract: like the upsert table's writer lease
    (streaming/upsert.py), compaction must not race another writer on
    the same layout — run it from the maintenance job that owns the
    layout. Leftover `_compact_staging` / `.compacting.` entries from a
    crashed run are cleaned up at the start of the next run (trash dirs
    are restored if their live partition vanished, else dropped). Spark
    QUERIES against the layout are safe (they resolve the file list at
    plan time and the commit protocol publishes complete files), but an
    external reader that lists the directory mid-swap (e.g. the serving
    tier) can observe a partition mid-rename — pair compaction with
    serving's signature-based refresh() or use the UpsertTable's
    versioned buckets when readers need snapshot isolation. The layout
    fingerprint marker is untouched: compaction changes the physical
    file set, not the logical contents, and `refresh()`-style directory
    signatures pick up the new file list on their own.
    """
    import os
    import shutil
    from urllib.parse import unquote

    from external_benchmarks_spark.pipeline.layout import (
        recover_partition_swaps,
        swap_partition_dir,
    )

    staging = os.path.join(layout_path, "_compact_staging")
    shutil.rmtree(staging, ignore_errors=True)
    prefix = f"{partition_col}="
    recover_partition_swaps(layout_path)

    dirty_dirs: list[str] = []
    for d in sorted(os.listdir(layout_path)):
        if not d.startswith(prefix):
            continue
        part_dir = os.path.join(layout_path, d)
        n_files = sum(
            1 for f in os.listdir(part_dir) if not f.startswith(("_", "."))
        )
        if n_files > max_files_per_partition:
            dirty_dirs.append(d)
    if not dirty_dirs:
        return []

    # One partition-pruned job over just the dirty leaves; basePath keeps
    # the partition column so the staging write recreates the same
    # directory names.
    df = spark.read.option("basePath", layout_path).parquet(
        *(os.path.join(layout_path, d) for d in dirty_dirs)
    )
    (
        df.repartition(len(dirty_dirs), F.col(partition_col))
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(staging)
    )
    staged = {
        d for d in os.listdir(staging) if d.startswith(prefix)
    }
    missing = [d for d in dirty_dirs if d not in staged]
    if missing:  # abort BEFORE touching live data
        shutil.rmtree(staging, ignore_errors=True)
        raise RuntimeError(
            f"compaction staging did not produce partitions {missing}; "
            "live layout left untouched"
        )
    for d in dirty_dirs:
        swap_partition_dir(layout_path, d, os.path.join(staging, d))
    shutil.rmtree(staging, ignore_errors=True)
    return [unquote(d[len(prefix):]) for d in dirty_dirs]


def zorder_key(col_a, col_b, bits: int = 16):
    """Morton (Z-order) interleave of two non-negative ints — sorting by
    it clusters BOTH dimensions, so parquet row-group min/max stats prune
    2-D predicates (e.g. the reference's rating x review-count templates,
    README.md:80-82) instead of only the primary sort column.

    Pure Catalyst bit math (one expression, codegen-friendly). Values are
    clamped to ``bits`` (caller buckets/offsets real values into that
    range first — for doubles, quantile-bucket then interleave).
    """
    from pyspark.sql import functions as F

    a = F.least(F.greatest(col_a.cast("bigint"), F.lit(0)), F.lit((1 << bits) - 1))
    b = F.least(F.greatest(col_b.cast("bigint"), F.lit(0)), F.lit((1 << bits) - 1))
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        z = (
            z
            + (F.shiftright(a, i) % 2) * F.lit(1 << (2 * i)).cast("bigint")
            + (F.shiftright(b, i) % 2) * F.lit(1 << (2 * i + 1)).cast("bigint")
        )
    return z


def layout_pruning_report(
    path: str, column: str, lo, hi
) -> dict:
    """Row-group pruning audit for a parquet layout: using footer
    min/max statistics alone, how much of the layout a ``[lo, hi]``
    range predicate on ``column`` can skip. This is the design check
    for partitionBy/sortWithinPartitions choices — a layout whose
    row-group stats don't prune is paying full I/O no matter how good
    the plan is (``.explain`` shows the pushed filter; this shows
    whether pushing it HELPS).

    Driver-side footer reads only (O(#files), no Spark job, no data
    pages touched) via pyarrow. Returns totals plus the prunable
    fraction of row groups and rows.
    """
    import os

    import pyarrow.parquet as pq

    files: list[str] = []
    if os.path.isfile(path):
        files = [path]
    else:
        for root, _dirs, names in os.walk(path):
            files += [
                os.path.join(root, f)
                for f in names
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            ]
    total_rg = total_rows = pruned_rg = pruned_rows = no_stats = 0
    for f in sorted(files):
        meta = pq.ParquetFile(f).metadata
        try:
            col_idx = meta.schema.names.index(column)
        except ValueError:
            continue  # partition column lives in the path, not the file
        for i in range(meta.num_row_groups):
            rg = meta.row_group(i)
            total_rg += 1
            total_rows += rg.num_rows
            st = rg.column(col_idx).statistics
            if st is None or not st.has_min_max:
                no_stats += 1
                continue
            if st.min > hi or st.max < lo:
                pruned_rg += 1
                pruned_rows += rg.num_rows
    return {
        "files": len(files),
        "row_groups": total_rg,
        "rows": total_rows,
        "prunable_row_groups": pruned_rg,
        "prunable_rows": pruned_rows,
        "row_groups_without_stats": no_stats,
        "prunable_fraction": round(pruned_rg / total_rg, 4) if total_rg else 0.0,
    }
