"""KMV (k-minimum-values, "bottom-k theta") distinct sketch — the SET
member of the sketch family. HLL (operators/sketch.py) unions but
cannot intersect; the KMV sketch keeps the k smallest distinct hash
values of a set, and because

    bottomk(A | B) = bottomk(bottomk(A) | bottomk(B))        (union)
    h in A∩B  <=>  h in A_sketch and h in B_sketch           (members)

it supports union, INTERSECTION, and Jaccard between segments — the
"how much does corpus source X overlap corpus source Y" question every
dataset-mixing decision needs, at k rows per segment instead of the
full distinct sets.

Cross-engine exactness: the hash is the first 13 hex chars of md5
(52 bits, so the estimator's (k-1) * 2^52 product stays inside int64),
read identically by Spark ``conv(substring(md5(x), 1, 13), 16, 10)``
and DuckDB ``('0x' || substr(md5(x), 1, 13))::BIGINT`` — same device
family as operators/bloom.py's md5 slices. Estimates are integer
floor divisions of integer products, so every estimate replays exactly
in SQL:

    distinct:     n < k -> n (sketch holds everything: EXACT)
                  else (k-1) * 2^52 // h_k        (h_k = max sketch hash)
    intersection: shared * union_est // n          (shared = hashes in both)
    jaccard_ppm:  shared * 1_000_000 // n

100 TB shape: the sketch build is distinct(group, hash) — map-side
combinable — followed by one PARTITIONED window bottom-k; pairwise
overlap expands each of the G*k sketch rows to its group's pairs via
two broadcast joins against the G^2/2 pair list (G = #segments, tiny
by contract), so the shuffled volume is O(G^2 * k), never corpus-sized
and never a pairwise row comparison.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

KMV_K = 256
KMV_HASH_BITS = 52
_H_SPACE = 1 << KMV_HASH_BITS


def kmv_hash(col: Column) -> Column:
    """52-bit uniform hash: first 13 hex chars of md5, as BIGINT."""
    return F.conv(
        F.substring(F.md5(col.cast("string")), 1, 13), 16, 10
    ).cast("bigint")


def _bottom_k(h: DataFrame, k: int, group_col: str | None) -> DataFrame:
    """Bottom-k of a distinct (group?, _h) frame. Global: orderBy+limit
    (TakeOrderedAndProject — per-partition top-k, no single-partition
    shuffle); grouped: one PARTITIONED window."""
    if group_col is None:
        return h.orderBy("_h").limit(k)
    w = Window.partitionBy(group_col).orderBy("_h")
    return (
        h.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def kmv_sketch(
    df: DataFrame,
    key_col: Column | str,
    k: int = KMV_K,
    group_col: str | None = None,
) -> DataFrame:
    """The bottom-k DISTINCT hash values of ``key_col`` (per group):
    columns (group?, _h). Distinct first — duplicates don't change set
    membership — then per-partition top-k."""
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    keys = [group_col] if group_col else []
    h = df.select(*keys, kmv_hash(key).alias("_h")).distinct()
    return _bottom_k(h, k, group_col)


def kmv_merge(
    a: DataFrame, b: DataFrame, k: int = KMV_K, group_col: str | None = None
) -> DataFrame:
    """Merge two kmv_sketch frames: bottomk(A|B) = bottomk(sketch(A) |
    sketch(B)) — the identity that makes the sketch mergeable (and
    streaming maintenance exact, streaming/kmv.py)."""
    return _bottom_k(a.unionByName(b).distinct(), k, group_col)


def kmv_estimate(
    sketch: DataFrame, k: int = KMV_K, group_col: str | None = None
) -> DataFrame:
    """(group?, n_sketch, est_distinct) from a kmv_sketch frame.
    Integer-exact: est = n if n < k (sketch is the whole set) else
    (k-1) * 2^52 // max_hash."""
    keys = [group_col] if group_col else []
    return (
        sketch.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_sketch"),
            F.max("_h").alias("_hmax"),
        )
        .withColumn(
            "est_distinct",
            F.when(F.col("n_sketch") < k, F.col("n_sketch")).otherwise(
                F.expr(f"CAST({k - 1} AS BIGINT) * {_H_SPACE} div _hmax")
            ),
        )
        .drop("_hmax")
    )


def kmv_pair_overlap(
    sketch: DataFrame, group_col: str, k: int = KMV_K
) -> DataFrame:
    """Pairwise segment overlap from ONE grouped sketch: for every
    unordered group pair (ga < gb), the union sketch's size and max
    hash, the shared-member count, and integer estimates
    (est_union, est_inter, jaccard_ppm). Output: one row per pair.

    The sketch frame (<= G*k rows by contract) is a lazy local
    checkpoint so its lineage — which includes the corpus-sized distinct
    upstream — computes ONCE per call: both the group-list derivation
    and the pair expansion read the checkpointed rows, and the expansion
    is a single broadcast hash join against the unpivoted pair list
    (each sketch row matches the G-1 pairs its group participates in).
    The checkpoint belongs to this call's frame, so no CacheManager entry
    outlives it."""
    sketch = sketch.localCheckpoint(eager=False)
    groups = sketch.select(F.col(group_col).alias("_g")).distinct()
    pairs = (
        groups.select(F.col("_g").alias("_ga"))
        .crossJoin(groups.select(F.col("_g").alias("_gb")))
        .filter(F.col("_ga") < F.col("_gb"))
    )
    # unpivot: one row per (pair, member group), tagged with the side
    pl = (
        pairs.select(
            "_ga", "_gb", F.col("_ga").alias("_g"),
            F.lit(1).alias("_ia"), F.lit(0).alias("_ib"),
        )
        .unionByName(
            pairs.select(
                "_ga", "_gb", F.col("_gb").alias("_g"),
                F.lit(0).alias("_ia"), F.lit(1).alias("_ib"),
            )
        )
    )
    merged = (
        sketch.join(F.broadcast(pl), sketch[group_col] == pl["_g"])
        .groupBy("_ga", "_gb", "_h")
        .agg(F.max("_ia").alias("_ia"), F.max("_ib").alias("_ib"))
    )
    w = Window.partitionBy("_ga", "_gb").orderBy("_h")
    bk = merged.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )
    agg = bk.groupBy("_ga", "_gb").agg(
        F.count(F.lit(1)).alias("n_union"),
        F.max("_h").alias("_hmax"),
        F.sum(F.col("_ia") * F.col("_ib")).alias("shared"),
    )
    est_union = F.when(F.col("n_union") < k, F.col("n_union")).otherwise(
        F.expr(f"CAST({k - 1} AS BIGINT) * {_H_SPACE} div _hmax")
    )
    return (
        agg.withColumn("est_union", est_union)
        .withColumn(
            "est_inter",
            F.expr("shared * est_union div n_union").cast("bigint"),
        )
        .withColumn(
            "jaccard_ppm",
            F.expr("shared * 1000000 div n_union").cast("bigint"),
        )
        .select(
            F.col("_ga").alias("seg_a"),
            F.col("_gb").alias("seg_b"),
            F.col("n_union").cast("bigint").alias("n_union"),
            F.col("shared").cast("bigint").alias("shared"),
            "est_union",
            "est_inter",
            "jaccard_ppm",
        )
    )
