"""Distributed Lloyd's k-means with engine-exact integer arithmetic —
the clustering step a curation pipeline runs between embedding and
cluster-blocked operators (SemDeDup blocks, IVF cells, cluster-stratified
sampling), as ITERATED refinement rather than the one-shot hash-sampled
assignment of operators/similarity.ivf_assign.

Cross-engine exactness (the house fixed-point discipline, applied to an
iterative ML algorithm): vectors quantize ONCE to a 1e-6 integer grid
(floor(x * 1e6) per dimension); every distance is an exact BIGINT sum of
squared diffs; assignment argmin breaks ties to the lowest centroid id;
the centroid update is per-dimension TRUNCATING integer division of
integer sums (Spark DIV and DuckDB integer `//` are both
truncation-toward-zero — engine-identical as-is); empty clusters
keep their previous centroid. No float ever enters a decision, so any
SQL engine replays every round bit-for-bit — the DuckDB oracle unrolls
the rounds as CTEs.

Scale shape per round: one broadcast of k centroid vectors (k x dim
BIGINTs), one map-side distance evaluation over a crossJoin with the
TINY centroid table (k rows — Catalyst broadcasts it; vectors never
shuffle for assignment), one argmin aggregate keyed by vector id, and
one (cid, dim)-keyed aggregate for the update — output bounded by
k x dim regardless of corpus size. Centroids live DRIVER-SIDE between
rounds (k x dim BIGINTs — bounded at any corpus size), so each round
is exactly one Spark job (assign + partial-aggregated update,
collected) and lineage stays O(1): no per-round checkpoint or
centroid-collect jobs. Overflow: |x| <= 1 => per-dim diff^2 <= 4e12, x dim(64)
<= 2.6e14 per distance — inertia accumulates in 1e-6-scaled units
(dist DIV 1e6) to stay inside int64 at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000


def quantize_vectors(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """(id, vi): the 1e-6 fixed-point integer form of each vector —
    quantized once, every later stage is pure integer arithmetic."""
    vi = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.floor(x * SCALE).cast("bigint"),
    )
    return df.select(F.col(id_col).alias("vec_id"), vi.alias("vi"))


def _init_rows(vectors: DataFrame, k: int) -> list:
    """k hash-sampled seed centroid arrays (cid = list index) — the
    proven data-derived-constant device (ORDER BY md5(id), id LIMIT k),
    so both engines pick the identical seeds without any RNG.

    Scale shape: ``orderBy(...).limit(k)`` compiles to a distributed
    TakeOrderedAndProject (per-partition top-k merged on the driver), so
    no partition ever holds more than k rows for the seed pick. The k
    surviving rows (k x dim BIGINTs — tiny by contract) are collected
    and cid 0..k-1 is assigned driver-side in the already-total order,
    replacing the former no-partition ``row_number()`` window that
    shuffled the ENTIRE quantized corpus to one reducer just to pick k
    seeds."""
    seeds = (
        vectors.orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(k)
        .select("vi")
        .collect()
    )
    return [list(row["vi"]) for row in seeds]


def kmeans_init(vectors: DataFrame, k: int) -> DataFrame:
    """(cid, ci): the k hash-sampled seeds of :func:`_init_rows` as a
    driver-built DataFrame (the refine loop keeps them as a plain list
    instead — centroids are k x dim bounded at ANY corpus size, so a
    Spark frame + localCheckpoint per round bought nothing but
    scheduler jobs)."""
    spark = vectors.sparkSession
    return spark.createDataFrame(
        [(cid, ci) for cid, ci in enumerate(_init_rows(vectors, k))],
        schema="cid INT, ci ARRAY<BIGINT>",
    )


def _assign(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, vi, cid, dist): exact-integer argmin assignment, ties
    to the lowest centroid id. DataFrame-centroids wrapper around
    :func:`_assign_rows` (the refine loop holds centroids driver-side
    and calls `_assign_rows` directly; this form collects first).
    `_assign_rows` keys centroids by list position, so the table's cids
    must be exactly 0..k-1; anything else raises rather than re-keying."""
    rows = sorted(centroids.collect(), key=lambda r: r["cid"])
    cids = [r["cid"] for r in rows]
    if cids != list(range(len(rows))):
        raise ValueError(f"centroid cids must be exactly 0..k-1, got {cids}")
    return _assign_rows(vectors, [list(r["ci"]) for r in rows])


def _assign_rows(vectors: DataFrame, cents: list) -> DataFrame:
    """(vec_id, vi, cid, dist): exact-integer argmin assignment against
    driver-held centroid arrays (cid = list index), ties to the lowest
    centroid id.

    r15 shape: the centroids are k x dim BIGINTs, so they ride into
    the plan as LITERAL arrays and the argmin is a pure per-row
    expression — `array_min` over k (dist, cid) structs, whose
    struct ordering is exactly the old `min(struct(dist, cid))`
    (lexicographic: dist first, lowest cid on ties). The previous form
    crossJoined the broadcast centroid table and re-grouped by vec_id,
    which shuffled k copies of every quantized vector just to take the
    min — a corpus x k exchange per Lloyd round that this map-only
    form removes outright (guide §2.4; plan: crossJoin + HashAggregate
    + Exchange -> Project, zero Exchange)."""
    if not cents:  # empty input: no centroids, no assignments
        return vectors.select(
            "vec_id",
            "vi",
            F.lit(None).cast("int").alias("cid"),
            F.lit(None).cast("bigint").alias("dist"),
        ).where(F.lit(False))
    # The whole k-way argmin is assembled as ONE SQL string parsed in a
    # single F.expr call: building it from k x dim pyspark Column ops
    # costs hundreds of py4j round-trips and measured ~0.65 s of pure
    # driver time PER ASSIGN at k=8, dim=64 (4 assigns per refine —
    # more than the whole distributed execution). BIGINT literals (L)
    # keep every term int64, identical to the old column form.
    parts = []
    for cid, ci in enumerate(cents):
        arr = ",".join(f"{int(v)}L" for v in ci)
        parts.append(
            "named_struct('dist', aggregate(zip_with(vi, array("
            + arr
            + "), (x, y) -> (x - y) * (x - y)), 0L, (acc, t) -> acc + t), "
            f"'cid', {int(cid)})"
        )
    best = F.expr(f"array_min(array({','.join(parts)}))")
    # Two-step projection ON PURPOSE: extracting both fields from the
    # argmin expression in one select would inline the whole k-way
    # aggregate chain once PER FIELD (measured 2.9x slower); aliasing
    # the struct first evaluates it once per row — CollapseProject
    # keeps the split because the struct is non-cheap and referenced
    # twice.
    scored = vectors.select("vec_id", "vi", best.alias("_b"))
    return scored.select(
        "vec_id",
        "vi",
        F.col("_b.cid").alias("cid"),
        F.col("_b.dist").alias("dist"),
    )


def _update_rows(assigned: DataFrame, cents: list) -> list:
    """New centroid arrays: per-(cid, dim) TRUNCATING integer division
    of integer sums — Spark's DIV and DuckDB's integer `//` share
    truncation-toward-zero semantics exactly (both give -7/2 -> -3),
    so the rule is engine-identical without a sign correction (the DIV
    stays IN Spark precisely for that guarantee; Python's `//` floors).
    Clusters that attracted no vectors keep their previous centroid.

    One job: the (cid, d) partial aggregate collapses map-side, the
    exchange carries at most k x dim rows, and those k x dim BIGINTs
    come straight back to the driver. The former DataFrame form spent
    a second groupBy + array_sort to rebuild arrays and a k-row join
    for the empty-cluster rule, then an eager localCheckpoint job plus
    a collect job in the next round's assign — per-round work that was
    bounded by k x dim anyway and is now one collect (guide §1.2:
    fewer scheduler round-trips; corpus passes unchanged)."""
    per_dim = (
        assigned.select("cid", F.posexplode("vi").alias("d", "x"))
        .groupBy("cid", "d")
        .agg(F.expr("sum(x) DIV count(1)").alias("v"))
        .collect()
    )
    by_cid: dict = {}
    for r in per_dim:
        by_cid.setdefault(r["cid"], {})[r["d"]] = r["v"]
    return [
        [got[d] for d in sorted(got)] if (got := by_cid.get(cid)) else ci
        for cid, ci in enumerate(cents)
    ]


def kmeans_refine(
    df: DataFrame,
    k: int = 8,
    n_iter: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, DataFrame]:
    """Run ``n_iter`` Lloyd rounds; returns (centroids, profile) where
    centroids is (cid, ci) after the final update and profile is the
    per-cluster (cid, n_members, inertia_micro) of a FINAL assignment
    against those centroids (inertia in 1e-6-scaled distance units —
    ``dist DIV 1e6`` per vector — to stay inside int64 at any corpus
    size)."""
    vectors = quantize_vectors(df, vec_col, id_col).localCheckpoint()
    cents = _init_rows(vectors, k)
    for _ in range(n_iter):
        cents = _update_rows(_assign_rows(vectors, cents), cents)
    final = _assign_rows(vectors, cents)
    profile = final.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.expr(f"dist DIV {SCALE}")).alias("inertia_micro"),
    )
    centroids = df.sparkSession.createDataFrame(
        [(cid, ci) for cid, ci in enumerate(cents)],
        schema="cid INT, ci ARRAY<BIGINT>",
    )
    return centroids, profile
